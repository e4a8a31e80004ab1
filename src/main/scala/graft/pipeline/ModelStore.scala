package graft.pipeline

import java.nio.file.Files
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog._
import graft.engine.OlapEngine
import graft.manifest.Version
import graft.model._

/** Trained-model artifacts AS maintained engine tables — the last members
  * of the per-JVM `TrieMap` cache family moved into the engine, completing
  * what rounds 7-8 did for the cluster (q182), CMS (q184), vector (q187)
  * and text (q190) indexes. A model cached in a JVM re-FITS in every new
  * JVM; at 100 TB a BPE training pass or a 50-iteration GD fit is a corpus
  * scan per iteration, which production runs ONCE and then serves from
  * stored artifacts. (Reference anchor: src/index/mod.rs:95-108 — built
  * state is only real when it is stored, consulted AND maintained.)
  *
  * Four tables under `graft_idx`, split by their maintenance algebra:
  *  - `bpe_merges` (Unique, rank → lhs/rhs/merged/pair_count): the learned
  *    merge sequence — 10 rows, model-sized. Training is globally
  *    sequential (each round's counts depend on all prior merges), so the
  *    maintenance story is bootstrap + scheduled re-fit publishing the next
  *    table versions ([[AnnIndex.bootstrap]]'s contract), never a fold.
  *  - `logreg_weights` (Unique, param → w): 4 rows. Same re-fit story —
  *    gradient descent is iterative over the whole corpus.
  *  - `lm_unigram` / `lm_bigram` (Aggregate Sum, word keys → counts): the
  *    bigram LM's sufficient statistics. Counts are stateless per document,
  *    so these DO fold: a new batch's counts Sum-merge through plain MVCC
  *    loads — the q184 Count-Min shape — and merge-on-read (or compaction)
  *    IS the model update. Contract: each batch folds exactly once (a
  *    Sum-merged table is not replay-idempotent — the deliberate trade
  *    documented at [[TextIndex]], which chose pure Unique upserts for the
  *    streaming path; batch loads version each delta, so the fixture and
  *    spec paths are exact).
  *
  * Serve functions read ONLY the tables (no training code on the path), so
  * a fresh engine over the same warehouse serves without re-fitting —
  * `ModelStoreSpec` pins that restart shape, and q193-q195 pin the serves
  * against the SAME oracles as the in-JVM forms (q140/q150/q145): one
  * answer, two derivations.
  */
object ModelStore {

  val Db = "graft_idx"
  val BpeTable = "bpe_merges"
  val LogregTable = "logreg_weights"
  val UniTable = "lm_unigram"
  val BigTable = "lm_bigram"
  /** Fit-time freshness baselines, one row per (model, fit generation) —
    * the [[AnnIndex.FitStatsTable]] analogue for the trained models: BPE
    * stores its training-corpus compression (tokens per word under the
    * learned merges), logreg its training accuracy. [[bpeDriftStatus]] /
    * [[logregDriftStatus]] compare a new batch against the latest baseline
    * and the schedule*Refit triggers fire the re-fit when crossed.
    */
  val FitStatsTable = "model_fit_stats"
  val NMerges = 10

  def createTables(eng: OlapEngine): Unit = {
    eng.createDatabase(Db)
    eng.createTable(TableDef(
      db = Db, name = BpeTable,
      schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("rank", IntegerType),
        ColumnSpec.value("lhs", StringType),
        ColumnSpec.value("rhs", StringType),
        ColumnSpec.value("merged", StringType),
        ColumnSpec.value("pair_count", LongType))),
      bucketColumn = Some("rank"), numBuckets = 1))
    eng.createTable(TableDef(
      db = Db, name = LogregTable,
      schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("param", StringType),
        ColumnSpec.value("w", DoubleType))),
      bucketColumn = Some("param"), numBuckets = 1))
    eng.createTable(TableDef(
      db = Db, name = UniTable,
      schema = TableSchema(KeysType.Aggregate, Seq(
        ColumnSpec.key("w1", StringType),
        ColumnSpec.value("cu", LongType, AggType.Sum))),
      bucketColumn = Some("w1"), numBuckets = 4))
    eng.createTable(TableDef(
      db = Db, name = BigTable,
      schema = TableSchema(KeysType.Aggregate, Seq(
        ColumnSpec.key("w1", StringType),
        ColumnSpec.key("w2", StringType),
        ColumnSpec.value("cb", LongType, AggType.Sum))),
      bucketColumn = Some("w1"), numBuckets = 4))
    eng.createTable(TableDef(
      db = Db, name = FitStatsTable,
      schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("model", StringType),
        ColumnSpec.key("gen", LongType),
        ColumnSpec.value("stat", DoubleType))),
      bucketColumn = Some("model"), numBuckets = 1))
  }

  private def nextV(eng: OlapEngine, table: String): Version = {
    val v = eng.manifest(Db, table).maxVersion + 1
    Version(v, v)
  }

  // --- BPE: bootstrap/re-fit only (training is globally sequential) --------

  /** Train the merge sequence on `documents` and publish it. Re-running on
    * a grown corpus IS the scheduled re-fit: the new sequence lands as the
    * next version of each rank row and Unique merge-on-read serves it
    * atomically (ranks are stable keys — the vocabulary size never shrinks
    * across refits with the same nMerges).
    */
  def bootstrapBpe(eng: OlapEngine, documents: DataFrame,
                   nMerges: Int = NMerges): Unit = {
    val spark = eng.spark
    import spark.implicits._
    val merges = Corpus.bpeMergesOf(documents, nMerges).localCheckpoint(true)
    val v = nextV(eng, BpeTable)
    eng.ingest(Db, BpeTable, merges, Some(v))
    // freshness baseline: the training corpus's compression under its OWN
    // merges (tokens per word). New text the merges don't compress scores
    // higher — the vocabulary-drift signal bpeDriftStatus reads
    val pairs = merges.collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val st = Corpus.tokenizeWithMerges(documents, pairs)
      .agg((sum(col("n_tokens")).cast("double") /
        sum(col("n_words")).cast("double")).as("r")).head()
    eng.ingest(Db, FitStatsTable,
      Seq(("bpe", v.start, st.getDouble(0))).toDF("model", "gen", "stat"),
      Some(nextV(eng, FitStatsTable)))
  }

  private def latestFitStat(eng: OlapEngine, model: String): (Long, Double) = {
    val r = eng.scan(Db, FitStatsTable).filter(col("model") === model)
      .orderBy(col("gen").desc).head()
    (r.getAs[Long]("gen"), r.getAs[Double]("stat"))
  }

  /** Compression of `batch` under the STORED merges vs the fit baseline:
    * ratio ≈ 1 means the vocabulary still fits the data; a climbing ratio
    * means new text the merges cannot compress — the tokens-per-word
    * inflation a stale tokenizer vocabulary causes downstream.
    */
  def bpeDriftStatus(eng: OlapEngine, batch: DataFrame): ModelDrift = {
    val (gen, fitRatio) = latestFitStat(eng, "bpe")
    val st = bpeTokenizeFromTable(eng, batch)
      .agg((sum(col("n_tokens")).cast("double") /
        sum(col("n_words")).cast("double")).as("r")).head()
    ModelDrift("bpe", gen, fitRatio, st.getDouble(0), st.getDouble(0) / fitRatio)
  }

  final case class ModelDrift(model: String, gen: Long, fitStat: Double,
                              batchStat: Double, ratio: Double)

  /** Re-fit trigger for the BPE vocabulary (the [[AnnIndex.scheduleRefit]]
    * analogue): re-train on the accumulated corpus when a batch's
    * compression ratio inflates past `maxRatio` × the fit baseline.
    */
  def scheduleBpeRefit(eng: OlapEngine, corpus: DataFrame, batch: DataFrame,
                       maxRatio: Double = 1.3,
                       nMerges: Int = NMerges): (ModelDrift, Boolean) = {
    val st = bpeDriftStatus(eng, batch)
    val fire = st.ratio >= maxRatio
    if (fire) bootstrapBpe(eng, corpus, nMerges)
    (st, fire)
  }

  /** BPE tokenization SERVED from the stored merge table: collect the
    * model (nMerges rows), compile the same literal-regexp chain the
    * in-JVM form uses, stream the corpus through it. No training runs.
    */
  def bpeTokenizeFromTable(eng: OlapEngine, documents: DataFrame): DataFrame = {
    val merges = eng.scan(Db, BpeTable).collect()
      .sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs")))
    Corpus.tokenizeWithMerges(documents, merges.toSeq)
  }

  // --- logreg: bootstrap/re-fit only (iterative GD) -------------------------

  /** Fit the quality classifier ([[Trainer.fit]]'s exact loop) and publish
    * the weights. Same re-fit-as-next-version contract as BPE.
    */
  def bootstrapLogreg(eng: OlapEngine, documents: DataFrame): Unit = {
    val spark = eng.spark
    import spark.implicits._
    val features = Trainer.logregFeaturesOf(documents).cache()
    val (w, acc) =
      try {
        val w = Trainer.fit(features, Trainer.Iters, Trainer.Lr)
        (w, accuracyOf(features, w))
      } finally features.unpersist()
    val v = nextV(eng, LogregTable)
    eng.ingest(Db, LogregTable,
      Seq(("w1", w(0)), ("w2", w(1)), ("w3", w(2)), ("bias", w(3)))
        .toDF("param", "w"),
      Some(v))
    // freshness baseline: training-set accuracy of this fit generation
    eng.ingest(Db, FitStatsTable,
      Seq(("logreg", v.start, acc)).toDF("model", "gen", "stat"),
      Some(nextV(eng, FitStatsTable)))
  }

  private def accuracyOf(features: DataFrame, w: Array[Double]): Double = {
    val z = col("x1") * w(0) + col("x2") * w(1) + col("x3") * w(2) + lit(w(3))
    features
      .agg(avg(when((z > 0) === (col("y") > 0.5), 1.0).otherwise(0.0)))
      .head().getDouble(0)
  }

  private def storedWeights(eng: OlapEngine): Array[Double] = {
    val stored = eng.scan(Db, LogregTable).collect()
      .map(r => r.getAs[String]("param") -> r.getAs[Double]("w")).toMap
    Array(stored("w1"), stored("w2"), stored("w3"), stored("bias"))
  }

  /** Accuracy of the STORED weights on `batch` vs the fit baseline: a
    * dropping ratio means the feature→label relationship shifted since the
    * fit — the classifier-rot signal.
    */
  def logregDriftStatus(eng: OlapEngine, batch: DataFrame): ModelDrift = {
    val (gen, fitAcc) = latestFitStat(eng, "logreg")
    val acc = accuracyOf(Trainer.logregFeaturesOf(batch), storedWeights(eng))
    ModelDrift("logreg", gen, fitAcc, acc, acc / fitAcc)
  }

  /** Re-fit trigger for the quality classifier: re-train on the accumulated
    * corpus when a batch's accuracy under the stored weights falls below
    * `minRatio` × the fit baseline.
    */
  def scheduleLogregRefit(eng: OlapEngine, corpus: DataFrame, batch: DataFrame,
                          minRatio: Double = 0.8): (ModelDrift, Boolean) = {
    val st = logregDriftStatus(eng, batch)
    val fire = st.ratio <= minRatio
    if (fire) bootstrapLogreg(eng, corpus)
    (st, fire)
  }

  /** q145's audit verdict SERVED from the stored weights: scoring is one
    * aggregate scan with the 4 stored doubles inlined — training never
    * runs. Emits the identical row shape q145 pins, so the shared oracle
    * certifies the weight round-trip AND the scorer.
    */
  def logregQualityFromTable(eng: OlapEngine, documents: DataFrame): DataFrame = {
    val w = storedWeights(eng)
    val acc = accuracyOf(Trainer.logregFeaturesOf(documents), w)
    documents
      .agg(count(lit(1)).as("n_train"))
      .select(lit("logreg_quality").as("metric"), col("n_train"),
        lit(Trainer.Iters).as("iters"), lit(acc >= 0.85).as("acc_ge_085"),
        lit(w(0) > 0).as("w_len_pos"))
  }

  // --- bigram LM: true incremental fold (Sum-merged count tables) -----------

  /** q140's exact tokenization/bigram expressions — the fold and the serve
    * must be formula-identical to the in-JVM model build.
    */
  private def withBigrams(documents: DataFrame): DataFrame = {
    // reuses a pre-split `toks` column when the caller serves one (the
    // cached TokenizedCorpus — same normalization by construction), else
    // splits inline exactly as before
    val ws = graft.pipeline.TokenizedCorpus.tokensOrSplit(documents)
    documents.select(col("doc_id"),
      zip_with(slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2"))).as("bg"),
      ws.as("ws"))
  }

  /** Fold one document batch's LM counts in. Stateless per document, so
    * any batching Sum-merges to the full-corpus counts exactly; each batch
    * must fold exactly once (Sum tables are not replay-idempotent).
    */
  def lmFold(eng: OlapEngine, delta: DataFrame): Unit = {
    if (delta.isEmpty) return // an empty batch publishes nothing
    val d = withBigrams(delta).localCheckpoint(true) // one tokenize, two aggs
    // one load group: the perplexity serve reads BOTH count tables, so the
    // unigram and bigram counts of a batch must become visible together
    val g = eng.newLoadGroup()
    eng.ingest(Db, UniTable,
      d.select(explode(col("ws")).as("w1"))
        .groupBy(col("w1")).agg(count(lit(1)).as("cu")),
      Some(nextV(eng, UniTable)), group = Some(g))
    eng.ingest(Db, BigTable,
      d.select(explode(col("bg")).as("b"))
        .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("cb")),
      Some(nextV(eng, BigTable)), group = Some(g))
    eng.commitGroup(g)
  }

  /** Exactly-once STREAMING fold for the Sum-merged LM tables. The other
    * streaming index folds (cluster q183, ANN q189, text q191) get replay
    * safety free — their stored rows are Unique upserts, so a replayed
    * micro-batch rewrites identical rows — but a Sum-merged count table
    * would DOUBLE-COUNT a replay. Two mechanisms compose:
    *  - exactly-once: each table's rowset id derives deterministically from
    *    the batch id ([[graft.streaming.StreamIngest]]'s pattern), so a
    *    replayed COMMITTED batch hits the manifest's duplicate check and
    *    skips;
    *  - atomicity: both tables stage under one load group and land in one
    *    commit, so no reader sees a batch's unigrams without its bigrams.
    * Replay of a batch that crashed MID-STAGE (group never committed) first
    * reaps the stale stage — its rowset ids must be freed before the
    * deterministic ids can publish again — then refolds; a batch that
    * crashed AFTER the ledger commit self-healed to visible at engine
    * restart, so the duplicate check skips it. Every crash point converges
    * to exactly-once, now with no window where half the batch serves.
    */
  def lmFoldBatch(eng: OlapEngine, batch: DataFrame, batchId: Long,
                  ridBase: Long = 1000000L): Unit = {
    if (batch.isEmpty) return
    val rid = ridBase + batchId
    // reap a mid-stage crash's leftovers (uncommitted by construction: a
    // committed group's rowsets are never pending after restart)
    Seq(UniTable, BigTable)
      .flatMap(t => eng.manifest(Db, t).allRowsets
        .filter(r => r.rowsetId == rid && r.isPending)
        .flatMap(_.pendingGroup))
      .distinct.foreach(eng.abortGroup)
    def landed(table: String): Boolean =
      eng.manifest(Db, table).allRowsets.exists(r => r.rowsetId == rid && !r.isPending)
    if (landed(UniTable) && landed(BigTable)) return // committed replay
    lazy val d = withBigrams(batch).localCheckpoint(true)
    def uniCounts = d.select(explode(col("ws")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    def bigCounts = d.select(explode(col("bg")).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("cb"))
    if (landed(UniTable) || landed(BigTable)) {
      // legacy partial publish (pre-group writers could crash between the
      // two table commits): heal by folding ONLY the missing table, at the
      // same deterministic id, exactly as before
      if (!landed(UniTable))
        eng.ingest(Db, UniTable, uniCounts,
          Some(nextV(eng, UniTable)), explicitRowsetId = Some(rid))
      if (!landed(BigTable))
        eng.ingest(Db, BigTable, bigCounts,
          Some(nextV(eng, BigTable)), explicitRowsetId = Some(rid))
    } else {
      val g = eng.newLoadGroup()
      eng.ingest(Db, UniTable, uniCounts,
        Some(nextV(eng, UniTable)), explicitRowsetId = Some(rid), group = Some(g))
      eng.ingest(Db, BigTable, bigCounts,
        Some(nextV(eng, BigTable)), explicitRowsetId = Some(rid), group = Some(g))
      eng.commitGroup(g)
    }
  }

  /** q140's perplexity-filter score SERVED from the Sum-merged count
    * tables: identical per-bigram add-one-smoothed log-probability math
    * (round-8dp DECIMAL terms, exact decimal per-doc sum), with the counts
    * and vocabulary size read from the engine instead of rebuilt. The
    * vocabulary size IS the unigram table's row count — merge-on-read
    * already collapsed duplicate keys across folds.
    */
  def bigramQualityFromTables(eng: OlapEngine, documents: DataFrame): DataFrame = {
    val d = withBigrams(graft.operators.MapWidth.widen(documents))
    val uni = eng.scan(Db, UniTable)
    val big = eng.scan(Db, BigTable)
    val vocab = uni.agg(count(lit(1)).as("vocab"))
    d.select(col("doc_id"), explode(col("bg")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(log((col("cb") + lit(1)).cast("double") /
          (col("cu") + col("vocab")).cast("double")), 8)
          .cast("decimal(18,8)").as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp")).cast("double") / count(lit(1)), 4).as("avg_logp"))
  }

  // --- driver fixture + queries ---------------------------------------------

  private val cache = TrieMap.empty[String, OlapEngine]
  private def deleteWarehouse(e: OlapEngine): Unit = {
    def del(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
    }
    del(e.warehouse.toFile)
  }
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      cache.values.foreach(deleteWarehouse)))
  }

  /** Drops AND deletes the cached engines' temp warehouses (same contract
    * as [[ClusterReps.clearCaches]]).
    */
  def clearCaches(): Unit = {
    cache.values.foreach(deleteWarehouse)
    cache.clear()
  }

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Driver fixture: the LM folds in two batches (90% then 10%, the q123
    * split — its Sum-merge must reproduce full-corpus counts exactly for
    * q193 to hash); BPE and logreg bootstrap on the full corpus (their
    * oracles replay full-corpus training — a split fit would be a
    * different model, which is exactly why their maintenance story is
    * re-fit, not fold).
    */
  def engineFor(spark: SparkSession, dir: String): OlapEngine =
    cache.getOrElseUpdate(dir, {
      val eng = new OlapEngine(spark, graft.FastTmp.newDir("graft-modelstore-"))
      createTables(eng)
      val d = docs(spark, dir)
      lmFold(eng, d.filter(col("doc_id") % 10 =!= 0))
      lmFold(eng, d.filter(col("doc_id") % 10 === 0))
      bootstrapBpe(eng, d)
      bootstrapLogreg(eng, d)
      eng.runScheduledCompaction() // merges the LM fold fragments
      eng
    })

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q193_bigram_lm_served" -> ((s: SparkSession, d: String) =>
      // the serve scores the cached tokenized corpus (same normalization,
      // one tokenize per JVM) instead of re-splitting the raw parquet
      bigramQualityFromTables(engineFor(s, d),
        graft.pipeline.TokenizedCorpus.withTokens(s, d))),
    "q194_bpe_tokenize_served" -> ((s: SparkSession, d: String) =>
      bpeTokenizeFromTable(engineFor(s, d), docs(s, d))),
    "q195_logreg_served" -> ((s: SparkSession, d: String) =>
      logregQualityFromTable(engineFor(s, d), docs(s, d))),
  )

  val oracles: Map[String, String] = Map(
    // q140's oracle VERBATIM: the table-served LM score must equal the
    // in-JVM rebuild bit-for-bit — certifying the fold, the Sum merge, the
    // vocabulary derivation and the serve formula in one hash
    "q193_bigram_lm_served" -> TextAnalysis.oracles("q140_bigram_quality"),
    // q150's oracle VERBATIM (replay training + apply): passes iff the
    // STORED merge rows equal the trained sequence and the serve applies
    // them identically
    "q194_bpe_tokenize_served" -> Corpus.oracles("q150_bpe_tokenize"),
    // q145's oracle VERBATIM: the stored weights must score the corpus to
    // the same verdict the freshly-trained model does
    "q195_logreg_served" -> Trainer.oracles("q145_logreg_quality"),
  )
}
