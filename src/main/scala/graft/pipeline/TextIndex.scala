package graft.pipeline

import java.nio.file.Files
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog._
import graft.engine.OlapEngine
import graft.manifest.Version
import graft.model._

/** The inverted TEXT index AS maintained engine tables — the keyword-search
  * completion of the maintained-index family (cluster_reps q182/q183, the
  * Count-Min matrix q184/q179, the IVF-PQ vector index q187/q189). q98
  * builds an inverted index per query and q118 recomputes BM25 from the raw
  * corpus per query; at 100 TB both are a full corpus scan + tokenize that
  * production amortizes into an index maintained at LOAD time and merely
  * probed at query time. (Reference anchor: src/index/mod.rs:95-108 — an
  * index is only real when it is consulted AND maintained.)
  *
  * Two Unique-model tables under `graft_idx`:
  *  - `inv_postings` (word, doc_id) → tf: the posting list, one row per
  *    posting rather than one array per word, so no single reducer ever
  *    materializes a hot word's full list (the q98 scale note, made real).
  *    Bucketed by `word` so a keyword probe bucket-prunes: the serve's
  *    `word IN (…)` filter routes through [[graft.plans.ScanPruneRewrite]]
  *    and opens only the probed terms' buckets.
  *  - `inv_doclen` doc_id → dl: per-document token count, the BM25 length
  *    normalizer. Corpus-rows-but-2-columns narrow; bucketed by doc_id.
  *
  * There is deliberately NO stored global-stats table: n_docs/avgdl derive
  * from `inv_doclen` at serve time (a narrow scan), which keeps EVERY stored
  * row a pure Unique upsert keyed by its document. That makes the index
  * idempotent by construction — re-folding a document rewrites identical
  * rows — which is the whole replay-safety story for the streaming twin
  * (same argument as the ANN fold, q189); a Sum-merged stats table would
  * instead double-count a replayed batch.
  *
  * Maintenance contract: unlike the vector index there is NOTHING to fit —
  * a document's postings depend on that document alone — so [[bootstrap]]
  * IS [[applyDelta]] on the initial corpus, folds are exact (never drift),
  * and any batching of any delta converges to the identical table
  * (`TextIndexSpec` pins fold ≡ one-shot build, fold idempotence, and
  * serve ≡ q118's from-scratch BM25 bit-for-bit).
  */
object TextIndex {

  val Db = "graft_idx"
  val PostingsTable = "inv_postings"
  val DoclenTable = "inv_doclen"
  /** The doc-keyed FORWARD index (doc_id → distinct words): what makes
    * document UPDATES and DELETES delta-sized. The postings table is
    * word-bucketed (right for probes, wrong for "which words does doc X
    * hold"), so without this table a refold/delete must scan the postings
    * to find the rows to tombstone — linear in index size per batch, the
    * cost trade [[refold]]'s scaladoc used to document. One corpus-rows
    * narrow table (keyed, sorted and bucketed by doc_id, so the lookup
    * rides the engine's key-sorted files + bloom filters) turns that scan
    * into a point-ish lookup sized by the batch.
    */
  val FwdTable = "fwd_words"
  val NumBuckets = 8

  /** Below this many changed/deleted doc_ids the forward lookup collects
    * them into an IN-literal predicate (pushed to parquet: bucket prune +
    * bloom/row-group skip on the doc_id key); above it, a broadcast
    * semi-join over the narrow forward table. Same size-gate idiom as
    * [[ClusterReps.applyDelta]]'s delta broadcast.
    */
  val FwdLookupMaxIds = 10000

  /** q118's probe terms — the serve shares q118's oracle verbatim. */
  val DefaultTerms = Seq("spark", "data", "join", "query")

  def createTables(eng: OlapEngine): Unit = {
    eng.createDatabase(Db)
    eng.createTable(TableDef(
      db = Db, name = PostingsTable,
      schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("word", StringType),
        ColumnSpec.key("doc_id", LongType),
        ColumnSpec.value("tf", LongType))),
      bucketColumn = Some("word"), numBuckets = NumBuckets))
    eng.createTable(TableDef(
      db = Db, name = DoclenTable,
      schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("doc_id", LongType),
        ColumnSpec.value("dl", LongType))),
      bucketColumn = Some("doc_id"), numBuckets = 4))
    ensureFwdTable(eng)
  }

  /** Create the SHARED forward table if absent — both index families of the
    * text family ([[TextIndex]] and [[PhraseIndex]]) maintain and read the
    * same `fwd_words` (the word sets are identical by construction: one
    * tokenization), so whichever family's createTables runs first creates
    * it and the other adopts it.
    */
  private[pipeline] def ensureFwdTable(eng: OlapEngine): Unit =
    if (eng.catalog.getTable(Db, FwdTable).isEmpty) {
      eng.createTable(TableDef(
        db = Db, name = FwdTable,
        schema = TableSchema(KeysType.Unique, Seq(
          ColumnSpec.key("doc_id", LongType),
          ColumnSpec.value("words", ArrayType(StringType)))),
        bucketColumn = Some("doc_id"), numBuckets = 4))
      ()
    }

  /** Is this doc-keyed table materialized in `eng`? The family-wide update
    * paths ([[refold]], [[deleteDocs]]) touch only resident tables, so one
    * code path serves keyword-only, positional-only and co-resident
    * deployments.
    */
  private def resident(eng: OlapEngine, table: String): Boolean =
    eng.catalog.getTable(Db, table).isDefined

  /** q118's tokenization exactly — the serve must be formula-identical. */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("word"))

  /** Initial build = the delta fold on the starting corpus (no training
    * pass exists for a text index; the symmetry with [[AnnIndex.bootstrap]]
    * is in the calling convention, not the work).
    */
  def bootstrap(eng: OlapEngine, docs: DataFrame): Unit = applyDelta(eng, docs)

  /** Fold a NEW-document batch into the index: per-doc term frequencies and
    * lengths, upserted through the Unique-model ingest. Stateless per
    * document ⇒ exact, idempotent, batching-order-free. For CHANGED
    * documents use [[refold]], which additionally tombstones the words that
    * vanished from the new text — a plain upsert would leave their stale
    * postings serving.
    */
  def applyDelta(eng: OlapEngine, delta: DataFrame): Unit = {
    if (delta.isEmpty) return // an empty batch publishes nothing
    val t = tokens(delta).localCheckpoint(true) // one tokenize, three aggs
    val postings = t.groupBy(col("word"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val doclen = t.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val fwd = t.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("word"))).as("words"))
    def nextV(table: String): Version = {
      val v = eng.manifest(Db, table).maxVersion + 1
      Version(v, v)
    }
    // one load group: a probe never sees postings for a document whose
    // doclen (or forward row) has not landed — the three tables move as one
    val g = eng.newLoadGroup()
    eng.ingest(Db, PostingsTable, postings, Some(nextV(PostingsTable)),
      group = Some(g))
    eng.ingest(Db, DoclenTable, doclen, Some(nextV(DoclenTable)),
      group = Some(g))
    eng.ingest(Db, FwdTable, fwd, Some(nextV(FwdTable)), group = Some(g))
    eng.commitGroup(g)
  }

  /** The stored (doc_id, word) pairs for a batch of doc_ids, via the
    * forward table — the delta-sized lookup refold/delete tombstoning rides.
    * Small batches (≤ [[FwdLookupMaxIds]]) collect into an IN-literal so the
    * scan prunes files on the doc_id key; larger ones semi-join WITHOUT a
    * forced broadcast — an unbounded batch must not be wedged through the
    * driver, and AQE still broadcasts the probe side whenever it is small
    * enough, so the delta-sized common case keeps the map-side join.
    */
  private[pipeline] def storedWords(eng: OlapEngine, ids: DataFrame): DataFrame = {
    val n = ids.limit(FwdLookupMaxIds + 1).count()
    val fwd = eng.scan(Db, FwdTable)
    val rows =
      if (n <= FwdLookupMaxIds) {
        val lits = ids.collect().map(_.getLong(0).asInstanceOf[Any])
        fwd.filter(col("doc_id").isin(lits: _*))
      } else fwd.join(ids, Seq("doc_id"), "left_semi")
    rows.select(col("doc_id"), explode(col("words")).as("word"))
  }

  /** Re-fold CHANGED documents — FAMILY-wide: the Unique upsert alone would
    * overwrite tf / position arrays for words still present in the new text
    * but leave STALE rows for words that vanished from it; refold diffs the
    * STORED word set for the batch's doc_ids (via the shared forward table —
    * delta-sized, see [[storedWords]]; neither the word-bucketed postings
    * nor the positions index is ever scanned) against the new tokenization
    * and publishes upserts + vanished-word tombstones for EVERY resident
    * doc-keyed table (postings, positions, doclen, fwd) under one load
    * group — readers see the whole document update atomically across the
    * family. Use [[applyDelta]] for NEW documents.
    */
  def refold(eng: OlapEngine, changed: DataFrame): Unit = {
    if (changed.isEmpty) return // an empty batch publishes nothing
    val t = tokens(changed).localCheckpoint(true) // one tokenize, all aggs
    val ids = changed.select(col("doc_id")).distinct()
    // the vanished-word diff: computed ONCE from the shared forward table
    // (delta-sized — storedWords) and reused by every resident family.
    // fwd is SHARED state, so the families must refold in the SAME commit:
    // per-family refolds would race on it (whichever ran second would diff
    // against the already-updated word sets, find nothing vanished, and
    // leave its stale rows serving).
    val vanished = storedWords(eng, ids)
      .join(t.select(col("word"), col("doc_id")).distinct(),
        Seq("word", "doc_id"), "left_anti")
      .localCheckpoint(true)
    // one load group across every resident table: the whole document
    // update — new tf rows / position arrays, vanished-word tombstones,
    // new length, new word set — becomes visible in one commit
    val g = eng.newLoadGroup()
    if (resident(eng, PostingsTable)) {
      val newPost = t.groupBy(col("word"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val source = newPost.withColumn("__graft_del", lit(false))
        .unionByName(vanished
          .withColumn("tf", lit(null).cast(LongType))
          .withColumn("__graft_del", lit(true)))
      eng.mergeInto(Db, PostingsTable, source, "__graft_del", group = Some(g))
    }
    if (resident(eng, PhraseIndex.PositionsTable)) {
      val source = PhraseIndex.postingRows(changed)
        .withColumn("__graft_del", lit(false))
        .unionByName(vanished
          .withColumn("pos_list", lit(null).cast(ArrayType(IntegerType)))
          .withColumn("__graft_del", lit(true)))
      eng.mergeInto(Db, PhraseIndex.PositionsTable, source, "__graft_del",
        group = Some(g))
    }
    if (resident(eng, DoclenTable))
      eng.ingest(Db, DoclenTable,
        t.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")),
        group = Some(g))
    eng.ingest(Db, FwdTable,
      t.groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("word"))).as("words")),
      group = Some(g))
    eng.commitGroup(g)
  }

  /** DELETE documents from the index — [[AnnIndex.deleteVectors]]'s
    * analogue for text, FAMILY-wide: without it a document deleted from the
    * corpus keeps scoring (and keeps inflating n_docs/avgdl) forever. The
    * forward table supplies each doomed doc's word set (delta-sized,
    * [[storedWords]]), which becomes postings AND position tombstones;
    * doclen and forward rows tombstone by key alone. Every resident
    * table's merge stages under ONE load group and commits atomically — no
    * reader can see a document half-deleted (postings gone but still
    * counted in n_docs/avgdl, positions still phrase-matching a deleted
    * doc, or vice versa). Deleting an unknown doc_id is a harmless no-op
    * (tombstones of nothing). Compaction later removes the rows physically.
    */
  def deleteDocs(eng: OlapEngine, ids: DataFrame): Unit = {
    val docIds = ids.select(col("doc_id")).distinct().localCheckpoint(true)
    if (docIds.isEmpty) return // an empty batch publishes nothing
    // one delta-sized forward lookup feeds every resident family's
    // tombstones; like [[refold]], the delete is family-WIDE in one commit
    // because fwd is shared — deleting it per family would strand the
    // other family's rows with no way to find them but a full index scan
    val doomedWords = storedWords(eng, docIds).localCheckpoint(true)
    val g = eng.newLoadGroup()
    if (resident(eng, DoclenTable))
      eng.mergeInto(Db, DoclenTable,
        docIds.withColumn("dl", lit(null).cast(LongType))
          .withColumn("__graft_del", lit(true)),
        "__graft_del", group = Some(g))
    if (resident(eng, PostingsTable))
      eng.mergeInto(Db, PostingsTable,
        doomedWords.select(col("word"), col("doc_id"))
          .withColumn("tf", lit(null).cast(LongType))
          .withColumn("__graft_del", lit(true)),
        "__graft_del", group = Some(g))
    if (resident(eng, PhraseIndex.PositionsTable))
      eng.mergeInto(Db, PhraseIndex.PositionsTable,
        doomedWords.select(col("word"), col("doc_id"))
          .withColumn("pos_list", lit(null).cast(ArrayType(IntegerType)))
          .withColumn("__graft_del", lit(true)),
        "__graft_del", group = Some(g))
    eng.mergeInto(Db, FwdTable,
      docIds.withColumn("words", lit(null).cast(ArrayType(StringType)))
        .withColumn("__graft_del", lit(true)),
      "__graft_del", group = Some(g))
    eng.commitGroup(g)
  }

  /** BM25 top-k SERVED from the engine tables: q118's formula with tf/dl
    * read from the index instead of recomputed by a corpus scan+tokenize.
    * The term filter bucket-prunes the postings scan (≤ |terms| of
    * [[NumBuckets]] buckets open); df for the probed terms falls out of the
    * pruned postings themselves; n_docs/avgdl derive from the narrow doclen
    * scan. Per-term scores round to 8 decimals into DECIMAL(18,8) and the
    * per-doc sum is exact decimal — the same determinism route as
    * [[TextAnalysis.bm25TopK]], so the two agree bit-for-bit.
    */
  /** Corpus stats (n_docs, avgdl) from the doclen table, memoized per
    * (engine, doclen generation) — they are properties of the INDEX, not of
    * any query, so every BM25-family serve against the same generation
    * reuses the one collected pair as plan literals instead of re-running
    * the stats aggregate + its broadcast per call (optimization r13). The
    * values are the identical Spark aggregate, computed once; a fold/compact
    * bumps the table version and invalidates the memo.
    */
  private val statsCache = TrieMap.empty[(String, Long), (Long, Double)]
  private[pipeline] def corpusStats(eng: OlapEngine): (Long, Double) = {
    val ver = eng.manifest(Db, DoclenTable).maxVersion
    statsCache.getOrElseUpdate((eng.warehouse.toString, ver), {
      val r = eng.scan(Db, DoclenTable)
        .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")).head()
      (r.getLong(0), r.getDouble(1))
    })
  }

  def bm25FromTable(eng: OlapEngine, terms: Seq[String] = DefaultTerms,
                    k: Int = 10): DataFrame = {
    graft.GraftExtensions.register(eng.spark)
    val k1 = 1.2
    val b = 0.75
    val tf = eng.scan(Db, PostingsTable)
      .filter(col("word").isin(terms.map(_.asInstanceOf[Any]): _*))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val dl = eng.scan(Db, DoclenTable)
    val (nDocs, avgdl) = corpusStats(eng)
    val idf = log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val termScore = idf * col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    tf.withColumnRenamed("word", "w")
      .join(broadcast(dfreq.withColumnRenamed("word", "w")), "w")
      .join(dl, "doc_id")
      .select(col("doc_id"),
        round(termScore, 8).cast("decimal(18,8)").as("ts"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("ts")).cast("double"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Production/bench twin of q203: RM3 pseudo-relevance feedback with
    * BOTH BM25 passes and the expansion stage served from the index tables
    * — the stored per-(word, doc) tf replaces re-tokenizing the corpus, so
    * the expansion stage is a broadcast semi-join of the postings against
    * the nFb feedback docs (word-bucketing doesn't prune a doc-keyed probe;
    * the postings table is the narrow 3-column index, not the corpus, and
    * the doc-keyed slice is one predicate pushdown over it). Formula and
    * tie-breaks identical to [[TextAnalysis.rm3TopK]].
    */
  def rm3FromTable(eng: OlapEngine, seed: Seq[String] = DefaultTerms,
                   k: Int = 10, nFb: Int = 10, nExp: Int = 5): DataFrame = {
    val spark = eng.spark
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val stop = Seq("a", "the")
    val k1 = 1.2
    val b = 0.75
    val post = eng.scan(Db, PostingsTable).withColumnRenamed("word", "w")
    val dl = eng.scan(Db, DoclenTable)
    // per-generation corpus stats as plan literals — see [[corpusStats]]
    val (nDocs, avgdl) = corpusStats(eng)
    def bm25(terms: DataFrame): DataFrame = { // terms: one column "w"
      val tf = post.join(broadcast(terms), "w")
      val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val idf = log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
      val termScore = idf * col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
      tf.join(broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .select(col("doc_id"),
          round(termScore, 8).cast("decimal(18,8)").as("ts"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("ts")).cast("double"), 4).as("score"))
    }
    val fb = bm25(seed.toDF("w"))
      .orderBy(col("score").desc, col("doc_id")).limit(nFb)
    val wgt = post
      .join(broadcast(fb), "doc_id")
      .filter(!col("w").isin((seed ++ stop).map(_.asInstanceOf[Any]): _*))
      .join(dl, "doc_id")
      .select(col("w"),
        (round(col("tf") / col("dl"), 8).cast("decimal(18,8)") *
          col("score").cast("decimal(18,4)")).as("c"))
      .groupBy(col("w")).agg(sum(col("c")).as("wgt"))
    val expTerms = wgt.orderBy(col("wgt").desc, col("w")).limit(nExp)
      .select(col("w"))
    bm25(expTerms.union(seed.toDF("w")))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** q205: BATCH retrieval — many queries served from the index in ONE
    * plan, no per-query loop. The query workload is itself a relation
    * (query_id, term), so retrieval is a join: one broadcast of the term
    * table against the word-bucketed postings scores every (query, doc)
    * pair, one aggregation sums per-query BM25, and the per-query top-k is
    * a rank window PARTITIONED BY query_id (Spark's WindowGroupLimit keeps
    * per-partition heaps of k before the shuffle — no global sort). This is
    * the 100 TB shape for serving a query LOG: cost is one pass over the
    * touched postings regardless of how many queries batch together,
    * where a loop would re-scan per query. Corpus stats (df, dl, avgdl)
    * are shared across queries — computed once, joined in.
    */
  def batchBm25FromTable(eng: OlapEngine, k: Int = 5): DataFrame = {
    val spark = eng.spark
    import spark.implicits._
    batchBm25FromTable(eng, Seq((0L, "spark"), (0L, "data"), (1L, "join"),
      (1L, "query"), (2L, "merge"), (2L, "sort")).toDF("query_id", "w"), k)
  }

  /** The general form: serve an arbitrary (query_id, w) workload relation.
    * (`RetrievalProbe` drives this with synthesized logs of growing size.)
    */
  def batchBm25FromTable(eng: OlapEngine, queries: DataFrame, k: Int): DataFrame = {
    val spark = eng.spark
    graft.GraftExtensions.register(spark)
    val k1 = 1.2
    val b = 0.75
    val post = eng.scan(Db, PostingsTable).withColumnRenamed("word", "w")
    val dl = eng.scan(Db, DoclenTable)
    // per-generation corpus stats as plan literals — see [[corpusStats]]
    val (nDocs, avgdl) = corpusStats(eng)
    // df is a corpus property of the word, shared by every query probing it
    val dfreq = post.join(broadcast(queries.select(col("w")).distinct()), "w")
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val idf = log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val termScore = idf * col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    val scored = post.join(broadcast(queries), "w")
      .join(broadcast(dfreq), "w")
      .join(dl, "doc_id")
      .select(col("query_id"), col("doc_id"),
        round(termScore, 8).cast("decimal(18,8)").as("ts"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("ts")).cast("double"), 4).as("score"))
    scored.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rk"))
  }

  /** q208: REVERSE search (the Elasticsearch percolator / standing-query
    * shape): instead of a query probing the document index, a document
    * batch probes a QUERY index — which stored queries does each document
    * satisfy? The matching rule is conjunctive (every term of the query
    * present in the document), evaluated as pure relational algebra: join
    * the (query_id, term) table against the postings on the word, count
    * DISTINCT matched terms per (query, doc), keep pairs where the count
    * equals the query's arity. No per-query scan, no regex engine — one
    * broadcast join sized by the standing queries, which is the 100 TB
    * alerting shape (matching N standing alerts against a firehose costs
    * one pass over the batch's postings however large N grows).
    */
  def reverseSearch(eng: OlapEngine): DataFrame =
    reverseSearch(eng, defaultRules(eng.spark))

  /** The general form: match an arbitrary standing-query (query_id, w)
    * relation. (`RetrievalProbe` drives this with growing N.)
    */
  def reverseSearch(eng: OlapEngine, queries: DataFrame): DataFrame = {
    val spark = eng.spark
    graft.GraftExtensions.register(spark)
    val arity = queries.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_terms"))
    val post = eng.scan(Db, PostingsTable).withColumnRenamed("word", "w")
    post.join(broadcast(queries), "w")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(countDistinct(col("w")).as("n_matched"))
      .join(broadcast(arity), "query_id")
      .filter(col("n_matched") === col("n_terms"))
      .select(col("query_id"), col("doc_id"))
  }

  // --- standing-query REGISTRY (round-9 verdict item 3) ---------------------
  // A real alerting system's standing queries ARE engine state, not a
  // caller-supplied argument: rules are registered once, matched against
  // every arriving batch forever, and removed when retired. Two tables:

  /** (query_id, w) → enabled: the rule registry. Unique-keyed by (rule,
    * term) so registration/retirement are ordinary upserts/tombstones, and
    * a rule edit (add/remove a term) is a row operation, not a rewrite.
    * Rule-count-sized — the broadcast side of every percolation.
    */
  val QueriesTable = "standing_queries"
  /** (query_id, doc_id) → hit: the streaming percolator's output table.
    * Unique-keyed, so micro-batch replays rewrite identical rows —
    * exactly-once for free, the q191 argument.
    */
  val HitsTable = "percolator_hits"

  def createPercolatorTables(eng: OlapEngine): Unit = {
    eng.createDatabase(Db)
    if (eng.catalog.getTable(Db, QueriesTable).isEmpty) {
      eng.createTable(TableDef(
        db = Db, name = QueriesTable,
        schema = TableSchema(KeysType.Unique, Seq(
          ColumnSpec.key("query_id", LongType),
          ColumnSpec.key("w", StringType),
          ColumnSpec.value("enabled", BooleanType))),
        bucketColumn = Some("query_id"), numBuckets = 1))
      ()
    }
    if (eng.catalog.getTable(Db, HitsTable).isEmpty) {
      eng.createTable(TableDef(
        db = Db, name = HitsTable,
        schema = TableSchema(KeysType.Unique, Seq(
          ColumnSpec.key("query_id", LongType),
          ColumnSpec.key("doc_id", LongType),
          ColumnSpec.value("hit", BooleanType))),
        bucketColumn = Some("doc_id"), numBuckets = 4))
      ()
    }
  }

  /** Register (or re-register — idempotent upsert) standing rules given as
    * a (query_id, w) relation.
    */
  def registerQueries(eng: OlapEngine, rules: DataFrame): Unit = {
    eng.ingest(Db, QueriesTable,
      rules.select(col("query_id"), col("w")).distinct()
        .withColumn("enabled", lit(true)))
    ()
  }

  /** Retire whole rules by query_id: every term row of the rule tombstones
    * in one merge (the term set comes from the registry itself — the
    * registry is rule-sized, never corpus-sized). Unknown ids are no-ops.
    */
  def unregisterQueries(eng: OlapEngine, ids: DataFrame): Unit = {
    val doomed = eng.scan(Db, QueriesTable)
      .join(broadcast(ids.select(col("query_id")).distinct()),
        Seq("query_id"), "left_semi")
      .select(col("query_id"), col("w"))
      .withColumn("enabled", lit(null).cast(BooleanType))
      .withColumn("__graft_del", lit(true))
      .localCheckpoint(true)
    if (!doomed.isEmpty) {
      eng.mergeInto(Db, QueriesTable, doomed, "__graft_del")
      ()
    }
  }

  /** The live rules (registered, enabled, not retired). */
  def storedQueries(eng: OlapEngine): DataFrame =
    eng.scan(Db, QueriesTable).filter(col("enabled"))
      .select(col("query_id"), col("w"))

  /** q218: [[reverseSearch]] with the rules read from the REGISTRY table —
    * the percolator in its production shape (no caller-supplied query set).
    * Shares q208's oracle: stored rules ≡ the literal rules.
    */
  def reverseSearchStored(eng: OlapEngine): DataFrame =
    reverseSearch(eng, storedQueries(eng))

  /** Direct (index-free) percolation of a DOCUMENT BATCH against the stored
    * registry — the firehose/streaming shape: each arriving micro-batch
    * tokenizes once and joins the broadcast rule registry; cost is one pass
    * over the batch however many rules stand. Same conjunctive algebra as
    * [[reverseSearch]] (a doc matches a rule iff it contains every term),
    * so batch-over-index and stream-over-firehose agree exactly.
    */
  def percolate(eng: OlapEngine, docs: DataFrame): DataFrame = {
    graft.GraftExtensions.register(eng.spark)
    val q = storedQueries(eng)
    val arity = q.groupBy(col("query_id")).agg(count(lit(1)).as("n_terms"))
    tokens(docs).withColumnRenamed("word", "w").distinct()
      .join(broadcast(q), "w")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(countDistinct(col("w")).as("n_matched"))
      .join(broadcast(arity), "query_id")
      .filter(col("n_matched") === col("n_terms"))
      .select(col("query_id"), col("doc_id"))
  }

  // --- driver fixture + query ----------------------------------------------

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
    statsCache.clear()
  }

  /** Run the scheduled maintenance a production index owner would — now
    * THROUGH the engine's own C1-C3 schedule loop
    * ([[OlapEngine.runScheduledCompaction]]: score = visible rowset count,
    * top-N above threshold) rather than per-table ad-hoc calls. Folds
    * accumulate rowsets (one per delta); the serve's cost is dominated by
    * how many rowset fragments the merge-on-read unions (the factor-100
    * probe: 3.4 s → 0.8 s on the term-filtered postings merge after
    * compaction), so this loop — not the serve code — is what keeps probes
    * fast as folds pile up. `TextIndexSpec` pins that it never changes the
    * served answer.
    */
  def compactIndex(eng: OlapEngine): Unit = {
    eng.runScheduledCompaction()
    ()
  }

  /** Driver fixture: build on 90% of the corpus (doc_id % 10 ≠ 0), fold the
    * remaining 10% in incrementally, then run the scheduled compaction —
    * the served index's content is reached through BOTH maintenance paths
    * plus the compaction rewrite, like the cluster_reps and ANN fixtures,
    * so q190's green hash certifies the fold, the table round-trip, the
    * compaction, AND the serve formula at once.
    */
  def engineFor(spark: SparkSession, dir: String): OlapEngine =
    cache.getOrElseUpdate(dir, {
      val eng = new OlapEngine(spark, graft.FastTmp.newDir("graft-txtidx-"))
      createTables(eng)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      bootstrap(eng, docs.filter(col("doc_id") % 10 =!= 0))
      applyDelta(eng, docs.filter(col("doc_id") % 10 === 0))
      compactIndex(eng)
      eng
    })

  /** The doclen table, merge-on-read: (doc_id, dl) — whitespace token
    * counts served from the index (dl uses the shared normalization, so it
    * IS the document's token count; q207's served pack budgets on it).
    */
  def doclenFor(spark: SparkSession, dir: String): DataFrame =
    engineFor(spark, dir).scan(Db, DoclenTable)

  /** q208's rules as a relation — both the literal argument of q208 and
    * the content the q218 registry fixture stores.
    */
  private[graft] def defaultRules(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "spark"), (0L, "data"), (0L, "join"), (0L, "query"),
      (1L, "merge"), (1L, "sort"), (1L, "hash"), (1L, "scan"),
      (2L, "vector"), (2L, "window"), (2L, "stream"), (2L, "batch"))
      .toDF("query_id", "w")
  }

  /** q218 fixture: the shared index engine with the standing rules landed
    * in the REGISTRY table — plus a broad-matching decoy rule registered
    * and then retired, so the shared q208 oracle also certifies the
    * registry's delete path (a lost tombstone would leave rule 99 matching
    * half the corpus and flip the hash).
    */
  def registryEngineFor(spark: SparkSession, dir: String): OlapEngine = {
    val eng = engineFor(spark, dir)
    this.synchronized {
      if (eng.catalog.getTable(Db, QueriesTable).isEmpty) {
        import spark.implicits._
        createPercolatorTables(eng)
        registerQueries(eng, defaultRules(spark))
        registerQueries(eng, Seq((99L, "data")).toDF("query_id", "w"))
        unregisterQueries(eng, Seq(99L).toDF("query_id"))
      }
    }
    eng
  }

  /** The q197 document edit, shared by the Spark fixture and the DuckDB
    * oracle: docs with doc_id % 7 == 3 are truncated to their first 5
    * tokens — a modification guaranteed to make words VANISH from the
    * edited documents, the exact case [[refold]] exists for.
    */
  private def editedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 7 === 3,
        concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 5)))
        .otherwise(col("text")).as("text"))

  /** q197 fixture: build the index on the ORIGINAL corpus, then refold the
    * edited documents — the served index must now equal a from-scratch
    * index of the EDITED corpus, which the oracle recomputes in SQL. A
    * refold that missed a vanished word would leave its stale tf serving
    * and flip the hash.
    */
  def refoldEngineFor(spark: SparkSession, dir: String): OlapEngine =
    cache.getOrElseUpdate(s"$dir|refold", {
      val eng = new OlapEngine(spark, graft.FastTmp.newDir("graft-txtrefold-"))
      createTables(eng)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      bootstrap(eng, docs)
      refold(eng, editedDocs(docs.filter(col("doc_id") % 7 === 3)))
      compactIndex(eng) // deletes become physical; answer unchanged
      eng
    })

  /** q215 fixture: full-corpus build, then [[deleteDocs]] on doc_id % 9 == 4,
    * then the scheduled compaction — the served BM25 must equal a
    * from-scratch index of the SURVIVING corpus, which deletes state
    * everywhere the formula looks: the doomed docs' tf rows, their df
    * contributions, and the n_docs/avgdl denominators.
    */
  def deletesEngineFor(spark: SparkSession, dir: String): OlapEngine =
    cache.getOrElseUpdate(s"$dir|deletes", {
      val eng = new OlapEngine(spark, graft.FastTmp.newDir("graft-txtdel-"))
      createTables(eng)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      bootstrap(eng, docs)
      deleteDocs(eng, docs.filter(col("doc_id") % 9 === 4).select("doc_id"))
      compactIndex(eng) // deletes become physical; answer unchanged
      eng
    })

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q190_text_index_served" ->
      ((s: SparkSession, d: String) => bm25FromTable(engineFor(s, d))),
    // the BENCHED form of q203 under its own full hash oracle: rm3FromTable
    // is deterministic (full postings, no approximation), so the
    // table-served expansion must equal q203's from-scratch recompute
    // bit-for-bit — closing the last direct variant-oracle gap
    "q265_rm3_served" ->
      ((s: SparkSession, d: String) => rm3FromTable(engineFor(s, d))),
    "q215_text_index_deletes" ->
      ((s: SparkSession, d: String) => bm25FromTable(deletesEngineFor(s, d))),
    "q197_text_index_refold" ->
      ((s: SparkSession, d: String) => bm25FromTable(refoldEngineFor(s, d))),
    "q205_batch_retrieval" ->
      ((s: SparkSession, d: String) => batchBm25FromTable(engineFor(s, d))),
    "q208_reverse_search" ->
      ((s: SparkSession, d: String) => reverseSearch(engineFor(s, d))),
    "q218_percolator_stored" ->
      ((s: SparkSession, d: String) => reverseSearchStored(registryEngineFor(s, d))),
  )

  /** The conjunctive-matching replay shared by q208 (literal rules), q218
    * (registry-served rules) and q219 (stream-percolated firehose): a
    * (query, doc) pair survives iff the doc contains every term of the
    * query. Three derivations, one answer, one SQL.
    */
  private[pipeline] val percolatorOracle: String =
    """WITH q(query_id, w) AS (VALUES
      |  (0, 'spark'), (0, 'data'), (0, 'join'), (0, 'query'),
      |  (1, 'merge'), (1, 'sort'), (1, 'hash'), (1, 'scan'),
      |  (2, 'vector'), (2, 'window'), (2, 'stream'), (2, 'batch')),
      |a AS (SELECT query_id, count(*) AS n_terms FROM q GROUP BY 1),
      |w AS (SELECT DISTINCT doc_id,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      |  FROM documents),
      |m AS (SELECT q.query_id, w.doc_id, count(DISTINCT q.w) AS n_matched
      |      FROM w JOIN q USING (w) GROUP BY 1, 2)
      |SELECT CAST(m.query_id AS BIGINT) AS query_id, doc_id
      |FROM m JOIN a ON m.query_id = a.query_id
      |WHERE n_matched = n_terms""".stripMargin

  val oracles: Map[String, String] = Map(
    // q118's oracle VERBATIM: the table-served BM25 must equal the
    // from-scratch corpus recompute bit-for-bit — an exact-hash check on
    // every layer (fold, Unique merge-on-read, doclen-derived stats, serve)
    "q190_text_index_served" -> TextAnalysis.oracles("q118_bm25_topk"),
    // q203's oracle VERBATIM: both BM25 passes + the expansion stage served
    // from the index tables must reproduce the corpus recompute exactly
    "q265_rm3_served" -> TextAnalysis.oracles("q203_rm3_expansion"),
    // q118's formula over the SURVIVING corpus: deletion must be visible in
    // every term — vanished tf rows, shrunken df, survivor-only
    // n_docs/avgdl. A tombstone lost in any of the three tables (postings,
    // doclen, fwd→postings diff) flips the hash.
    "q215_text_index_deletes" ->
      """WITH w AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE doc_id % 9 <> 4),
        |dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1),
        |g AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM w
        |       WHERE w IN ('spark','data','join','query') GROUP BY 1, 2),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |s AS (SELECT tf.doc_id,
        |        CAST(round(
        |          ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |            * tf.tf * (1.2 + 1) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)),
        |          8) AS DECIMAL(18,8)) AS ts
        |      FROM tf JOIN df USING (w) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN g)
        |SELECT doc_id, round(CAST(sum(ts) AS DOUBLE), 4) AS score
        |FROM s GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // q208: conjunctive standing-query matching replayed as relational
    // algebra (the shared [[percolatorOracle]])
    "q208_reverse_search" -> percolatorOracle,
    // q218: the SAME oracle with the rules read from the registry table —
    // passes iff registration round-trips AND the decoy rule's retirement
    // tombstoned every term row
    "q218_percolator_stored" -> percolatorOracle,
    // q205: three query term-sets replayed through q118's decimal route in
    // one SQL — the served batch join must reproduce every per-query
    // ranking (df/dl/avgdl shared across queries, ranks per query_id)
    "q205_batch_retrieval" ->
      """WITH w AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1),
        |g AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |q(query_id, w) AS (VALUES (0, 'spark'), (0, 'data'), (1, 'join'),
        |                          (1, 'query'), (2, 'merge'), (2, 'sort')),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM w
        |       WHERE w IN (SELECT w FROM q) GROUP BY 1, 2),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |s AS (SELECT q.query_id, tf.doc_id,
        |        CAST(round(
        |          ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |            * tf.tf * (1.2 + 1) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)),
        |          8) AS DECIMAL(18,8)) AS ts
        |      FROM tf JOIN q USING (w) JOIN df USING (w)
        |           JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN g),
        |sc AS (SELECT query_id, doc_id, round(CAST(sum(ts) AS DOUBLE), 4) AS score
        |       FROM s GROUP BY 1, 2)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS INT) AS rk
        |FROM sc QUALIFY rk <= 5""".stripMargin,
    // q118's formula over the EDITED corpus: the oracle applies the same
    // first-5-tokens truncation to doc_id % 7 == 3 and recomputes BM25 from
    // scratch — it matches only if refold upserted the new tf AND
    // tombstoned every vanished word
    "q197_text_index_refold" ->
      """WITH md AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3
        |      THEN array_to_string(string_split_regex(trim(lower(text)), '\s+')[1:5], ' ')
        |      ELSE text END AS text
        |  FROM documents),
        |w AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM md),
        |dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1),
        |g AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM w
        |       WHERE w IN ('spark','data','join','query') GROUP BY 1, 2),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |s AS (SELECT tf.doc_id,
        |        CAST(round(
        |          ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |            * tf.tf * (1.2 + 1) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)),
        |          8) AS DECIMAL(18,8)) AS ts
        |      FROM tf JOIN df USING (w) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN g)
        |SELECT doc_id, round(CAST(sum(ts) AS DOUBLE), 4) AS score
        |FROM s GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
  )
}
