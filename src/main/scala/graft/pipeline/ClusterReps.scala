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

/** Incrementally-maintained near-dup cluster-representative index, stored as
  * a Unique-model engine table (`graft_idx.cluster_reps`: doc_id → rep).
  *
  * The one-shot shape (q178) re-runs q47's connected components over the
  * whole corpus on every invocation — fine as an audit baseline, wrong at
  * 100 TB where splits and canonical-doc selection should read a maintained
  * index. This module is the production shape: bootstrap the index once from
  * the existing corpus, then fold in each delta batch WITHOUT ever comparing
  * the corpus to itself again (the q123 incremental-screen posture).
  *
  * Incremental correctness argument (why the maintained table equals a full
  * recompute, exactly):
  *  - the pair predicate (20-char-prefix block + word-set Jaccard ≥ 0.3) is
  *    pairwise, so the full edge set over corpus ∪ delta splits into
  *    corpus–corpus (already summarized by the stored star edges doc → rep,
  *    where rep is the component MIN), delta–corpus, and delta–delta edges;
  *  - quotienting delta–corpus edges through the stored reps ((d, c) becomes
  *    (d, rep(c))) preserves connectivity, so connected components over the
  *    SMALL graph — delta ids, touched rep ids, touched corpus singletons —
  *    compose with the stored star edges to the full closure;
  *  - every stored rep is the min doc_id of its cluster, so the small CC's
  *    component min over {delta ids, old rep ids, singleton ids} IS the
  *    merged component's global min — including the bridge case where one
  *    delta doc fuses two existing clusters, and the rep-displacement case
  *    where a new doc's id undercuts the old min.
  *  The small graph is delta-sized, not corpus-sized: the corpus is touched
  *  only by the one delta-vs-corpus screen (map-side, delta broadcast) and
  *  by the final doc → rep upsert join on the SPARSE stored table.
  *
  * This is the maintained-index counterpart of the reference's built-but-
  * never-consulted index gap (src/index/mod.rs:95-108): here the index is
  * not only consulted (q182 serves the split from it) but kept fresh under
  * incremental load through the engine's own Unique-model upsert path.
  */
object ClusterReps {

  val Db = "graft_idx"
  val Table = "cluster_reps"
  /** The absorbed corpus, tracked BY THE ENGINE in its screen-keyed form
    * (doc_id → 20-char block key + distinct word set): the fold's screen
    * side derives from this table, never from a caller-supplied frame. The
    * previous caller contract — "corpus must equal everything already
    * absorbed" — was a footgun at 100 TB (a caller missing one earlier
    * delta would silently never pair later batches with it); now the
    * contract is structural: bootstrap and every fold append what they
    * absorbed, so the screen side is always exactly the absorbed set.
    */
  val CorpusTable = "cluster_corpus"
  val Threshold = 0.3

  /** Per-(JVM, sfDir) maintained index — fixture semantics like
    * [[graft.queries.EngineFixture]]: built once (bootstrap + one delta
    * load), then served many times.
    */
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

  /** Drops AND deletes the cached engines' temp warehouses — engines removed
    * here would otherwise escape the shutdown hook (which only sees live
    * cache entries) and leak their directories.
    */
  def clearCaches(): Unit = {
    cache.values.foreach(deleteWarehouse)
    cache.clear()
  }

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Create the index tables on `eng` (callers owning their engine — specs). */
  def createIndexTable(eng: OlapEngine): Unit = {
    eng.createDatabase(Db)
    eng.createTable(TableDef(
      db = Db, name = Table,
      schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("doc_id", LongType),
        ColumnSpec.value("rep", LongType))),
      bucketColumn = Some("doc_id"), numBuckets = 4))
    eng.createTable(TableDef(
      db = Db, name = CorpusTable,
      schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("doc_id", LongType),
        ColumnSpec.value("blk", StringType),
        ColumnSpec.value("ws", ArrayType(StringType)))),
      bucketColumn = Some("doc_id"), numBuckets = 4))
  }

  /** Append a batch's screen-keyed rows to the tracked corpus (a Unique
    * upsert — replays rewrite identical rows).
    */
  private def absorb(eng: OlapEngine, batch: DataFrame): Unit = {
    val keyed = Dedup.jaccardKeyed(batch, "doc_id", "ws")
      .localCheckpoint(true)
    if (!keyed.isEmpty) {
      val v = eng.manifest(Db, CorpusTable).maxVersion + 1
      eng.ingest(Db, CorpusTable, keyed, Some(Version(v, v)))
    }
  }

  /** Bootstrap: full CC over the EXISTING corpus only (the one unavoidable
    * corpus-sized closure; everything after is delta-sized). Stores only
    * clustered docs — singletons resolve to themselves on read, keeping the
    * table sparse (near-dup clusters are a small fraction of a real corpus)
    * — and records the whole corpus in [[CorpusTable]] so later folds
    * screen against it without the caller re-supplying it.
    */
  def bootstrap(eng: OlapEngine, corpus: DataFrame): Unit = {
    val reps = Dedup.connectedComponents(
        Dedup.ngramJaccardOf(corpus, Threshold), "doc_a", "doc_b")
      .select(col("doc_id"), col("survivor_id").as("rep"))
      .localCheckpoint(true)
    // a fully-singleton corpus has nothing to store — an EMPTY load would
    // publish a file-less rowset whose later scan cannot infer a schema
    if (!reps.isEmpty) eng.ingest(Db, Table, reps, Some(Version(1, 1)))
    absorb(eng, corpus)
  }

  /** Rows above which the delta side of the screen is no longer broadcast;
    * past it the screen falls back to a shuffle join and AQE's own broadcast
    * decision. ~1M keyed rows ≈ hundreds of MB with word-sets — around the
    * practical executor-broadcast ceiling.
    */
  val MaxBroadcastDeltaRows = 1000000L

  /** Fold one delta batch into the index. The screen side is the ENGINE's
    * own absorbed-corpus table ([[CorpusTable]]) — the caller supplies only
    * the new batch, so the old "corpus must equal everything absorbed"
    * contract violation is structurally impossible. Screens
    * delta-vs-absorbed (delta broadcast when delta-sized, absorbed corpus
    * streamed map-side — q123's posture, but keeping ALL matches ≥
    * threshold rather than the best one, because a delta doc that matches
    * two clusters must MERGE them) plus delta-vs-delta, quotients through
    * the stored reps, runs CC on the resulting delta-sized graph, upserts
    * the changed mappings, and absorbs the delta's keyed rows for the next
    * fold. `ClusterRepsSpec`'s k-fold property pins this shape against a
    * full recompute.
    *
    * The broadcast of the delta side is SIZE-GATED (same class of hazard as
    * the unconditional FK-audit broadcast fixed in round 7): delta-sized
    * batches broadcast; a delta above [[MaxBroadcastDeltaRows]] falls back
    * to a shuffle join, where AQE may still choose to broadcast if the
    * bytes justify it.
    */
  def applyDelta(eng: OlapEngine, delta: DataFrame,
                 maxBroadcastRows: Long = MaxBroadcastDeltaRows): Unit = {
    val old = eng.scan(Db, Table).select(col("doc_id"), col("rep"))

    val dK = Dedup.jaccardKeyed(delta, "d_id", "d_ws")
    // the screen side: the engine's own record of what it absorbed, already
    // in keyed form (no re-tokenization of the corpus at fold time)
    val cK = eng.scan(Db, CorpusTable)
      .select(col("doc_id").as("c_id"), col("blk"), col("ws").as("c_ws"))
    // gate probe: scans the delta only until the threshold is crossed —
    // trivial for the delta-sized batches this path is built for
    val deltaSmall =
      delta.limit(math.min(maxBroadcastRows + 1, Int.MaxValue).toInt).count() <=
        maxBroadcastRows
    // delta-vs-corpus screen: same block + UNROUNDED threshold filter as
    // ngramJaccardOf, or the incremental pair set drifts from the oracle's
    val dc = cK.join(if (deltaSmall) broadcast(dK) else dK, Seq("blk"))
      .withColumn("inter", size(array_intersect(col("d_ws"), col("c_ws"))))
      .filter(col("inter").cast("double") /
        (size(col("d_ws")) + size(col("c_ws")) - col("inter")).cast("double")
        >= Threshold)
      .select(col("d_id"), col("c_id"))
    val dcRep = dc
      .join(old.select(col("doc_id").as("c_id"), col("rep")), Seq("c_id"), "left")
      .select(col("d_id").as("a"), coalesce(col("rep"), col("c_id")).as("b"))
    val dd = Dedup.ngramJaccardOf(delta, Threshold)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))

    // small CC: nodes are delta ids, touched old reps, touched singletons
    val smallCC = Dedup.connectedComponents(dcRep.unionByName(dd), "a", "b")

    // members of touched clusters follow their rep's new assignment...
    val corpusUpserts = old
      .join(smallCC.select(col("doc_id").as("rep"), col("survivor_id").as("newrep")),
        Seq("rep"))
      .select(col("doc_id"), col("newrep").as("rep"))
    // ...nodes not previously stored (delta docs, touched singletons) are new
    val newRows = smallCC.join(old.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("survivor_id").as("rep"))

    val up = corpusUpserts.unionByName(newRows).localCheckpoint(true)
    if (!up.isEmpty) {
      val v = eng.manifest(Db, Table).maxVersion + 1
      eng.ingest(Db, Table, up, Some(Version(v, v)))
    }
    // the delta is absorbed UNCONDITIONALLY (even an edge-free one): later
    // folds must screen against it or they would never pair with it
    absorb(eng, delta)
  }

  /** Driver fixture: bootstrap from the corpus minus the q123 delta
    * (doc_id % 10 ≠ 0), then fold the delta in incrementally, then run the
    * engine's scheduled compaction — so the served table's content is
    * reached through BOTH maintenance paths plus the compaction rewrite,
    * and q182's oracle (a full-corpus recompute) only matches if the
    * incremental merge AND the rewrite are exact.
    */
  def engineFor(spark: SparkSession, dir: String): OlapEngine =
    cache.getOrElseUpdate(dir, {
      val eng = new OlapEngine(spark, graft.FastTmp.newDir("graft-clusterreps-"))
      createIndexTable(eng)
      val d = docs(spark, dir)
      bootstrap(eng, d.filter(col("doc_id") % 10 =!= 0))
      applyDelta(eng, d.filter(col("doc_id") % 10 === 0))
      eng.runScheduledCompaction()
      eng
    })

  /** Resolved (doc_id, rep) for every document, served from the maintained
    * index: one merge-on-read scan of the sparse table + a doc-keyed left
    * join (singletons coalesce to themselves). No CC runs here.
    */
  def repsFor(spark: SparkSession, dir: String): DataFrame = {
    val eng = engineFor(spark, dir)
    docs(spark, dir).select(col("doc_id"))
      .join(eng.scan(Db, Table).select(col("doc_id"), col("rep").as("stored")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("stored"), col("doc_id")).as("rep"))
  }

  /** q182: the leakage-safe split SERVED from the maintained index — must
    * hash-match q178's oracle (a full-corpus closure recompute) exactly,
    * proving bootstrap + incremental merge ≡ one-shot CC.
    */
  def splitFromReps(spark: SparkSession, dir: String): DataFrame =
    Dedup.splitOfReps(repsFor(spark, dir))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q182_split_from_cluster_index" ->
      ((s: SparkSession, d: String) => splitFromReps(s, d)),
  )

  val oracles: Map[String, String] = Map(
    // same oracle as q178 on purpose: one answer, two derivations — q178
    // recomputes the closure, q182 serves the maintained index
    "q182_split_from_cluster_index" -> Dedup.splitOracleSql,
  )
}
