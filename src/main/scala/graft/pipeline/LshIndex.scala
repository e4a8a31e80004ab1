package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Fixtures
import graft.catalog._
import graft.engine.OlapEngine
import graft.manifest.Version
import graft.model._

/** Maintained MinHash-LSH index as ENGINE TABLES — the cross-JVM production
  * form of [[Dedup]]'s per-JVM signature caches (the [[ClusterReps]] /
  * [[TokenizedCorpus]] doctrine applied to the last cachedDf family):
  *
  *  - `graft_idx.minhash_bands` (Unique, (doc_id, band) → bh): the banded
  *    signature rows the candidate self-join buckets on;
  *  - `graft_idx.shingle_sets` (Unique, doc_id → sorted shingle array):
  *    the verify stage's input.
  *
  * Signatures are PER-DOCUMENT pure maps, so incremental maintenance is
  * trivial by construction: folding a delta batch is one tokenize+hash pass
  * over the delta upserted through the engine's ordinary Unique path (both
  * tables under ONE load group, so no reader ever sees bands without their
  * shingle sets). A restarted JVM serves candidates + verify from the
  * tables with zero re-hashing of the corpus — at 100 TB the signature
  * build runs once per corpus revision, not once per job.
  *
  * Query half ([[Dedup.lshPairs]]) is ONE definition shared with the
  * cached path, so q271's table serve must equal q31's recompute
  * bit-for-bit — and both carry q31's exhaustive-Jaccard oracle.
  */
object LshIndex {

  val Db = "graft_idx"
  val BandsTable = "minhash_bands"
  val ShinglesTable = "shingle_sets"

  val K = 3
  val Bands = 8
  val RowsPerBand = 4

  def createTables(eng: OlapEngine): Unit = {
    eng.createDatabase(Db)
    eng.createTable(TableDef(
      db = Db, name = BandsTable,
      schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("doc_id", LongType),
        ColumnSpec.key("band", IntegerType),
        ColumnSpec.value("bh", LongType))),
      bucketColumn = Some("doc_id"), numBuckets = 4))
    eng.createTable(TableDef(
      db = Db, name = ShinglesTable,
      schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("doc_id", LongType),
        ColumnSpec.value("sh", ArrayType(StringType)))),
      bucketColumn = Some("doc_id"), numBuckets = 4))
  }

  /** Fold one batch: signature + shingle rows for the batch's documents,
    * committed to both tables atomically (one load group).
    */
  def fold(eng: OlapEngine, batch: DataFrame): Unit = {
    val b = batch.localCheckpoint(true)
    if (b.isEmpty) return
    val bands = Dedup.bandedSignatures(b, K, Bands, RowsPerBand)
      .select(col("doc_id"), col("band").cast("int").as("band"), col("bh"))
    val sh = Dedup.sortedShingles(b, K)
    val g = eng.newLoadGroup()
    def nextV(t: String) = { val v = eng.manifest(Db, t).maxVersion + 1; Version(v, v) }
    eng.ingest(Db, BandsTable, bands, Some(nextV(BandsTable)), group = Some(g))
    eng.ingest(Db, ShinglesTable, sh, Some(nextV(ShinglesTable)), group = Some(g))
    eng.commitGroup(g)
  }

  /** Driver fixture: bootstrap on 90% of the corpus, fold the q123 delta
    * in, then the scheduled compaction — the served tables' content is
    * reached through both maintenance paths plus the rewrite.
    */
  def engineFor(spark: SparkSession, dir: String): OlapEngine =
    Fixtures.engine("lsh-index", dir) {
      val eng = new OlapEngine(spark, Fixtures.newDir("graft-lshidx-"))
      createTables(eng)
      val d = spark.read.parquet(s"$dir/documents.parquet")
      fold(eng, d.filter(col("doc_id") % 10 =!= 0))
      fold(eng, d.filter(col("doc_id") % 10 === 0))
      eng.runScheduledCompaction()
      eng
    }

  /** UNINDEX documents — the delete half of the maintenance contract
    * ([[AnnIndex.deleteVectors]]'s analogue for the text near-dup index;
    * without it a document deleted from the corpus keeps pairing as a
    * near-dup candidate forever). `ids` (one `doc_id` column) becomes
    * tombstones in BOTH tables under ONE load group — every (doc_id, band)
    * row of `minhash_bands` plus the doc's `shingle_sets` row — so no
    * snapshot ever sees a doc's bands without its shingles or vice versa.
    * Signatures are per-document pure maps, so surviving pairs are exactly
    * the full pair set restricted to survivors: who left never changes what
    * the survivors hash to. Re-adding a deleted doc is just [[fold]] — the
    * newer upsert beats the tombstone through the ordinary Unique merge.
    */
  def deleteDocs(eng: OlapEngine, ids: DataFrame): Unit = {
    val d = ids.select(col("doc_id")).distinct().localCheckpoint(true)
    if (d.isEmpty) return // an empty batch publishes nothing
    val bandRows = d
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(Bands - 1))).as("band"))
      .withColumn("bh", lit(null).cast(LongType))
      .withColumn("__graft_del", lit(true))
    val shRows = d
      .withColumn("sh", lit(null).cast(ArrayType(StringType)))
      .withColumn("__graft_del", lit(true))
    val g = eng.newLoadGroup()
    def nextV(t: String) = { val v = eng.manifest(Db, t).maxVersion + 1; Version(v, v) }
    eng.mergeInto(Db, BandsTable, bandRows, "__graft_del",
      Some(nextV(BandsTable)), group = Some(g))
    eng.mergeInto(Db, ShinglesTable, shRows, "__graft_del",
      Some(nextV(ShinglesTable)), group = Some(g))
    eng.commitGroup(g)
  }

  /** q274 fixture: the q271 lifecycle (bootstrap 90% / fold 10% / compact)
    * plus a delete burst of every doc_id ≡ 1 (mod 5) — its OWN cached
    * engine so q271's fixture keeps serving the full corpus.
    */
  private[pipeline] def deletesEngineFor(spark: SparkSession, dir: String): OlapEngine =
    Fixtures.engine("lsh-index-deletes", dir) {
      val eng = new OlapEngine(spark, Fixtures.newDir("graft-lshidx-del-"))
      createTables(eng)
      val d = spark.read.parquet(s"$dir/documents.parquet")
      fold(eng, d.filter(col("doc_id") % 10 =!= 0))
      fold(eng, d.filter(col("doc_id") % 10 === 0))
      eng.runScheduledCompaction()
      deleteDocs(eng, d.filter(col("doc_id") % 5 === 1).select("doc_id"))
      eng
    }

  /** q271: q31's near-dup pairs SERVED from the maintained tables — the
    * candidate bucket join reads `minhash_bands`, the verify reads
    * `shingle_sets`; zero re-hashing of the corpus.
    */
  def nearDupFromTable(spark: SparkSession, dir: String,
                       threshold: Double = 0.5,
                       maxBucket: Option[Int] = None): DataFrame = {
    val eng = engineFor(spark, dir)
    Dedup.lshPairs(
      eng.scan(Db, BandsTable),
      eng.scan(Db, ShinglesTable),
      threshold, maxBucket)
  }

  /** q274: the near-dup pairs served AFTER the delete burst — a tombstone
    * lost anywhere (merge view, load-group atomicity, a band row surviving
    * its shingles) puts a deleted doc back into a pair and fails the hash;
    * an over-delete removes a survivor pair and fails it too.
    */
  def nearDupAfterDeletes(spark: SparkSession, dir: String,
                          threshold: Double = 0.5): DataFrame = {
    val eng = deletesEngineFor(spark, dir)
    Dedup.lshPairs(
      eng.scan(Db, BandsTable),
      eng.scan(Db, ShinglesTable),
      threshold, maxBucket = None)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q271_lsh_index_served" ->
      ((s: SparkSession, d: String) => nearDupFromTable(s, d)),
    "q274_lsh_index_deletes" ->
      ((s: SparkSession, d: String) => nearDupAfterDeletes(s, d)),
  )

  /** q31's oracle restricted to the documents surviving q274's delete
    * burst — exhaustive-equivalent Jaccard over `doc_id % 5 <> 1`. Derived
    * from [[Dedup.minhashOracleSql]] by filtering its first CTE, so the
    * two stay one definition; the require pins that the surgery landed.
    */
  private[graft] val deletesOracleSql: String = {
    val restricted = Dedup.minhashOracleSql.replace(
      "FROM documents)", "FROM documents WHERE doc_id % 5 <> 1)")
    require(restricted != Dedup.minhashOracleSql,
      "minhash oracle shape changed; update the q274 survivor filter")
    restricted
  }

  val oracles: Map[String, String] = Map(
    // q31's oracle VERBATIM (exhaustive-equivalent Jaccard): one answer,
    // two derivations — in-JVM signature cache vs maintained engine tables
    "q271_lsh_index_served" -> Dedup.minhashOracleSql,
    "q274_lsh_index_deletes" -> deletesOracleSql,
  )
}
