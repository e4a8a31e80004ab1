package graft.pipeline

import java.nio.file.Files
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Fixtures
import graft.catalog._
import graft.engine.OlapEngine
import graft.manifest.Version
import graft.model._

/** One tokenized view of the `documents` corpus, shared across the whole
  * text-analysis family (token counts, repetition, TF-IDF, bigram quality,
  * vocabulary coverage, BPE serving, source drift, …).
  *
  * Every member of that family starts from the SAME normalization —
  * `split(trim(lower(text)), "\s+")` — and before this cache each query
  * re-read the parquet and re-split the corpus from scratch, so the family
  * paid the tokenize CPU once per query instead of once per corpus. This is
  * the [[Dedup]] `indexCache` pattern applied to the tokenize pass: the
  * corpus-with-token-array frame persists per dir (MEMORY_AND_DISK — spills
  * rather than OOMs) and each query plans on top of it.
  *
  * The per-JVM cache is the single-JVM expression of "tokenize once, reuse
  * everywhere"; the CROSS-JVM production form is the maintained engine
  * table below ([[engineFor]] / [[fromTable]] — the [[ClusterReps]]
  * doctrine): a Unique-model `graft_idx.tokenized_corpus` table keyed by
  * doc_id holding the token array and both q39 token counts, bootstrapped
  * from the existing corpus and folded per delta batch through the engine's
  * ordinary upsert path, so a restarted job reads the table instead of
  * re-tokenizing 100 TB. q268 pins table-served ≡ recompute under q39's
  * oracle (one answer, two derivations — the q190/q194 pattern).
  *
  * Queries whose normalization differs (e.g. `trim`-only whitespace counts)
  * keep their own expressions — this cache only serves the
  * shared-normalization majority.
  */
object TokenizedCorpus {

  /** The pre-split token array column appended to `documents`. */
  val TokCol = "toks"

  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** `documents.parquet` with [[TokCol]] appended, persisted per dir. */
  def withTokens(spark: SparkSession, dir: String): DataFrame =
    cache.getOrElseUpdate(dir, {
      val p = spark.read.parquet(s"$dir/documents.parquet")
        .withColumn(TokCol, split(trim(lower(col("text"))), "\\s+"))
        .persist()
      p.count()
      p
    })

  /** Token-array column for ANY documents frame: reuses the pre-split
    * [[TokCol]] when the frame carries one (served from this cache), else
    * splits inline with the ONE shared normalization. Every consumer that
    * accepts arbitrary (doc_id, text) frames goes through here, so the
    * normalization cannot fork between the cache and the inline fallback.
    */
  def tokensOrSplit(df: DataFrame): org.apache.spark.sql.Column =
    if (df.columns.contains(TokCol)) col(TokCol)
    else split(trim(lower(col("text"))), "\\s+")

  // --- maintained engine-table twin (the cross-JVM production form) --------

  val Db = "graft_idx"
  val Table = "tokenized_corpus"

  /** Create the tokenized-corpus table on `eng` (callers owning their own
    * engine — specs). Unique-keyed by doc_id, so delta re-tokenizes are
    * ordinary upserts and replays rewrite identical rows.
    */
  def createTable(eng: OlapEngine): Unit = {
    eng.createDatabase(Db)
    eng.createTable(TableDef(
      db = Db, name = Table,
      schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("doc_id", LongType),
        ColumnSpec.value(TokCol, ArrayType(StringType)),
        ColumnSpec.value("n_ws", IntegerType),
        ColumnSpec.value("n_bpeish", IntegerType))),
      bucketColumn = Some("doc_id"), numBuckets = 4))
  }

  /** One tokenize pass over a batch → the table's row shape. Token array
    * uses THE shared normalization; the two counts use q39's exact
    * expressions, so the table can serve q39's answer bit-for-bit.
    */
  private def tokenized(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"),
      split(trim(lower(col("text"))), "\\s+").as(TokCol),
      size(split(trim(col("text")), "\\s+")).as("n_ws"),
      size(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_bpeish"))

  /** Ingest a batch (bootstrap or delta — same path; the Unique model makes
    * both an upsert).
    */
  def fold(eng: OlapEngine, batch: DataFrame): Unit = {
    val rows = tokenized(batch).localCheckpoint(true)
    if (!rows.isEmpty) {
      val v = eng.manifest(Db, Table).maxVersion + 1
      eng.ingest(Db, Table, rows, Some(Version(v, v)))
    }
  }

  /** Driver fixture: bootstrap from the corpus minus the q123 delta, fold
    * the delta in, then run scheduled compaction — the served content is
    * reached through both maintenance paths plus the compaction rewrite,
    * so q268's oracle only matches if all three are exact.
    */
  def engineFor(spark: SparkSession, dir: String): OlapEngine =
    Fixtures.engine("tokenized-corpus", dir) {
      val eng = new OlapEngine(spark, Fixtures.newDir("graft-tokcorpus-"))
      createTable(eng)
      val d = spark.read.parquet(s"$dir/documents.parquet")
      fold(eng, d.filter(col("doc_id") % 10 =!= 0))
      fold(eng, d.filter(col("doc_id") % 10 === 0))
      eng.runScheduledCompaction()
      eng
    }

  /** The maintained table, merge-on-read: (doc_id, toks, n_ws, n_bpeish). */
  def fromTable(spark: SparkSession, dir: String): DataFrame =
    engineFor(spark, dir).scan(Db, Table)

  /** q268: q39's token counts SERVED from the maintained table — zero
    * corpus scan, zero tokenize. Must hash-match q39's oracle (a corpus
    * recompute) exactly, pinning table-served ≡ recompute.
    */
  def tokenCountsServed(spark: SparkSession, dir: String): DataFrame =
    fromTable(spark, dir).select(col("doc_id"), col("n_ws"), col("n_bpeish"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q268_tokenized_served" ->
      ((s: SparkSession, d: String) => tokenCountsServed(s, d)),
  )

  val oracles: Map[String, String] = Map(
    // q39's oracle VERBATIM: one answer, two derivations (corpus recompute
    // vs maintained engine table)
    "q268_tokenized_served" -> TextAnalysis.oracles("q39_token_counts"),
  )
}
