package graft.plans

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestSession
import graft.catalog._
import graft.engine.OlapEngine
import graft.manifest.Version
import graft.model._

/** Transparent bucket pruning: a plain `key = lit` / `key IN (...)` filter
  * over a hash-bucketed table's scan must read only the matching
  * `__graft_bucket=N` directories — without the engine's lookup API.
  */
class BucketPruneSpec extends AnyFunSuite {
  private lazy val spark = { val s = SparkTestSession.spark; graft.GraftExtensions.register(s); s }

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType)))

  private def engine(buckets: Int): OlapEngine = {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-bp-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("v", LongType))),
      bucketColumn = Some("k"), numBuckets = buckets))
    import scala.jdk.CollectionConverters._
    // parity split (NOT a range split): both rowsets span [0,511], so the
    // rowset-level zone maps (ScanPruneRewrite) can never exclude a
    // rowset and this suite keeps pinning BUCKET pruning in isolation
    eng.ingest("db", "t", spark.createDataFrame(
      (0L until 512L).filter(_ % 2 == 0).map(i => Row(i, i * 10)).asJava,
      schema), Some(Version(1, 1)))
    eng.ingest("db", "t", spark.createDataFrame(
      (0L until 512L).filter(_ % 2 == 1).map(i => Row(i, i * 10)).asJava,
      schema), Some(Version(2, 2)))
    eng
  }

  /** Files actually selected by every parquet scan in the executed plan
    * (descending into AQE query stages and reused exchanges).
    */
  private def filesRead(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    df.collect() // finalize AQE
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = (p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case _ => Nil
    }) ++ p.children.flatMap(scans)
    val found = scans(df.queryExecution.executedPlan)
    assert(found.nonEmpty, df.queryExecution.executedPlan.toString)
    found.map(_.selectedPartitions.totalNumberOfFiles).sum
  }

  test("point filter reads only the key's bucket directories") {
    val eng = engine(buckets = 8)
    val all = filesRead(eng.scan("db", "t"))
    val q = eng.scan("db", "t").filter(col("k") === 123L)
    assert(q.collect().map(_.getLong(1)).toSeq == Seq(1230L))
    val pruned = filesRead(eng.scan("db", "t").filter(col("k") === 123L))
    // 8 buckets x 2 rowsets: the full scan reads all 16, the point read 2
    assert(all == 16L, s"expected 16 files in the full scan, got $all")
    assert(pruned == 2L, s"expected 2 files after pruning, got $pruned")
  }

  test("IN-list filter reads the union of the keys' buckets") {
    val eng = engine(buckets = 8)
    val ks = Seq(5L, 123L, 400L)
    val expectBuckets = ks.map(k => BucketType.Hash.bucketForKey(k.toString, 8)).distinct.size
    val q = eng.scan("db", "t").filter(col("k").isin(ks: _*))
    assert(q.collect().map(_.getLong(0)).toSet == ks.toSet)
    assert(filesRead(eng.scan("db", "t").filter(col("k").isin(ks: _*))) ==
      expectBuckets.toLong * 2)
  }

  test("non-key filters and non-routable literals do not prune") {
    val eng = engine(buckets = 8)
    // value-column equality: no routing possible, full read, right answer
    assert(filesRead(eng.scan("db", "t").filter(col("v") === 1230L)) == 16L)
    // range predicate on the key: not an equality, full read
    assert(filesRead(eng.scan("db", "t").filter(col("k") < 10L)) == 16L)
    assert(eng.scan("db", "t").filter(col("k") < 10L).count() == 10L)
  }

  test("non-literal equality on the bucket key does not prune") {
    val eng = engine(buckets = 8)
    // k === v is an equality ON the registered key, but the comparand is a
    // COLUMN — no literal to route, so the rewrite must not fire (a misfire
    // here would read one arbitrary bucket and silently drop rows)
    val q = eng.scan("db", "t").filter(col("k") === col("v"))
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(0L)) // v = k*10, equal only at 0
    assert(filesRead(eng.scan("db", "t").filter(col("k") === col("v"))) == 16L)
  }

  test("top-level disjunction with a non-key arm does not prune") {
    val eng = engine(buckets = 8)
    // k = 5 OR v = 1230: the v-arm can match rows in ANY bucket, so pruning
    // to k=5's bucket would lose the k=123 row the v-arm selects
    val q = eng.scan("db", "t").filter(col("k") === 5L || col("v") === 1230L)
    assert(q.collect().map(_.getLong(0)).toSet == Set(5L, 123L))
    assert(filesRead(eng.scan("db", "t")
      .filter(col("k") === 5L || col("v") === 1230L)) == 16L)
  }

  test("pruning composes with the merge-on-read path (Unique model)") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-bp-uq-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "u", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("v", LongType))),
      bucketColumn = Some("k"), numBuckets = 8))
    import scala.jdk.CollectionConverters._
    eng.ingest("db", "u", spark.createDataFrame(
      (0L until 64L).map(i => Row(i, i)).asJava, schema), Some(Version(1, 1)))
    eng.ingest("db", "u", spark.createDataFrame(
      Seq(Row(7L, 777L)).asJava, schema), Some(Version(2, 2)))
    val q = eng.scan("db", "u").filter(col("k") === 7L)
    assert(q.collect().map(_.getLong(1)).toSeq == Seq(777L))
    // both rowsets contribute only their k=7 bucket dir
    assert(filesRead(eng.scan("db", "u").filter(col("k") === 7L)) == 2L)
  }
}
