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

/** Transparent partition pruning: a plain range/equality/IN filter on the
  * PARTITION COLUMN over a Range/List table's scan must open only the
  * qualifying partitions' directories — no partition-naming API.
  */
class PartitionPruneSpec extends AnyFunSuite {
  private lazy val spark = { val s = SparkTestSession.spark; graft.GraftExtensions.register(s); s }
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("d", StringType, nullable = false),
    StructField("v", LongType)))

  private def engine(): OlapEngine = {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-pp-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("d", StringType),
        ColumnSpec.value("v", LongType))),
      policy = PartitionPolicy.Range,
      partitionColumn = Some("d"),
      partitions = Seq(
        PartitionSpec("pa", upperExclusive = Some("2024-02"), numBuckets = 2),
        PartitionSpec("pb", upperExclusive = Some("2024-03"), numBuckets = 2),
        PartitionSpec("pc", upperExclusive = None, numBuckets = 2)),
      bucketColumn = Some("k"), numBuckets = 2))
    val rows = (0L until 90L).map { i =>
      val month = Seq("2024-01-15", "2024-02-15", "2024-03-15")((i % 3).toInt)
      Row(i, month, i * 10)
    }
    eng.ingest("db", "t", spark.createDataFrame(rows.asJava, schema), Some(Version(1, 1)))
    eng
  }

  private def filesRead(df: DataFrame): Long =
    scansOf(df).map(_.selectedPartitions.totalNumberOfFiles).sum

  /** `__graft_part` values of the files the executed plan reads. */
  private def partitionsRead(df: DataFrame): Set[String] =
    scansOf(df).flatMap(_.selectedPartitions.toPartitionArray)
      .flatMap(f => "__graft_part=([^/]+)".r.findFirstMatchIn(f.filePath.toString))
      .map(_.group(1)).toSet

  private def scansOf(df: DataFrame): Seq[FileSourceScanExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = (p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case _ => Nil
    }) ++ p.children.flatMap(scans)
    val found = scans(df.queryExecution.executedPlan)
    assert(found.nonEmpty, df.queryExecution.executedPlan.toString)
    found
  }

  test("pruning follows ADD and DROP PARTITION, and survives a reopen") {
    val wh = Files.createTempDirectory("graft-pp-ddl-wh-")
    val eng = new OlapEngine(spark, wh)
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("d", StringType),
        ColumnSpec.value("v", LongType))),
      policy = PartitionPolicy.Range,
      partitionColumn = Some("d"),
      partitions = Seq(
        PartitionSpec("pa", upperExclusive = Some("2024-02"), numBuckets = 2),
        PartitionSpec("pb", upperExclusive = Some("2024-03"), numBuckets = 2)),
      bucketColumn = Some("k"), numBuckets = 2))
    // 30 rows per month, keys 0..29 in every month (both buckets)
    def load(months: Seq[String], v: Long): Unit = eng.ingest("db", "t",
      spark.createDataFrame(months.flatMap(m => (0L until 30L).map(i => Row(i, m, i)))
        .asJava, schema), Some(Version(v, v)))
    load(Seq("2024-01-15", "2024-02-15"), 1)
    eng.addPartition("db", "t",
      PartitionSpec("pc", upperExclusive = Some("2024-04"), numBuckets = 2))
    load(Seq("2024-01-15", "2024-02-15", "2024-03-15"), 2)
    def newMonth(e: OlapEngine) = e.scan("db", "t").filter(col("d") === "2024-03-15")
    def beforeMarch(e: OlapEngine) = e.scan("db", "t").filter(col("d") < "2024-03")
    // the added partition routes the filter: only pc's 2 bucket files
    assert(newMonth(eng).count() == 30L)
    assert(partitionsRead(newMonth(eng)) == Set("pc"))
    assert(filesRead(newMonth(eng)) == 2L)
    assert(partitionsRead(beforeMarch(eng)) == Set("pa", "pb"))
    eng.dropPartition("db", "t", "pa")
    // the dropped partition's files are no longer read
    assert(beforeMarch(eng).count() == 60L) // pb's rows in both rowsets
    assert(!partitionsRead(beforeMarch(eng)).contains("pa"))
    // the DROP PARTITION marker's mask on the rowsets older than it must not
    // switch partition pruning off: the new month still reads only pc
    assert(newMonth(eng).count() == 30L)
    assert(partitionsRead(newMonth(eng)) == Set("pc"))
    assert(filesRead(newMonth(eng)) == 2L)
    val files = (filesRead(newMonth(eng)), filesRead(beforeMarch(eng)))
    // a fresh engine over the warehouse reads the same files
    val reopened = new OlapEngine(spark, wh)
    assert(newMonth(reopened).count() == 30L && beforeMarch(reopened).count() == 60L)
    assert(partitionsRead(newMonth(reopened)) == Set("pc"))
    assert(filesRead(newMonth(reopened)) == 2L)
    assert((filesRead(newMonth(reopened)), filesRead(beforeMarch(reopened))) == files)
  }

  test("range predicate opens only the qualifying partitions") {
    val eng = engine()
    assert(filesRead(eng.scan("db", "t")) == 6L) // 3 partitions x 2 buckets
    val q = eng.scan("db", "t").filter(col("d") < "2024-02")
    assert(q.count() == 30L)
    assert(filesRead(eng.scan("db", "t").filter(col("d") < "2024-02")) == 2L)
    // boundary-overlapping range keeps both candidates
    assert(filesRead(eng.scan("db", "t").filter(col("d") >= "2024-02-20")) == 4L)
    assert(eng.scan("db", "t").filter(col("d") >= "2024-02-20").count() == 30L)
  }

  test("equality and IN map to single partitions; composes with bucket pruning") {
    val eng = engine()
    assert(filesRead(eng.scan("db", "t").filter(col("d") === "2024-03-15")) == 2L)
    assert(filesRead(eng.scan("db", "t")
      .filter(col("d").isin("2024-01-15", "2024-02-15"))) == 4L)
    // partition + bucket pruning stack: one partition, one bucket -> 1 file
    val both = eng.scan("db", "t")
      .filter(col("d") === "2024-03-15" && col("k") === 2L)
    assert(both.collect().map(_.getLong(2)).toSeq == Seq(20L))
    assert(filesRead(eng.scan("db", "t")
      .filter(col("d") === "2024-03-15" && col("k") === 2L)) == 1L)
  }

  test("randomized equivalence: pruned scans return exactly the unpruned rows") {
    val eng = engine()
    // ground truth evaluated in plain Scala on the collected table
    val all = eng.scan("db", "t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val dates = Seq("2024-01-01", "2024-01-15", "2024-02", "2024-02-15",
      "2024-02-20", "2024-03", "2024-03-15", "2024-12")
    val rnd = new scala.util.Random(42)
    (1 to 40).foreach { i =>
      val mode = rnd.nextInt(5)
      val d = dates(rnd.nextInt(dates.size))
      val d2 = dates(rnd.nextInt(dates.size))
      val k = rnd.nextInt(95).toLong
      val (cond, expect) = mode match {
        case 0 => (col("d") < d, all.filter(_._2 < d))
        case 1 => (col("d") >= d, all.filter(_._2 >= d))
        case 2 => (col("d") === d, all.filter(_._2 == d))
        case 3 => (col("d") >= d && col("k") === k,
          all.filter(t => t._2 >= d && t._1 == k))
        // OR at the top level: no column owns a conjunct — must not prune,
        // and must certainly not lose rows
        case _ => (col("d").isin(d, d2) || col("k") === k,
          all.filter(t => t._2 == d || t._2 == d2 || t._1 == k))
      }
      val got = eng.scan("db", "t").filter(cond).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(got.toSet == expect.toSet, s"iteration $i: $cond")
    }
  }

  test("non-literal comparison on the partition column does not prune") {
    val eng = engine()
    // the comparand is an EXPRESSION over columns, not a literal — there is
    // no interval to route, so the rewrite must leave the scan whole (a
    // misfire would pick some partition subset and drop rows). substring
    // reproduces d exactly, so the filter is a row-preserving identity.
    val q = eng.scan("db", "t").filter(col("d") === substring(col("d"), 1, 10))
    assert(q.count() == 90L)
    assert(filesRead(eng.scan("db", "t")
      .filter(col("d") === substring(col("d"), 1, 10))) == 6L)
  }

  test("non-partition filters and unsafe column types do not prune") {
    val eng = engine()
    assert(filesRead(eng.scan("db", "t").filter(col("v") > 100L)) == 6L)
    // integral partition key: string order != typed order, never registered
    val eng2 = new OlapEngine(spark, Files.createTempDirectory("graft-pp-int-"))
    eng2.createDatabase("db")
    eng2.createTable(TableDef(
      db = "db", name = "ti", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("v", LongType))),
      policy = PartitionPolicy.Range,
      partitionColumn = Some("k"),
      partitions = Seq(
        PartitionSpec("p0", upperExclusive = Some("5"), numBuckets = 1),
        PartitionSpec("p1", upperExclusive = None, numBuckets = 1)),
      bucketColumn = Some("k"), numBuckets = 1))
    import spark.implicits._
    eng2.ingest("db", "ti", Seq((1L, 1L), (10L, 10L), (9L, 9L)).toDF("k", "v"),
      Some(Version(1, 1)))
    // "10" < "5" in string space: the row lives in p0; a typed k >= 9 filter
    // must NOT prune p0 away — and it doesn't, because integral partition
    // columns are never registered for transparent pruning
    assert(eng2.scan("db", "ti").filter(col("k") >= 9L).count() == 2L)
  }
}
