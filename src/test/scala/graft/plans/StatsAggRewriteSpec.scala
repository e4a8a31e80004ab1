package graft.plans

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestSession
import graft.catalog._
import graft.engine.OlapEngine
import graft.manifest.Version
import graft.model._

/** Transparent metadata aggregates: group-less MIN/MAX/COUNT over a full
  * engine snapshot scan answer from the manifest with the scan deleted from
  * the plan; anything the zone maps can't serve exactly is left untouched.
  */
class StatsAggRewriteSpec extends AnyFunSuite {
  private lazy val spark = { val s = SparkTestSession.spark; graft.GraftExtensions.register(s); s }
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", DoubleType),
    StructField("s", StringType)))

  private def mkEngine(model: KeysType = KeysType.Duplicate): OlapEngine = {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-sar-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(model, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("v", DoubleType),
        ColumnSpec.value("s", StringType))),
      bucketColumn = Some("k"), numBuckets = 2))
    eng.ingest("db", "t", spark.createDataFrame(
      (0L until 100L).map(i =>
        Row(i, if (i == 7) null else i * 2.0, f"s$i%03d")).asJava, schema),
      Some(Version(1, 1)))
    eng.ingest("db", "t", spark.createDataFrame(
      (100L until 150L).map(i => Row(i, i * 2.0, f"s$i%03d")).asJava, schema),
      Some(Version(2, 2)))
    eng
  }

  private def scans(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }.size

  private def agg(eng: OlapEngine): DataFrame =
    eng.scan("db", "t").agg(
      min(col("k")).as("mnk"), max(col("k")).as("mxk"),
      min(col("v")).as("mnv"), max(col("v")).as("mxv"),
      min(col("s")).as("mns"), max(col("s")).as("mxs"),
      count(lit(1)).as("n"), count(col("v")).as("nv"))

  test("group-less MIN/MAX/COUNT serve from metadata with no scan in the plan") {
    val eng = mkEngine()
    val df = agg(eng)
    assert(scans(df) == 0, df.queryExecution.optimizedPlan.toString)
    val served = df.collect().head
    graft.GraftExtensions.withoutRules(spark, StatsAggRewrite) {
      val scanned = agg(eng)
      assert(scans(scanned) == 2)
      assert(served == scanned.collect().head,
        "metadata-served row must equal the scanned aggregate")
    }
    assert(served.getLong(6) == 150L && served.getLong(7) == 149L) // one null v
    assert(served.getDouble(3) == 298.0 && served.getString(5) == "s149")
  }

  test("filters, grouping, distinct, and delete markers refuse the rewrite") {
    val eng = mkEngine()
    assert(scans(eng.scan("db", "t").filter(col("k") > 10L)
      .agg(max(col("k")).as("m"))) >= 1)
    assert(scans(eng.scan("db", "t").groupBy(col("s"))
      .agg(max(col("k")).as("m"))) >= 1)
    assert(scans(eng.scan("db", "t")
      .agg(count_distinct(col("k")).as("m"))) >= 1)
    eng.deleteWhere("db", "t", "k = 149", Some(Version(3, 3)))
    val df = eng.scan("db", "t").agg(max(col("k")).as("m"))
    assert(scans(df) >= 1, "delete markers must force the scan")
    assert(df.collect().head.getLong(0) == 148L)
  }

  test("non-Duplicate models refuse the rewrite (merge-on-read suppresses rows)") {
    val eng = mkEngine(KeysType.Unique)
    val df = eng.scan("db", "t").agg(max(col("k")).as("m"))
    assert(scans(df) >= 1)
    assert(df.collect().head.getLong(0) == 149L)
  }

  // --- SUM/AVG from sum_stats_columns ---------------------------------------

  private val sumSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("i", IntegerType),
    StructField("z", LongType)))

  private def mkSumEngine(vals: Seq[Seq[Row]],
      declare: Boolean = true): OlapEngine = {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-sas-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("i", IntegerType),
        ColumnSpec.value("z", LongType))),
      bucketColumn = Some("k"), numBuckets = 2,
      sumStatsColumns = if (declare) Seq("k", "i", "z") else Nil))
    vals.zipWithIndex.foreach { case (rows, v) =>
      eng.ingest("db", "t", spark.createDataFrame(rows.asJava, sumSchema),
        Some(Version(v + 1L, v + 1L)))
    }
    eng
  }

  test("group-less SUM/AVG/COUNT serve from the exact per-rowset sums") {
    val eng = mkSumEngine(Seq(
      (0L until 100L).map(i => Row(i, if (i == 3) null else i.toInt, i * 7L)),
      (100L until 150L).map(i => Row(i, i.toInt, i * 7L))))
    def q(): DataFrame = eng.scan("db", "t").agg(
      sum(col("k")).as("sk"), sum(col("i")).as("si"), sum(col("z")).as("sz"),
      avg(col("i")).as("ai"), count(col("i")).as("ni"))
    val df = q()
    assert(scans(df) == 0, df.queryExecution.optimizedPlan.toString)
    val served = df.collect().head
    graft.GraftExtensions.withoutRules(spark, StatsAggRewrite) {
      val scanned = q()
      assert(scans(scanned) == 2)
      assert(served == scanned.collect().head,
        "metadata-served SUM/AVG must equal the scanned aggregate")
    }
    assert(served.getLong(0) == (0L until 150L).sum)
    assert(served.getLong(1) == (0L until 150L).sum - 3L)
    assert(served.getLong(2) == (0L until 150L).map(_ * 7L).sum)
    assert(served.getDouble(3) ==
      ((0L until 150L).sum - 3L).toDouble / 149.0)
    assert(served.getLong(4) == 149L)
  }

  test("SUM refusals: undeclared columns, overflow, and double-rounding AVG") {
    // not declared: no sums harvested, serve refuses, scan answers
    val noDecl = mkSumEngine(Seq(Seq(Row(1L, 2, 3L))), declare = false)
    assert(scans(noDecl.scan("db", "t").agg(sum(col("k")).as("s"))) >= 1)
    // total beyond Long range: serve refuses (the scan owns the overflow
    // behavior, wrap or ANSI error) — assert the plan only, never collect
    val big = mkSumEngine(Seq(
      Seq(Row(1L, 1, Long.MaxValue / 2), Row(2L, 1, Long.MaxValue / 2)),
      Seq(Row(3L, 1, Long.MaxValue / 2), Row(4L, 1, Long.MaxValue / 2))))
    assert(scans(big.scan("db", "t").agg(sum(col("z")).as("s"))) >= 1,
      "a Long-overflowing total must refuse the serve")
    // ... while the same table's non-overflowing column still serves
    assert(scans(big.scan("db", "t").agg(sum(col("k")).as("s"))) == 0)
    // AVG with nonNull × maxAbs > 2^53: Spark's double accumulation could
    // round, so the serve must refuse even though SUM itself serves
    val wide = mkSumEngine(Seq(
      Seq(Row(1L, 1, 1L << 60), Row(2L, 1, (1L << 60) + 3L))))
    assert(scans(wide.scan("db", "t").agg(sum(col("z")).as("s"))) == 0)
    assert(scans(wide.scan("db", "t").agg(avg(col("z")).as("a"))) >= 1,
      "an exactness-unprovable AVG must refuse the serve")
    // float sum_stats declarations are refused at the catalog tier
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-sas-wh-"))
    eng.createDatabase("db")
    intercept[IllegalArgumentException] {
      eng.createTable(TableDef(
        db = "db", name = "f", schema = TableSchema(KeysType.Duplicate, Seq(
          ColumnSpec.key("k", LongType), ColumnSpec.value("v", DoubleType))),
        bucketColumn = Some("k"), numBuckets = 1,
        sumStatsColumns = Seq("v")))
    }
  }

  test("all-null SUM serves SQL NULL; AVG of zero non-null serves NULL") {
    val eng = mkSumEngine(Seq(
      Seq(Row(1L, null, 1L), Row(2L, null, 2L)),
      Seq(Row(3L, null, 3L))))
    val df = eng.scan("db", "t").agg(
      sum(col("i")).as("si"), avg(col("i")).as("ai"))
    assert(scans(df) == 0)
    val r = df.collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("late sum_stats declaration: scan until compaction backfills the sums") {
    val eng = mkSumEngine(Seq(
      (0L until 50L).map(i => Row(i, i.toInt, i * 3L))), declare = false)
    eng.alterProperties("db", "t", Seq("sum_stats_columns" -> "k,z"))
    // the pre-declaration rowset has no sums: serve refuses
    assert(scans(eng.scan("db", "t").agg(sum(col("z")).as("s"))) >= 1)
    // compaction rewrites under the current declaration and re-harvests
    eng.compact("db", "t")
    val df = eng.scan("db", "t").agg(sum(col("z")).as("s"))
    assert(scans(df) == 0, "post-compaction sums must serve")
    assert(df.collect().head.getLong(0) == (0L until 50L).map(_ * 3L).sum)
  }

  test("a new load is visible immediately (freshness is per-query, not cached)") {
    val eng = mkEngine()
    assert(agg(eng).collect().head.getLong(1) == 149L)
    eng.ingest("db", "t", spark.createDataFrame(
      Seq(Row(999L, 5.0, "zzz")).asJava, schema), Some(Version(3, 3)))
    val df = agg(eng)
    assert(scans(df) == 0)
    val r = df.collect().head
    assert(r.getLong(1) == 999L && r.getString(5) == "zzz" && r.getLong(6) == 151L)
  }
}
