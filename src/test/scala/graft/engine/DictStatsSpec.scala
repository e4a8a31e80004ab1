package graft.engine

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestSession
import graft.catalog._
import graft.manifest.{DictStats, Version}
import graft.model._

/** Per-rowset VALUE HISTOGRAM sidecars ([[graft.manifest.DictStats]]) and
  * the metadata-served GROUP BY they power ([[OlapEngine.groupCounts]] +
  * [[graft.plans.StatsAggRewrite]]'s grouped path): exact fold across
  * loads, cap refusal, delete-marker/merge-model refusals, compaction
  * rebuild, and serve ≡ rule-off scan equality.
  */
class DictStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("cls", StringType),
    StructField("v", DoubleType)))

  private def mkEngine(keysType: KeysType = KeysType.Duplicate): OlapEngine = {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-dict-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(keysType, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("cls", StringType),
        ColumnSpec.value("v", DoubleType))),
      bucketColumn = Some("k"), numBuckets = 2,
      dictStatsColumns = Seq("cls")))
    eng
  }

  private def load(eng: OlapEngine, r: Range, v: Long,
                   cls: Long => String = i => s"c${i % 3}"): Unit =
    eng.ingest("db", "t", spark.createDataFrame(
      r.map(i => Row(i.toLong, cls(i.toLong), i * 1.0)).asJava, schema),
      Some(Version(v, v)))

  private def relations(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }.size

  test("fold across loads equals the scan's groupBy, nulls included") {
    val eng = mkEngine()
    load(eng, 0 until 90, 1)
    load(eng, 100 until 160, 2,
      i => if (i % 10 == 0) null else s"c${i % 3}")
    val got = eng.groupCounts("db", "t", "cls").get._2
      .map { case (v, n) => v.getOrElse("<null>") -> n }.toMap
    val want = eng.scan("db", "t").groupBy("cls").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("<null>") -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("transparent grouped rewrite: zero relations, equals the rule-off scan") {
    val eng = mkEngine()
    load(eng, 0 until 200, 1)
    load(eng, 200 until 300, 2)
    graft.GraftExtensions.register(spark)
    val df = eng.scan("db", "t").groupBy(col("cls"))
      .agg(count(lit(1)).as("n"), count(col("cls")).as("nt"))
    assert(relations(df) == 0, "the grouped serve must delete the scan")
    val served = df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    graft.GraftExtensions.withoutRules(spark, graft.plans.StatsAggRewrite) {
      val scanned = eng.scan("db", "t").groupBy(col("cls"))
        .agg(count(lit(1)).as("n"), count(col("cls")).as("nt"))
      assert(relations(scanned) > 0)
      val want = scanned.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(served == want)
    }
  }

  test("non-servable shapes keep the scan: other aggregates, expressions, " +
    "undeclared columns") {
    val eng = mkEngine()
    load(eng, 0 until 50, 1)
    graft.GraftExtensions.register(spark)
    // sum over another column cannot come from the histogram
    assert(relations(eng.scan("db", "t").groupBy(col("cls"))
      .agg(sum(col("v")))) > 0)
    // expression group keys are not a dict column
    assert(relations(eng.scan("db", "t").groupBy((col("k") % 2).as("p"))
      .agg(count(lit(1)))) > 0)
    // grouping on an undeclared column
    assert(relations(eng.scan("db", "t").groupBy(col("v"))
      .agg(count(lit(1)))) > 0)
  }

  test("cap: a rowset past MaxDistinct writes NO sidecar and the fold refuses") {
    val eng = mkEngine()
    load(eng, 0 until (DictStats.MaxDistinct + 10), 1, i => s"u$i")
    assert(eng.manifest("db", "t").visibleRowsets.head.dictCols.isEmpty)
    assert(eng.groupCounts("db", "t", "cls").isEmpty)
  }

  test("delete markers and merge models refuse; compaction re-arms the serve") {
    val eng = mkEngine()
    load(eng, 0 until 60, 1)
    eng.deleteWhere("db", "t", "v < 10.0", Some(Version(2, 2)))
    assert(eng.groupCounts("db", "t", "cls").isEmpty,
      "a masked covering set must refuse — the histogram counts masked rows")
    eng.compact("db", "t")
    val after = eng.groupCounts("db", "t", "cls")
    assert(after.isDefined, "full compaction physicalizes the delete and " +
      "re-harvests the histogram")
    val want = eng.scan("db", "t").groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after.get._2.map { case (v, n) => v.get -> n }.toMap == want)
    // merge models refuse at CREATE: raw per-value counts can never serve
    // there, so the per-load histogram job would be pure waste forever
    assertThrows[IllegalArgumentException](mkEngine(KeysType.Unique))
  }

  test("SHOW ROWSETS lists the dict inventory; restart serves from disk") {
    val eng = mkEngine()
    load(eng, 0 until 30, 1)
    val inv = eng.describeRowsets("db", "t").select("dict_cols").collect()
    assert(inv.head.getString(0) == "cls")
    DictStats.clearCache()
    val eng2 = new OlapEngine(spark, eng.warehouse)
    val got = eng2.groupCounts("db", "t", "cls").get._2
    assert(got.map(_._2).sum == 30L)
  }
}
