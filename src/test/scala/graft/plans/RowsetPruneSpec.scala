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
import graft.manifest.{TableManifest, Version}
import graft.model._

/** Rowset-level zone maps: footer harvest into the manifest, transparent
  * rowset pruning (a range-disjoint rowset's branch never lists a file),
  * and metadata-served MIN/MAX.
  */
class RowsetPruneSpec extends AnyFunSuite {
  private lazy val spark = { val s = SparkTestSession.spark; graft.GraftExtensions.register(s); s }
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", DoubleType),
    StructField("s", StringType),
    StructField("d", DateType)))

  private def mkRow(i: Long, nullV: Boolean = false): Row =
    Row(i, if (nullV) null else i * 1.5, f"s$i%04d",
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000 + i)))

  /** Two rowsets with DISJOINT key ranges: [0,100) and [100,200). */
  private def engine(): OlapEngine = {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-rp-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("v", DoubleType),
        ColumnSpec.value("s", StringType),
        ColumnSpec.value("d", DateType))),
      bucketColumn = Some("k"), numBuckets = 2))
    eng.ingest("db", "t", spark.createDataFrame(
      (0L until 100L).map(i => mkRow(i, nullV = i == 3)).asJava, schema),
      Some(Version(1, 1)))
    eng.ingest("db", "t", spark.createDataFrame(
      (100L until 200L).map(i => mkRow(i)).asJava, schema), Some(Version(2, 2)))
    eng
  }

  private def scansIn(df: DataFrame): Int = {
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
    scans(df.queryExecution.executedPlan).size
  }

  test("ingest harvests per-column zone maps into the manifest") {
    val eng = engine()
    val rs = eng.manifest("db", "t").visibleRowsets.sortBy(_.rowsetId)
    assert(rs.size == 2)
    val s0 = rs.head.stats
    assert(s0("k").kind == "i" && s0("k").min.contains("0") && s0("k").max.contains("99"))
    assert(s0("k").nullCount == 0)
    assert(s0("v").kind == "f" && s0("v").nullCount == 1)
    assert(s0("v").min.get.toDouble == 0.0 && s0("v").max.get.toDouble == 148.5)
    assert(s0("s").kind == "s" && s0("s").min.contains("s0000") && s0("s").max.contains("s0099"))
    assert(s0("d").kind == "i" && s0("d").min.contains("19000") && s0("d").max.contains("19099"))
    // second rowset is the disjoint upper half
    assert(rs(1).stats("k").min.contains("100") && rs(1).stats("k").max.contains("199"))
  }

  test("zone maps survive a manifest reload") {
    val eng = engine()
    val reloaded = new TableManifest(eng.tableRoot("db", "t"))
    val rs = reloaded.visibleRowsets.sortBy(_.rowsetId)
    assert(rs.head.stats("k").max.contains("99"))
    assert(rs.head.stats("v").nullCount == 1)
  }

  test("a filter disjoint from a rowset's range drops its scan branch") {
    val eng = engine()
    // both rowsets scanned unfiltered
    assert(scansIn(eng.scan("db", "t")) == 2)
    // k >= 150 excludes rowset 1 entirely
    val q = eng.scan("db", "t").filter(col("k") >= 150L)
    assert(q.count() == 50L)
    assert(scansIn(eng.scan("db", "t").filter(col("k") >= 150L)) == 1)
    // equality in the lower range excludes rowset 2
    assert(scansIn(eng.scan("db", "t").filter(col("k") === 7L)) == 1)
    // double, string, and date bounds prune too
    assert(scansIn(eng.scan("db", "t").filter(col("v") < 100.0)) == 1)
    assert(scansIn(eng.scan("db", "t").filter(col("s") > "s0150")) == 1)
    assert(scansIn(eng.scan("db", "t").filter(col("s").startsWith("s00"))) == 1)
    assert(scansIn(eng.scan("db", "t").filter(
      col("d") < java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19050)))) == 1)
    // overlapping predicate keeps both
    assert(scansIn(eng.scan("db", "t").filter(col("k") > 50L)) == 2)
  }

  test("pruned plans return exactly what unpruned plans return") {
    val eng = engine()
    val preds = Seq(col("k") >= 150L, col("k") === 7L, col("v") < 100.0,
      col("s") > "s0150", col("k").isin(5L, 105L), col("v").isNull)
    val withRule = preds.map(p =>
      eng.scan("db", "t").filter(p).orderBy("k").collect().toSeq)
    // excluding the rule through the session conf observes the true
    // unpruned plan
    graft.GraftExtensions.withoutRules(spark, RowsetPruneRewrite) {
      val without = preds.map(p =>
        eng.scan("db", "t").filter(p).orderBy("k").collect().toSeq)
      assert(withRule == without)
      assert(scansIn(eng.scan("db", "t").filter(col("k") >= 150L)) == 2,
        "excluded rule must leave every branch")
    }
  }

  test("IS NULL prunes a null-free rowset; all-null columns prune comparisons") {
    val eng = engine()
    // v has one null in rowset 1, none in rowset 2
    assert(scansIn(eng.scan("db", "t").filter(col("v").isNull)) == 1)
    // all-null column: comparison conjuncts can never match
    val eng2 = new OlapEngine(spark, Files.createTempDirectory("graft-rp-nul-"))
    eng2.createDatabase("db")
    eng2.createTable(TableDef(
      db = "db", name = "n", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("v", DoubleType),
        ColumnSpec.value("s", StringType), ColumnSpec.value("d", DateType))),
      bucketColumn = Some("k"), numBuckets = 1))
    eng2.ingest("db", "n", spark.createDataFrame(
      (0L until 10L).map(i => Row(i, null, null, null)).asJava, schema),
      Some(Version(1, 1)))
    assert(eng2.scan("db", "n").filter(col("v") > 0.0).count() == 0L)
    assert(scansIn(eng2.scan("db", "n").filter(col("v") > 0.0)) == 0)
    assert(scansIn(eng2.scan("db", "n").filter(col("s").isNotNull)) == 0)
    // IS NULL on the all-null column must NOT prune
    assert(eng2.scan("db", "n").filter(col("v").isNull).count() == 10L)
  }

  test("pruning composes with merge-on-read (Unique model)") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-rp-uq-"))
    eng.createDatabase("db")
    val uqSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", LongType)))
    eng.createTable(TableDef(
      db = "db", name = "u", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("v", LongType))),
      bucketColumn = Some("k"), numBuckets = 2))
    eng.ingest("db", "u", spark.createDataFrame(
      (0L until 100L).map(i => Row(i, i)).asJava, uqSchema), Some(Version(1, 1)))
    // upsert k=7 only: rowset 2's zone map is [7,7]
    eng.ingest("db", "u", spark.createDataFrame(
      Seq(Row(7L, 777L)).asJava, uqSchema), Some(Version(2, 2)))
    // k=50: rowset 2 pruned, merge still sees rowset 1's row
    assert(eng.scan("db", "u").filter(col("k") === 50L)
      .collect().map(_.getLong(1)).toSeq == Seq(50L))
    assert(scansIn(eng.scan("db", "u").filter(col("k") === 50L)) == 1)
    // k=7: both survive, latest wins
    assert(eng.scan("db", "u").filter(col("k") === 7L)
      .collect().map(_.getLong(1)).toSeq == Seq(777L))
  }

  test("metadata-served MIN/MAX equals the scanned aggregate") {
    val eng = engine()
    val (served, fromMeta) = eng.minMaxStats("db", "t", Seq("k", "v", "s", "d"))
    assert(fromMeta, "expected metadata serve on a stats-complete Duplicate table")
    val scanned = eng.scan("db", "t").agg(
      min(col("k")).as("min_k"), max(col("k")).as("max_k"),
      min(col("v")).as("min_v"), max(col("v")).as("max_v"),
      min(col("s")).as("min_s"), max(col("s")).as("max_s"),
      min(col("d")).as("min_d"), max(col("d")).as("max_d"))
    assert(served.select(scanned.columns.map(col): _*).collect().toSeq ==
      scanned.collect().toSeq)
  }

  test("metadata MIN/MAX falls back on delete markers and non-Duplicate models") {
    val eng = engine()
    eng.deleteWhere("db", "t", "k = 199", Some(Version(3, 3)))
    val (served, fromMeta) = eng.minMaxStats("db", "t", Seq("k"))
    assert(!fromMeta, "delete marker must force the scan fallback")
    // the fallback is CORRECT: 199 is masked, so max is 198
    assert(served.collect().head.getLong(1) == 198L)
  }

  test("SHOW STATS face lists folded per-column bounds") {
    val eng = engine()
    val rows = eng.describeStats("db", "t").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("k").getString(1) == "0" && rows("k").getString(2) == "199")
    assert(rows("v").getLong(3) == 1L) // one null
    assert(rows("k").getLong(4) == 2L && rows("k").getLong(5) == 2L)
  }

  test("widened int->double columns serve from mixed-kind stats") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-rp-wid-"))
    eng.createDatabase("db")
    val intSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("w", IntegerType)))
    eng.createTable(TableDef(
      db = "db", name = "w", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("w", IntegerType))),
      bucketColumn = Some("k"), numBuckets = 1))
    eng.ingest("db", "w", spark.createDataFrame(
      (0L until 100L).map(i => Row(i, i.toInt * 10)).asJava, intSchema),
      Some(Version(1, 1)))
    eng.modifyColumnType("db", "w", "w", DoubleType)
    // all rowsets still "i"-kind under a double declared type: top-k's
    // phase-2 compare must not parse the double-rendered L as a long
    val (tk, read) = eng.topKByStats("db", "w", "w", 5)
    assert(read >= 1)
    assert(tk.select("w").collect().map(_.getDouble(0)).toSeq ==
      Seq(990.0, 980.0, 970.0, 960.0, 950.0))
    // a post-widen double load mixes "f" stats in; zoneFold folds across kinds
    val dblSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("w", DoubleType)))
    eng.ingest("db", "w", spark.createDataFrame(
      Seq(Row(100L, 1234.5), Row(101L, -3.25)).asJava, dblSchema),
      Some(Version(2, 2)))
    val kinds = eng.manifest("db", "w").visibleRowsets.map(_.stats("w").kind)
    assert(kinds.toSet == Set("i", "f"), s"expected mixed kinds, got $kinds")
    val (served, fromMeta) = eng.minMaxStats("db", "w", Seq("w"))
    assert(fromMeta, "mixed-kind stats must still serve a widened column")
    assert(served.collect().head.toSeq == Seq(-3.25, 1234.5))
    val stats = eng.describeStats("db", "w").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(stats("w").getString(1).toDouble == -3.25)
    assert(stats("w").getString(2).toDouble == 1234.5)
  }

  test("compaction re-harvests stats for the merged rowset") {
    val eng = engine()
    eng.compact("db", "t")
    val rs = eng.manifest("db", "t").visibleRowsets
    assert(rs.size == 1)
    assert(rs.head.stats("k").min.contains("0") && rs.head.stats("k").max.contains("199"))
    val (_, fromMeta) = eng.minMaxStats("db", "t", Seq("k"))
    assert(fromMeta)
  }
}
