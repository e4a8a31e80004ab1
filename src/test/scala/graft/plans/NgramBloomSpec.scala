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
import graft.manifest.{RowsetBloom, TableManifest, Version}
import graft.model._

/** Rowset-level character-TRIGRAM index (Doris NGRAM_BF at the rowset tier):
  * sidecars built at every data write over every 3-gram of every value, and
  * substring predicates — LIKE '%needle%' (Contains), prefix, suffix,
  * equality — prune rowsets where ANY needle gram is absent. Zone maps can
  * never refute containment (it is orderless), so every prune observed here
  * is the trigram index's.
  */
class NgramBloomSpec extends AnyFunSuite {
  private lazy val spark = { val s = SparkTestSession.spark; graft.GraftExtensions.register(s); s }
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("msg", StringType)))

  /** Three loads with interleaved keys; each embeds a per-load marker
    * MID-string ("v<k>QxAz<r>Qy"): needle "xAz<r>Q" exists only in load r.
    */
  private def engine(): OlapEngine = {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-ng-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("msg", StringType))),
      bucketColumn = Some("k"), numBuckets = 2,
      ngramBloomColumns = Seq("msg")))
    (0 until 3).foreach { r =>
      eng.ingest("db", "t", spark.createDataFrame(
        (r.toLong until 900L by 3L).map(i => Row(i, s"v${i}QxAz${r}Qy")).asJava,
        schema), Some(Version(r + 1L, r + 1L)))
    }
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

  test("ingest builds trigram sidecars and the manifest records them") {
    val eng = engine()
    val rs = eng.manifest("db", "t").visibleRowsets.sortBy(_.rowsetId)
    assert(rs.forall(_.ngramCols == Seq("msg")))
    val root = eng.tableRoot("db", "t")
    rs.foreach { r =>
      val dir = root.resolve(r.relDir)
      assert(Files.isRegularFile(dir.resolve("_ngram_msg.gblm")))
      val b = RowsetBloom.load(dir.toString, "msg", RowsetBloom.KindNgram).get
      assert(b.typeTag == "ngram3:string")
    }
    val reloaded = new TableManifest(root)
    assert(reloaded.visibleRowsets.forall(_.ngramCols == Seq("msg")))
  }

  test("Contains/LIKE '%x%' prunes to the rowsets holding the needle's grams") {
    val eng = engine()
    // the per-load marker exists only in load 1 of 3
    assert(scansIn(eng.scan("db", "t").filter(col("msg").contains("xAz1Q"))) == 1)
    // SQL LIKE simplifies to Contains in the same optimizer batch
    assert(scansIn(eng.scan("db", "t").filter(col("msg").like("%xAz2Q%"))) == 1)
    // a needle in NO load prunes everything
    assert(scansIn(eng.scan("db", "t").filter(col("msg").contains("zzTOPzz"))) == 0)
    // a needle whose grams exist everywhere ("QxA" rides every row) keeps all
    assert(scansIn(eng.scan("db", "t").filter(col("msg").contains("QxA"))) == 3)
    // needles shorter than the gram width never consult the index
    assert(scansIn(eng.scan("db", "t").filter(col("msg").contains("xA"))) == 3)
    // suffix and equality probes use the same containment argument
    assert(scansIn(eng.scan("db", "t").filter(col("msg").endsWith("Az0Qy"))) == 1)
    assert(scansIn(eng.scan("db", "t").filter(col("msg") === "v4QxAz1Qy")) == 1)
  }

  test("trigram-pruned plans return exactly what unpruned plans return") {
    val eng = engine()
    val preds = Seq(col("msg").contains("xAz1Q"), col("msg").contains("zzTOPzz"),
      col("msg").like("%xAz0Q%"), col("msg").endsWith("Az2Qy"),
      col("msg").contains("QxA"))
    val withRule = preds.map(p =>
      eng.scan("db", "t").filter(p).orderBy("k").collect().toSeq)
    graft.GraftExtensions.withoutRules(spark, RowsetPruneRewrite) {
      val without = preds.map(p =>
        eng.scan("db", "t").filter(p).orderBy("k").collect().toSeq)
      assert(withRule == without)
      assert(withRule.head.size == 300)
      assert(withRule(1).isEmpty)
    }
  }

  test("compaction rebuilds the trigram sidecar for the merged rowset") {
    val eng = engine()
    eng.compact("db", "t")
    val rs = eng.manifest("db", "t").visibleRowsets
    assert(rs.size == 1 && rs.head.ngramCols == Seq("msg"))
    // post-compaction: one rowset holds every marker — no prune, right rows
    assert(scansIn(eng.scan("db", "t").filter(col("msg").contains("xAz1Q"))) == 1)
    assert(scansIn(eng.scan("db", "t").filter(col("msg").contains("zzTOPzz"))) == 0)
    assert(eng.scan("db", "t").filter(col("msg").contains("xAz1Q")).count() == 300L)
  }

  test("EXPLAIN PRUNE attributes the trigram tier as 'ngram'") {
    val eng = engine()
    val d = eng.explainPrune("db", "t", col("msg").contains("xAz1Q"))
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(d.values.count(_ == "ngram") == 2)
    assert(d.values.count(_ == "scanned") == 1)
  }

  test("ALTER TABLE SET declares ngram columns post-create; compaction backfills") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-ng-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("msg", StringType))),
      bucketColumn = Some("k"), numBuckets = 1))
    eng.ingest("db", "t", spark.createDataFrame(
      Seq(Row(1L, "oldloadAAA")).asJava, schema), Some(Version(1, 1)))
    eng.alterProperties("db", "t", Seq("ngram_bf_columns" -> "msg"))
    eng.ingest("db", "t", spark.createDataFrame(
      Seq(Row(2L, "newloadBBB")).asJava, schema), Some(Version(2, 2)))
    val rs = eng.manifest("db", "t").visibleRowsets.sortBy(_.rowsetId)
    assert(rs.head.ngramCols.isEmpty && rs.last.ngramCols == Seq("msg"))
    // the un-indexed rowset can never prune; the indexed one can
    assert(scansIn(eng.scan("db", "t").filter(col("msg").contains("AAA"))) >= 1)
    eng.compact("db", "t")
    assert(eng.manifest("db", "t").visibleRowsets.head.ngramCols == Seq("msg"))
    assert(eng.scan("db", "t").filter(col("msg").contains("BBB")).count() == 1L)
  }
}
