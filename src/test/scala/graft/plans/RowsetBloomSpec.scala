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

/** Rowset-level bloom skipping index: sidecars built at every data write,
  * recorded in the manifest, and equality/IN point lookups prune rowsets
  * whose bloom excludes the key — the high-cardinality complement of the
  * zone maps (RowsetPruneSpec). The fixture's id space is interleaved
  * ACROSS loads (even/odd), so zone maps overlap completely and any pruning
  * observed is the bloom's.
  */
class RowsetBloomSpec extends AnyFunSuite {
  private lazy val spark = { val s = SparkTestSession.spark; graft.GraftExtensions.register(s); s }
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("id", StringType),
    StructField("n", IntegerType)))

  /** Two loads with fully OVERLAPPING k/id ranges: load 1 holds even ids,
    * load 2 odd ids — min/max can never separate them.
    */
  private def engine(): OlapEngine = {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-bl-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("id", StringType),
        ColumnSpec.value("n", IntegerType))),
      bucketColumn = Some("k"), numBuckets = 2,
      bloomColumns = Seq("id", "n")))
    eng.ingest("db", "t", spark.createDataFrame(
      (0L until 1000L by 2L).map(i => Row(i, f"id-$i%06d", i.toInt * 7)).asJava,
      schema), Some(Version(1, 1)))
    eng.ingest("db", "t", spark.createDataFrame(
      (1L until 1000L by 2L).map(i => Row(i, f"id-$i%06d", i.toInt * 7)).asJava,
      schema), Some(Version(2, 2)))
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

  test("ingest builds bloom sidecars and the manifest records them") {
    val eng = engine()
    val rs = eng.manifest("db", "t").visibleRowsets.sortBy(_.rowsetId)
    assert(rs.forall(_.bloomCols.toSet == Set("id", "n")))
    val root = eng.tableRoot("db", "t")
    rs.foreach { r =>
      val dir = root.resolve(r.relDir)
      assert(Files.isRegularFile(dir.resolve("_bloom_id.gblm")))
      val b = RowsetBloom.load(dir.toString, "id").get
      assert(b.typeTag == "string")
    }
    // blooms survive a manifest reload
    val reloaded = new TableManifest(root)
    assert(reloaded.visibleRowsets.forall(_.bloomCols.toSet == Set("id", "n")))
  }

  test("equality on an interleaved column prunes by bloom where zone maps cannot") {
    val eng = engine()
    // both loads span [id-000000, id-000999]: zone maps overlap entirely
    assert(scansIn(eng.scan("db", "t").filter(col("id") === "id-000402")) == 1)
    assert(scansIn(eng.scan("db", "t").filter(col("id") === "id-000403")) == 1)
    assert(scansIn(eng.scan("db", "t").filter(col("n") === lit(402 * 7))) == 1)
    // a value in NO load prunes both branches
    assert(scansIn(eng.scan("db", "t").filter(col("id") === "absent")) == 0)
    // IN across both loads keeps both; IN within one load prunes one
    assert(scansIn(eng.scan("db", "t").filter(
      col("id").isin("id-000402", "id-000403"))) == 2)
    assert(scansIn(eng.scan("db", "t").filter(
      col("id").isin("id-000402", "id-000404"))) == 1)
    // range predicates never consult the bloom (and overlap ⇒ no prune)
    assert(scansIn(eng.scan("db", "t").filter(col("id") > "id-000990")) == 2)
  }

  test("bloom-pruned plans return exactly what unpruned plans return") {
    val eng = engine()
    val preds = Seq(col("id") === "id-000402", col("id") === "absent",
      col("n") === lit(2814), col("id").isin("id-000001", "id-000002"))
    val withRule = preds.map(p =>
      eng.scan("db", "t").filter(p).orderBy("k").collect().toSeq)
    graft.GraftExtensions.withoutRules(spark, ScanPruneRewrite) {
      val without = preds.map(p =>
        eng.scan("db", "t").filter(p).orderBy("k").collect().toSeq)
      assert(withRule == without)
    }
  }

  test("lookupByKey does not read a rowset refuted only by its key bloom") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-bl-lk-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "u", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("id", StringType),
        ColumnSpec.value("n", IntegerType))),
      bucketColumn = Some("k"), numBuckets = 2, bloomColumns = Seq("k")))
    Seq(0L, 1L).foreach { parity =>
      eng.ingest("db", "u", spark.createDataFrame(
        (parity until 1000L by 2L).map(i => Row(i, f"id-$i%06d", i.toInt)).asJava,
        schema))
    }
    // both zone maps hold key 402; only the even load's bloom does
    assert(eng.manifest("db", "u").visibleRowsets.forall { r =>
      r.stats("k").min.get.toLong <= 402L && r.stats("k").max.get.toLong >= 402L })
    val df = eng.lookupByKey("db", "u", "402")
    assert(df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }.size == 1)
    assert(scansIn(df) == 1)
    assert(df.collect().toSeq == Seq(Row(402L, "id-000402", 402)))
  }

  test("compaction rebuilds blooms for the merged rowset") {
    val eng = engine()
    eng.compact("db", "t")
    val rs = eng.manifest("db", "t").visibleRowsets
    assert(rs.size == 1 && rs.head.bloomCols.toSet == Set("id", "n"))
    // merged bloom admits keys from BOTH former loads, excludes absentees
    assert(eng.scan("db", "t").filter(col("id") === "id-000402").count() == 1)
    assert(eng.scan("db", "t").filter(col("id") === "id-000403").count() == 1)
    assert(scansIn(eng.scan("db", "t").filter(col("id") === "absent")) == 0)
  }

  test("widened column ignores stale-typed sidecars (typeTag guard)") {
    val eng = engine()
    eng.modifyColumnType("db", "t", "n", DoubleType)
    // old sidecars were built from int bytes; a probe typed differently
    // must not trust them — results stay exact either way
    val hits = eng.scan("db", "t").filter(col("n") === 2814.0).collect()
    assert(hits.map(_.getLong(0)).toSeq == Seq(402L))
    // a fresh load under the widened type builds a double-tagged sidecar
    val dblSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("id", StringType),
      StructField("n", DoubleType)))
    eng.ingest("db", "t", spark.createDataFrame(
      Seq(Row(5000L, "id-5000", 0.5)).asJava, dblSchema), Some(Version(3, 3)))
    val rs = eng.manifest("db", "t").visibleRowsets.maxBy(_.rowsetId)
    val b = RowsetBloom.load(
      eng.tableRoot("db", "t").resolve(rs.relDir).toString, "n").get
    assert(b.typeTag == "double")
  }

  test("SQL face: bloom_filter_columns round-trips through SHOW CREATE TABLE") {
    val eng = engine()
    val ddl = graft.sql.GraftSql.createTableSql(
      eng.catalog.getTable("db", "t").get)
    assert(ddl.contains("\"bloom_filter_columns\" = \"id,n\""))
  }

  test("ALTER TABLE SET declares bloom columns post-create; SHOW STATS counts coverage") {
    val eng = engine()
    graft.sql.GraftSql.bind(spark, eng)
    try {
      // drop the bloom declaration entirely: new loads build nothing
      eng.alterProperties("db", "t", Seq("bloom_filter_columns" -> ""))
      eng.ingest("db", "t", spark.createDataFrame(
        Seq(Row(9000L, "id-9000", 1)).asJava, schema), Some(Version(3, 3)))
      assert(eng.manifest("db", "t").visibleRowsets
        .maxBy(_.rowsetId).bloomCols.isEmpty)
      // re-declare via the SQL verb: the NEXT load builds sidecars again
      graft.sql.GraftSql.sql(spark,
        """ALTER TABLE db.t SET ("bloom_filter_columns" = "id")""")
      eng.ingest("db", "t", spark.createDataFrame(
        Seq(Row(9001L, "id-9001", 2)).asJava, schema), Some(Version(4, 4)))
      assert(eng.manifest("db", "t").visibleRowsets
        .maxBy(_.rowsetId).bloomCols == Seq("id"))
      // SHOW STATS reports per-column bloom coverage: 3 of 4 data rowsets
      val stats = eng.describeStats("db", "t").collect()
        .map(r => r.getString(0) -> r).toMap
      assert(stats("id").getLong(6) == 3L && stats("id").getLong(5) == 4L)
      assert(stats("k").getLong(6) == 0L)
      // non-lifecycle properties refuse loudly
      intercept[IllegalArgumentException] {
        eng.alterProperties("db", "t", Seq("sequence_column" -> "n"))
      }
      // unknown bloom column refuses via TableDef validation
      intercept[IllegalArgumentException] {
        eng.alterProperties("db", "t", Seq("bloom_filter_columns" -> "nope"))
      }
    } finally graft.sql.GraftSql.unbind(spark)
  }

  test("EXPLAIN PRUNE attributes the pruning tier per rowset") {
    val eng = engine() // interleaved loads: only the bloom can separate them
    val byBloom = eng.explainPrune("db", "t", col("id") === "id-000402")
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(byBloom.values.toSeq.sorted == Seq("bloom", "scanned"))
    // a banded table: zone maps get the credit, bloom never consulted
    eng.createTable(TableDef(
      db = "db", name = "band", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("id", StringType),
        ColumnSpec.value("n", IntegerType))),
      bucketColumn = Some("k"), numBuckets = 1, bloomColumns = Seq("id")))
    eng.ingest("db", "band", spark.createDataFrame(
      (0L until 100L).map(i => Row(i, s"x$i", i.toInt)).asJava, schema),
      Some(Version(1, 1)))
    eng.ingest("db", "band", spark.createDataFrame(
      (100L until 200L).map(i => Row(i, s"x$i", i.toInt)).asJava, schema),
      Some(Version(2, 2)))
    val byZone = eng.explainPrune("db", "band", col("k") >= 150L)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(byZone.values.toSeq.sorted == Seq("scanned", "zone-map"))
    // unfiltered / unprunable: everything reports scanned
    assert(eng.explainPrune("db", "band", col("k") >= 0L)
      .collect().forall(_.getString(4) == "scanned"))
    // the SQL face
    graft.sql.GraftSql.bind(spark, eng)
    try {
      val rows = graft.sql.GraftSql.sql(spark,
        "EXPLAIN PRUNE db.band WHERE 'k >= 150'").collect()
      assert(rows.map(_.getString(4)).sorted.toSeq == Seq("scanned", "zone-map"))
    } finally graft.sql.GraftSql.unbind(spark)
  }

  test("all-null bloom column yields an exclude-everything sidecar, exactly") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-bl-nul-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "z", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("id", StringType),
        ColumnSpec.value("n", IntegerType))),
      bucketColumn = Some("k"), numBuckets = 1, bloomColumns = Seq("id")))
    eng.ingest("db", "z", spark.createDataFrame(
      (0L until 10L).map(i => Row(i, null, i.toInt)).asJava, schema),
      Some(Version(1, 1)))
    assert(eng.scan("db", "z").filter(col("id") === "anything").count() == 0)
    assert(scansIn(eng.scan("db", "z").filter(col("id") === "anything")) == 0)
    // IS NULL is untouched by the bloom
    assert(eng.scan("db", "z").filter(col("id").isNull).count() == 10)
  }
}
