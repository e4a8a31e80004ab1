package graft.engine

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestSession
import graft.catalog._
import graft.manifest.Version
import graft.model._

/** TRUNCATE TABLE / TRUNCATE PARTITION: metadata-only emptying. The table
  * keeps its schema, partitions, and routing; new loads version past the
  * truncate; time travel inside retention still reads the pre-truncate
  * data; a truncated PARTITION stays declared and routable.
  */
class TruncateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", DoubleType)))

  private def mkEngine(): OlapEngine = {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-tr-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("v", DoubleType))),
      policy = PartitionPolicy.Range,
      partitionColumn = Some("k"),
      partitions = Seq(
        PartitionSpec("p0", upperExclusive = Some("500")),
        PartitionSpec("p1", upperExclusive = None)),
      bucketColumn = Some("k"), numBuckets = 2))
    eng
  }

  private def load(eng: OlapEngine, r: Range, v: Long): Unit =
    eng.ingest("db", "t", spark.createDataFrame(
      r.map(i => Row(i.toLong, i * 1.0)).asJava, schema), Some(Version(v, v)))

  test("TRUNCATE TABLE empties as metadata; loads and time travel survive") {
    val eng = mkEngine()
    load(eng, 100 until 300, 1)
    load(eng, 500 until 600, 2)
    val t0 = System.currentTimeMillis()
    Thread.sleep(5)
    eng.truncateTable("db", "t")
    assert(eng.scan("db", "t").count() == 0L)
    assert(eng.countStar("db", "t") == 0L)
    // schema + partitions intact: a fresh load serves immediately
    load(eng, 200 until 210, 3)
    assert(eng.scan("db", "t").count() == 10L)
    // wall-clock time travel before the truncate sees the old data
    assert(eng.snapshotAsOf("db", "t", t0).count() == 300L)
    // and the retired rowsets leave only by GC policy (Manual here)
    assert(eng.manifest("db", "t").allRowsets
      .count(_.state == graft.manifest.RowsetState.Stale) == 2)
  }

  test("TRUNCATE PARTITION masks one partition; it stays routable") {
    val eng = mkEngine()
    load(eng, 100 until 300, 1)   // p0
    load(eng, 500 until 600, 2)   // p1
    eng.truncatePartition("db", "t", "p0")
    assert(eng.scan("db", "t").count() == 100L)
    assert(eng.scan("db", "t").filter(col("k") < 500).count() == 0L)
    // the partition is still DECLARED and routable: a later load lands in
    // it at a newer version and survives the mask
    load(eng, 150 until 160, 4)
    assert(eng.scan("db", "t").filter(col("k") < 500).count() == 10L)
    assert(eng.scan("db", "t").count() == 110L)
    assert(eng.catalog.getTable("db", "t").get.partitions.map(_.name)
      .contains("p0"), "truncate must not drop the partition")
    // full compaction makes the mask physical
    eng.compact("db", "t")
    assert(eng.scan("db", "t").count() == 110L)
    assert(eng.manifest("db", "t").visibleRowsets.size == 1)
  }

  test("truncating a sole MAXVALUE rung masks everything and leaves renames workable") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-tr-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("v", DoubleType))),
      policy = PartitionPolicy.Range,
      partitionColumn = Some("k"),
      partitions = Seq(PartitionSpec("pall", upperExclusive = None)),
      bucketColumn = Some("k"), numBuckets = 2))
    load(eng, 100 until 200, 1)
    eng.truncatePartition("db", "t", "pall")
    assert(eng.scan("db", "t").count() == 0L)
    // the marker's row predicate is a parseable constant, so schema
    // evolution that inspects visible delete predicates still works
    eng.renameColumn("db", "t", "v", "w")
    eng.ingest("db", "t", spark.createDataFrame(
      (300 until 310).map(i => Row(i.toLong, i * 1.0)).asJava,
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("w", DoubleType)))), Some(Version(3, 3)))
    assert(eng.scan("db", "t").select("w").count() == 10L)
  }

  test("lookupByKey and scanPartitions on a table with no data rows: empty, declared schema") {
    val eng = mkEngine()
    val declared = eng.catalog.getTable("db", "t").get.schema.toStructType
    def emptyReads(): Unit = {
      val lk = eng.lookupByKey("db", "t", "150")
      val sp = eng.scanPartitions("db", "t", Seq("p0"))
      Seq(lk, sp).foreach { df =>
        assert(df.schema.map(f => (f.name, f.dataType)) ==
          declared.map(f => (f.name, f.dataType)))
        assert(df.collect().isEmpty)
      }
    }
    emptyReads() // fresh table: no rowset at all
    load(eng, 100 until 300, 1)
    assert(eng.lookupByKey("db", "t", "150").count() == 1L)
    eng.truncateTable("db", "t")
    emptyReads() // truncate's replacement is a zero-row rowset
  }

  test("SQL faces: TRUNCATE TABLE db.t [PARTITION (p)]; one-part delegates") {
    val eng = mkEngine()
    graft.sql.GraftSql.bind(spark, eng)
    try {
      load(eng, 100 until 300, 1)
      load(eng, 500 until 600, 2)
      def g(sql: String) = graft.sql.GraftSql.sql(spark, sql)
      val out = g("TRUNCATE TABLE db.t PARTITION (p1)").collect().head
      assert(out.getString(0) == "TRUNCATE PARTITION" && out.getString(2) == "p1")
      assert(eng.scan("db", "t").count() == 200L)
      val out2 = g("TRUNCATE TABLE db.t").collect().head
      assert(out2.getString(0) == "TRUNCATE TABLE")
      assert(eng.scan("db", "t").count() == 0L)
      // Spark's own one-part TRUNCATE is not ours
      assert(graft.sql.GraftSqlParser.parse("TRUNCATE TABLE plain").isEmpty)
    } finally graft.sql.GraftSql.unbind(spark)
  }
}
