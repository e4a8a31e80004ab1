package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestSession
import graft.catalog.TableDef
import graft.engine.OlapEngine
import graft.model._

/** Streaming ingest: micro-batches become published rowsets; snapshots stay
  * consistent; compaction folds streaming rowsets.
  */
class StreamIngestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("file stream -> rowset per batch -> scan -> compact") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-si-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "ev", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("event_id", LongType),
        ColumnSpec.value("user_id", LongType),
        ColumnSpec.value("event_type", StringType),
        ColumnSpec.value("value", DoubleType))),
      bucketColumn = Some("event_id"), numBuckets = 2))

    val srcDir = graft.queries.Tables.eventsStreamDir("/root/testdata/sf0.001")
    def src = graft.queries.Tables
      .eventsStreamFrom(spark, srcDir, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val ckpt = Files.createTempDirectory("graft-si-ckpt-").toString
    val q = StreamIngest.start(eng, "db", "ev", src, ckpt)
    q.awaitTermination()

    val n = eng.scan("db", "ev").count()
    assert(n == 1000L) // sf0.001 events row count
    val rowsets = eng.manifest("db", "ev").visibleRowsets
    assert(rowsets.nonEmpty)
    assert(rowsets.map(_.numRows).sum == 1000L)

    // restart with same checkpoint: no new rowsets (exactly-once)
    val q2 = StreamIngest.start(eng, "db", "ev", src, ckpt)
    q2.awaitTermination()
    assert(eng.scan("db", "ev").count() == 1000L)

    eng.compact("db", "ev")
    assert(eng.scan("db", "ev").count() == 1000L)
    assert(eng.manifest("db", "ev").visibleRowsets.size == 1)
  }

  test("streaming CDC-apply: op column drives upserts and deletes per micro-batch") {
    import spark.implicits._
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-cdc-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "u", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("v", DoubleType))),
      bucketColumn = Some("k"), numBuckets = 2))
    val cdcSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", DoubleType),
      StructField("op", IntegerType, nullable = false)))
    val srcDir = Files.createTempDirectory("graft-cdc-src-")
    def write(rows: Seq[(Long, Double, Int)]): Unit =
      rows.toDF("k", "v", "op").coalesce(1)
        .write.mode("append").parquet(srcDir.toString)
    def run(ckpt: String): Unit =
      StreamIngest.start(eng, "db", "u",
        spark.readStream.schema(cdcSchema).parquet(srcDir.toString),
        ckpt, opColumn = Some("op")).awaitTermination()
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt-").toString

    write(Seq((1L, 1.0, 0), (2L, 2.0, 0), (3L, 3.0, 0)))
    run(ckpt)
    // batch 2: update k=1, delete k=2, insert k=4 — ONE rowset, one version
    write(Seq((1L, 10.0, 0), (2L, 0.0, 1), (4L, 4.0, 0)))
    run(ckpt)
    val got = eng.scan("db", "u").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 10.0, 3L -> 3.0, 4L -> 4.0))
    // the apply was atomic: the pre-batch snapshot (first streamed version,
    // a fresh manifest starts versions at 0) still sees the old state
    val v0 = eng.snapshot("db", "u", 0, 0).as[(Long, Double)].collect().toMap
    assert(v0 == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    // compaction makes the delete physical; state unchanged
    eng.compact("db", "u")
    eng.gc("db", "u")
    assert(eng.scan("db", "u").as[(Long, Double)].collect().toMap == got)
  }

  private def keyedTable(name: String): OlapEngine = {
    val eng = new OlapEngine(spark, Files.createTempDirectory(s"graft-$name-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("v", LongType))),
      bucketColumn = Some("k"), numBuckets = 2))
    eng
  }

  private val kvSchema = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("v", LongType)))

  private def keys(eng: OlapEngine): Set[Long] = {
    import spark.implicits._
    eng.scan("db", "t").select("k").as[Long].collect().toSet
  }

  test("ordinary loads between micro-batches on one checkpoint lose no batch") {
    import spark.implicits._
    val eng = keyedTable("si-mixed")
    val srcDir = Files.createTempDirectory("graft-si-mixed-src-")
    val ckpt = Files.createTempDirectory("graft-si-mixed-ckpt-").toString
    def arrive(ks: Seq[Long]): Unit =
      ks.map(k => (k, k)).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(srcDir.toString)
    def run(): Unit = StreamIngest.start(eng, "db", "t",
      spark.readStream.schema(kvSchema).parquet(srcDir.toString), ckpt)
      .awaitTermination()
    def load(ks: Seq[Long]): Unit = {
      eng.ingest("db", "t", ks.map(k => (k, k)).toDF("k", "v")); ()
    }
    load(Seq(1L, 2L))      // the table already holds rowset 1
    arrive(Seq(10L, 11L)); run()
    load(Seq(20L))         // an ordinary load between batches
    arrive(Seq(30L)); run()
    arrive(Seq(40L)); run()
    val all = Set(1L, 2L, 10L, 11L, 20L, 30L, 40L)
    assert(keys(eng) == all)
    // a replay of a published batch (its commit record lost, as after a
    // crash between the publish and the commit) adds nothing
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    val last = Files.list(commits).iterator().asScala.map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).maxBy(_.toLong)
    Files.delete(commits.resolve(last))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    run()
    assert(eng.scan("db", "t").count() == all.size)
  }

  test("an orphan rowset dir left by a crash before publish does not wedge the stream") {
    import spark.implicits._
    val eng = keyedTable("si-orphan")
    // a crashed write of the first rowset id: files on disk, no manifest entry
    val orphan = eng.tableRoot("db", "t").resolve("r1")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-0.parquet"), "not parquet")
    val srcDir = Files.createTempDirectory("graft-si-orphan-src-")
    Seq((1L, 1L), (2L, 2L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(srcDir.toString)
    StreamIngest.start(eng, "db", "t",
      spark.readStream.schema(kvSchema).parquet(srcDir.toString),
      Files.createTempDirectory("graft-si-orphan-ckpt-").toString)
      .awaitTermination()
    assert(keys(eng) == Set(1L, 2L))
  }

  test("a batch whose write crashed before publish still lands after a restart " +
      "and an ordinary load") {
    import spark.implicits._
    val eng = keyedTable("si-reserved")
    def kv(ks: Long*) = ks.map(k => (k, k)).toDF("k", "v")
    eng.ingest("db", "t", kv(1L, 2L))
    val ledger = Files.createTempDirectory("graft-si-reserved-ckpt-").resolve("rowsets")
    // batch 0 reserves its rowset id, then dies before any row is written
    intercept[IllegalStateException] {
      StreamIngest.ingestOnce(eng, "db", "t", ledger, 0L, None)(
        throw new IllegalStateException("crash"))
    }
    val rid = Files.readString(ledger.resolve("0")).trim.toLong
    // ... after its write had created the rowset dir
    val orphan = eng.tableRoot("db", "t").resolve(s"r$rid")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-0.parquet"), "not parquet")

    val reopened = new OlapEngine(spark, eng.warehouse)
    val load = reopened.ingest("db", "t", kv(20L))
    assert(load.rowsetId > rid)
    assert(Files.exists(orphan.resolve("part-0.parquet")))
    StreamIngest.ingestOnce(reopened, "db", "t", ledger, 0L, None)(kv(10L, 11L))
    assert(reopened.manifest("db", "t").allRowsets.exists(_.rowsetId == rid))
    assert(keys(reopened) == Set(1L, 2L, 10L, 11L, 20L))
  }

  test("streamTable tails published rowsets as a CDC feed") {
    import spark.implicits._
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-st-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("v", DoubleType))),
      bucketColumn = Some("k"), numBuckets = 2))
    eng.ingest("db", "t", Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"),
      Some(graft.manifest.Version(1, 1)))

    val sinkName = "graft_cdc_sink"
    val q = StreamIngest.streamTable(eng, "db", "t")
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    q.processAllAvailable()
    assert(spark.table(sinkName).count() == 2)

    // a rowset published AFTER the stream started arrives incrementally
    eng.ingest("db", "t", Seq((3L, 3.0)).toDF("k", "v"),
      Some(graft.manifest.Version(2, 2)))
    q.processAllAvailable()
    assert(spark.table(sinkName).count() == 3)
    assert(spark.table(sinkName).select("k").as[Long].collect().toSet == Set(1L, 2L, 3L))
    q.stop()
  }
}
