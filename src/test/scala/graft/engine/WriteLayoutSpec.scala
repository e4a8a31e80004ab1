package graft.engine

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.SparkTestSession
import graft.catalog._
import graft.model._

/** The shared rowset writer's layout and task shape:
  *  - on every write path, each `__graft_part=…/__graft_bucket=…` dir of a
  *    4 partition × 4 bucket table holds exactly one parquet file, before
  *    and after rebucketing to 2 and to 8 buckets;
  *  - the write stage of a load runs one task per route, up to the
  *    session's shuffle partitions (adaptive execution would otherwise
  *    coalesce it into one task), and a 1 × 1 table writes in one task;
  *  - a dir `r{id}` that a load left behind when it crashed before publish
  *    does not fail the load that draws the same id after a restart.
  */
class WriteLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("p", StringType, nullable = false), StructField("v", IntegerType),
    StructField("s", StringType)))

  private def rows(schema: StructType, data: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(data.map(Row.fromSeq).asJava, schema)

  private def full(ks: Seq[Long], tag: Int): DataFrame =
    rows(schema, ks.map(k => Seq(k, "abcd".charAt((k % 4).toInt).toString,
      (k * tag).toInt, s"s$k-$tag")))

  private def canon(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.mkString("|")).sorted

  /** A Unique table, 4 List partitions on a key column × 4 hash buckets on
    * the other, partial updates on.
    */
  private def quad(wh: Path): OlapEngine = {
    val eng = new OlapEngine(spark, wh)
    eng.createDatabase("db")
    eng.createTable(TableDef(db = "db", name = "q",
      schema = TableSchema(KeysType.Unique, Seq(ColumnSpec.key("k", LongType),
        ColumnSpec.key("p", StringType), ColumnSpec.value("v", IntegerType),
        ColumnSpec.value("s", StringType))),
      policy = PartitionPolicy.List, partitionColumn = Some("p"),
      partitions = "abcd".map(c => PartitionSpec(s"p$c", listValues = Seq(c.toString),
        numBuckets = 4)),
      bucketColumn = Some("k"), numBuckets = 4, partialUpdate = true))
    eng
  }

  /** Parquet files per (partition, bucket) dir of every rowset of the
    * table that holds data, stale ones included.
    */
  private def filesPerDir(eng: OlapEngine, db: String, t: String): Map[String, Int] =
    eng.manifest(db, t).allRowsets.filter(r => !r.isDeleteMarker && r.numRows > 0)
      .flatMap { r =>
        val dir = eng.tableRoot(db, t).resolve(r.relDir)
        Files.walk(dir).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
          .groupBy(f => dir.relativize(f.getParent).toString)
          .map { case (d, fs) => s"r${r.rowsetId}/$d" -> fs.size }
      }.toMap

  private def assertOneFilePerDir(eng: OlapEngine, what: String): Unit = {
    val dirs = filesPerDir(eng, "db", "q")
    assert(dirs.nonEmpty, what)
    dirs.keys.foreach(d =>
      assert(d.matches("""r\d+/__graft_part=p[abcd]/__graft_bucket=\d+"""), s"$what: $d"))
    val many = dirs.filter(_._2 != 1)
    assert(many.isEmpty, s"$what: dirs with more than one file: $many")
  }

  /** Task counts of the stages that wrote files while `body` ran. */
  private def writeStageTasks(body: => Unit): Seq[Int] =
    SparkTestSession.during(spark)(body)._2.stages
      .filter(st => st.taskMetrics != null && st.taskMetrics.outputMetrics.recordsWritten > 0)
      .map(_.numTasks)

  test("every write path leaves one file per (partition, bucket) dir") {
    val eng = quad(Files.createTempDirectory("graft-layout-"))
    eng.ingest("db", "q", full(1L to 200L, 1))
    assertOneFilePerDir(eng, "ingest")
    eng.ingest("db", "q", full(150L to 260L, 2))
    eng.ingestPartial("db", "q", rows(StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("p", StringType, nullable = false), StructField("v", IntegerType))),
      (1L to 40L).map(k => Seq[Any](k, "abcd".charAt((k % 4).toInt).toString, -k.toInt))))
    assertOneFilePerDir(eng, "ingestPartial")
    eng.ingestDeletes("db", "q", rows(StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("p", StringType, nullable = false))),
      (41L to 60L).map(k => Seq[Any](k, "abcd".charAt((k % 4).toInt).toString))))
    assertOneFilePerDir(eng, "ingestDeletes")
    eng.ingest("db", "q", full(300L to 320L, 3))
    val base = eng.manifest("db", "q").visibleRowsets.map(_.version.start).min
    eng.compactCumulative("db", "q", base + 2)
    assertOneFilePerDir(eng, "compactCumulative")
    eng.compact("db", "q")
    assertOneFilePerDir(eng, "compact")
    val expected = canon(eng.scan("db", "q"))
    assert(expected.size == 260 - 20 + 21)
    eng.rebucket("db", "q", 2)
    assertOneFilePerDir(eng, "rebucket to 2")
    eng.rebucket("db", "q", 8)
    assertOneFilePerDir(eng, "rebucket to 8")
    assert(canon(eng.scan("db", "q")) == expected)
    val newest = eng.manifest("db", "q").visibleRowsets.maxBy(_.rowsetId)
    assert(filesPerDir(eng, "db", "q").keys.count(_.startsWith(s"r${newest.rowsetId}/")) == 32)
    eng.overwrite("db", "q", full(1L to 80L, 4))
    assertOneFilePerDir(eng, "overwrite")
    assert(canon(eng.scan("db", "q")) == canon(full(1L to 80L, 4)))
  }

  test("a load writes in one task per route, up to the shuffle partitions") {
    val eng = quad(Files.createTempDirectory("graft-layout-tasks-"))
    val load = full(1L to 400L, 1)
    val tasks = writeStageTasks(eng.ingest("db", "q", load))
    assert(tasks == Seq(4), s"write stages ran $tasks tasks")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(filesPerDir(eng, "db", "q").size == 16)

    eng.createTable(TableDef(db = "db", name = "one",
      schema = TableSchema(KeysType.Duplicate, Seq(ColumnSpec.key("k", LongType),
        ColumnSpec.value("p", StringType), ColumnSpec.value("v", IntegerType),
        ColumnSpec.value("s", StringType))),
      bucketColumn = Some("k"), numBuckets = 1))
    assert(writeStageTasks(eng.ingest("db", "one", load)) == Seq(1))
    assert(eng.scan("db", "one").count() == 400)
  }

  test("a load after a restart takes an id past an unpublished leftover dir and leaves it alone") {
    val wh = Files.createTempDirectory("graft-layout-orphan-")
    val eng = quad(wh)
    eng.ingest("db", "q", full(1L to 50L, 1))
    eng.ingest("db", "q", full(40L to 90L, 2))
    val next = eng.manifest("db", "q").allRowsets.map(_.rowsetId).max + 1
    // what a load that crashed between write and publish leaves behind
    val junk = eng.tableRoot("db", "q")
      .resolve(s"r$next/__graft_part=pa/__graft_bucket=0/part-00000-junk.c000.lz4raw.parquet")
    Files.createDirectories(junk.getParent)
    Files.write(junk, "not parquet".getBytes("UTF-8"))

    val reopened = new OlapEngine(spark, wh)
    val meta = reopened.ingest("db", "q", full(85L to 100L, 3))
    assert(meta.rowsetId == next + 1)
    assert(Paths.get(meta.relDir) == Paths.get(s"r${next + 1}"))
    assert(new String(Files.readAllBytes(junk), "UTF-8") == "not parquet")
    val want = canon(full(1L to 39L, 1).union(full(40L to 84L, 2)).union(full(85L to 100L, 3)))
    assert(canon(reopened.scan("db", "q")) == want)
  }
}
