package graft.engine

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestSession
import graft.catalog._
import graft.manifest.{RowsetMeta, RowsetSchema, TableManifest, Version}
import graft.model._

/** Every rowset records the schema its readers see, at publish, so reading
  * a rowset dir never runs a parquet schema-inference job:
  *  - on every write path, the recorded schema is exactly what inference
  *    reads from the dir (with `__graft_part` typed string and
  *    `__graft_bucket` int);
  *  - a fresh engine builds `scan`, `snapshot`, `snapshotAsOf`,
  *    `scanPartitions` and `lookupByKey` frames without starting a job;
  *  - manifests written before schemas were recorded read the same answers
  *    through the inference fallback, numeric-looking partition names
  *    included;
  *  - `compactCumulative` reads through the same pinned readers, so a file
  *    lost mid-run fails it loudly even with `ignoreMissingFiles` flipped on;
  *  - `gc` evicts the cached readers of the rowsets it deletes.
  */
class RowsetSchemaSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark; graft.GraftExtensions.register(s); s
  }
  import scala.jdk.CollectionConverters._

  private def rows(schema: StructType, data: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(data.map(Row.fromSeq).asJava, schema)

  private val kv = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("yr", StringType, nullable = false), StructField("v", IntegerType)))

  private def canon(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.mkString("|")).sorted

  private def dirOf(eng: OlapEngine, db: String, t: String, r: RowsetMeta): Path =
    if (Paths.get(r.relDir).isAbsolute) Paths.get(r.relDir)
    else eng.tableRoot(db, t).resolve(r.relDir)

  /** Every data rowset of the table (stale ones too) records the schema
    * inference reads from its dir; returns how many were checked.
    */
  private def assertRecorded(eng: OlapEngine, db: String, t: String): Int = {
    val data = eng.manifest(db, t).allRowsets.filter(r => !r.isDeleteMarker && r.numRows > 0)
    data.foreach { r =>
      val inferred = RowsetSchema.pinLayout(
        spark.read.parquet(dirOf(eng, db, t, r).toString).schema)
      assert(r.schema.contains(inferred),
        s"$db.$t rowset ${r.rowsetId}: recorded ${r.schema} vs inferred $inferred")
    }
    data.size
  }

  /** `__graft_part` values of the files the executed plan reads. */
  private def partitionsRead(df: DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = (p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case _ => Nil
    }) ++ p.children.flatMap(scans)
    val found = scans(df.queryExecution.executedPlan)
    assert(found.nonEmpty, df.queryExecution.executedPlan.toString)
    found.flatMap(_.selectedPartitions.toPartitionArray)
      .flatMap(f => "__graft_part=([^/]+)".r.findFirstMatchIn(f.filePath.toString))
      .map(_.group(1)).toSet
  }

  /** Drop every recorded schema from a table's manifest file: the shape a
    * manifest written before schemas were recorded has.
    */
  private def stripSchemas(eng: OlapEngine, db: String, t: String): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val p = eng.tableRoot(db, t).resolve("_manifest.json")
    val doc = JsonMethods.parse(Files.readString(p))
    val stripped = (doc removeField { case (n, _) => n == "schemas" || n == "schema" })
    Files.writeString(p, JsonMethods.compact(JsonMethods.render(stripped)))
  }

  /** Jobs `body` starts on this thread, counted by a listener. A barrier
    * job after `body` proves the listener has seen every earlier job.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"rowset-schema-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "construction")
      val out = body
      sc.setJobGroup(group + "-barrier", "barrier")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(group + "-barrier") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(group + "-barrier"), "listener never saw the barrier job")
      (out, seen.asScala.count(_ == group))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("every write path records the schema parquet inference reads") {
    val wh = Files.createTempDirectory("graft-rowset-schema-")
    val eng = new OlapEngine(spark, wh)
    eng.createDatabase("db")
    // a Unique table with partial updates: full, partial and delete loads,
    // then both compaction tiers, rebucket and overwrite
    eng.createTable(TableDef(db = "db", name = "u",
      schema = TableSchema(KeysType.Unique, Seq(ColumnSpec.key("k", LongType),
        ColumnSpec.value("yr", StringType), ColumnSpec.value("v", IntegerType))),
      bucketColumn = Some("k"), numBuckets = 2, partialUpdate = true))
    eng.ingest("db", "u", rows(kv, (1L to 20L).map(i => Seq(i, "2024", i.toInt))))
    eng.ingest("db", "u", rows(kv, (15L to 30L).map(i => Seq(i, "2025", -i.toInt))))
    eng.ingestPartial("db", "u", rows(StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("v", IntegerType))),
      Seq(Seq[Any](3L, 300), Seq[Any](4L, 400))))
    eng.ingestDeletes("db", "u", rows(StructType(Seq(
      StructField("k", LongType, nullable = false))), Seq(Seq(5L))))
    eng.ingest("db", "u", rows(kv, Seq(Seq(40L, "2026", 40))))
    assert(assertRecorded(eng, "db", "u") == 5)
    val base = eng.manifest("db", "u").visibleRowsets.map(_.version.start).min
    eng.compactCumulative("db", "u", base + 2)
    assert(assertRecorded(eng, "db", "u") == 6)
    eng.compact("db", "u")
    eng.rebucket("db", "u", 3)
    eng.overwrite("db", "u", rows(kv, Seq(Seq(7L, "2027", 7), Seq(8L, "2027", 8))))
    assert(assertRecorded(eng, "db", "u") == 9)
    eng.cloneTable("db", "u", "db", "u_clone")
    assert(assertRecorded(eng, "db", "u_clone") == 2)
    assert(eng.scan("db", "u_clone").count() == 2)

    // merge-on-write
    eng.createTable(TableDef(db = "db", name = "mow",
      schema = TableSchema(KeysType.Unique, Seq(ColumnSpec.key("k", LongType),
        ColumnSpec.value("yr", StringType), ColumnSpec.value("v", IntegerType))),
      bucketColumn = Some("k"), numBuckets = 2, mergeOnWrite = true))
    eng.ingest("db", "mow", rows(kv, Seq(Seq(1L, "a", 1), Seq(1L, "b", 2))))
    assert(assertRecorded(eng, "db", "mow") == 1)

    // schema-evolution eras: each era's rowsets record their own schema,
    // and the manifest stores each distinct schema once
    eng.createTable(TableDef(db = "db", name = "d",
      schema = TableSchema(KeysType.Duplicate, Seq(ColumnSpec.key("k", LongType),
        ColumnSpec.value("yr", StringType), ColumnSpec.value("v", IntegerType))),
      bucketColumn = Some("k"), numBuckets = 2))
    eng.ingest("db", "d", rows(kv, Seq(Seq(1L, "a", 1))))
    eng.ingest("db", "d", rows(kv, Seq(Seq(2L, "a", 2))))
    eng.addColumn("db", "d", ColumnSpec.value("w", StringType), Some("dflt"))
    eng.ingest("db", "d", rows(kv.add("w", StringType), Seq(Seq(3L, "b", 3, "x"))))
    eng.renameColumn("db", "d", "w", "w2")
    eng.ingest("db", "d", rows(kv.add("w2", StringType), Seq(Seq(4L, "c", 4, "y"))))
    eng.modifyColumnType("db", "d", "v", LongType)
    eng.ingest("db", "d", rows(StructType(kv.fields.dropRight(1))
      .add("v", LongType).add("w2", StringType), Seq(Seq(5L, "d", 5L, "z"))))
    assert(assertRecorded(eng, "db", "d") == 5)
    val eras = eng.manifest("db", "d").allRowsets.flatMap(_.schema).distinct
    assert(eras.size == 4, eras.mkString("\n"))
    val doc = org.json4s.jackson.JsonMethods.parse(Files.readString(
      eng.tableRoot("db", "d").resolve("_manifest.json")))
    assert((doc \ "schemas").children.size == 4)
    // the dictionary round-trips: a reloaded manifest carries the same
    val reloaded = new TableManifest(eng.tableRoot("db", "d"))
    assert(reloaded.allRowsets.map(r => r.rowsetId -> r.schema) ==
      eng.manifest("db", "d").allRowsets.map(r => r.rowsetId -> r.schema))
    assert(canon(eng.scan("db", "d")) == Seq("1|a|1|dflt", "2|a|2|dflt",
      "3|b|3|x", "4|c|4|y", "5|d|5|z"))
    // a cumulative merge across the rename reads each era under the
    // current name
    val dBase = eng.manifest("db", "d").visibleRowsets.map(_.version.start).min
    eng.compactCumulative("db", "d", dBase + 1)
    assert(canon(eng.scan("db", "d")) == Seq("1|a|1|dflt", "2|a|2|dflt",
      "3|b|3|x", "4|c|4|y", "5|d|5|z"))
    assert(assertRecorded(eng, "db", "d") == 6)
  }

  /** A Unique table, Range partitioned on a string column whose partition
    * names look like numbers, with 4 loads and one delete.
    */
  private def yearTable(wh: Path): OlapEngine = {
    val eng = new OlapEngine(spark, wh)
    eng.createDatabase("db")
    eng.createTable(TableDef(db = "db", name = "y",
      schema = TableSchema(KeysType.Unique, Seq(ColumnSpec.key("k", LongType),
        ColumnSpec.key("yr", StringType), ColumnSpec.value("v", IntegerType))),
      policy = PartitionPolicy.Range, partitionColumn = Some("yr"),
      partitions = Seq(PartitionSpec("2024", Some("2025"), numBuckets = 2),
        PartitionSpec("2025", Some("2026"), numBuckets = 2),
        PartitionSpec("2026", None, numBuckets = 2)),
      bucketColumn = Some("k"), numBuckets = 2))
    eng.ingest("db", "y", rows(kv, (1L to 30L).map(i =>
      Seq(i, (2024 + i % 3).toString, i.toInt))))
    eng.ingest("db", "y", rows(kv, (20L to 40L).map(i =>
      Seq(i, (2024 + i % 3).toString, 100 + i.toInt))))
    eng.ingestDeletes("db", "y", rows(StructType(kv.fields.take(2)),
      Seq(Seq(21L, "2024"), Seq(22L, "2025"))))
    eng.ingest("db", "y", rows(kv, Seq(Seq(50L, "2026", 50))))
    eng
  }

  /** The answers every check below compares. */
  private def answers(eng: OlapEngine): Map[String, Seq[String]] = {
    val m = eng.manifest("db", "y")
    val lo = m.visibleRowsets.map(_.version.start).min
    Map(
      "scan" -> canon(eng.scan("db", "y")),
      "snapshot" -> canon(eng.snapshot("db", "y", lo, lo + 1)),
      "asOf" -> canon(eng.snapshotAsOf("db", "y", System.currentTimeMillis())),
      "parts" -> canon(eng.scanPartitions("db", "y", Seq("2025"))),
      "pruned" -> canon(eng.scan("db", "y").filter(col("yr") === "2024")),
      "lookups" -> Seq(1L, 21L, 25L, 50L, 99L).flatMap(k =>
        canon(eng.lookupByKey("db", "y", k.toString))))
  }

  test("a fresh engine builds every read of a multi-rowset table with no job") {
    val wh = Files.createTempDirectory("graft-rowset-schema-jobs-")
    val expected = answers(yearTable(wh))
    val eng = new OlapEngine(spark, wh)
    val m = eng.manifest("db", "y")
    assert(m.visibleRowsets.count(r => !r.isDeleteMarker && r.numRows > 0) >= 3)
    val lo = m.visibleRowsets.map(_.version.start).min
    val (frames, jobs) = jobsDuring(Seq(
      eng.scan("db", "y"),
      eng.snapshot("db", "y", lo, lo + 1),
      eng.snapshotAsOf("db", "y", System.currentTimeMillis()),
      eng.scanPartitions("db", "y", Seq("2025")),
      eng.lookupByKey("db", "y", "25")))
    assert(jobs == 0, s"building the reads started $jobs Spark job(s)")
    // the frames are real: running them starts jobs and gives the answers
    val (_, runJobs) = jobsDuring(frames.foreach(_.collect()))
    assert(runJobs > 0)
    assert(answers(eng) == expected)
  }

  test("pre-upgrade manifests read the same answers through inference, " +
    "numeric-looking partition names included") {
    val wh = Files.createTempDirectory("graft-rowset-schema-old-")
    val eng = yearTable(wh)
    val expected = answers(eng)
    assert(expected("pruned").nonEmpty && expected("parts").nonEmpty)
    assert(eng.rawLayout("db", "y").schema(eng.PartCol).dataType == StringType)
    // graft partition pruning pins `__graft_part` to the partition's name
    val pruned = eng.scan("db", "y").filter(col("yr") === "2024")
    assert(partitionsRead(pruned) == Set("2024"))
    assert(partitionsRead(eng.scanPartitions("db", "y", Seq("2025"))) == Set("2025"))

    stripSchemas(eng, "db", "y")
    val old = new OlapEngine(spark, wh)
    assert(old.manifest("db", "y").allRowsets.forall(_.schema.isEmpty))
    // inference would type `2024` as a number; the reader pins it to string
    assert(old.rawLayout("db", "y").schema(old.PartCol).dataType == StringType)
    assert(answers(old) == expected)
    assert(partitionsRead(old.scan("db", "y").filter(col("yr") === "2024")) == Set("2024"))
    assert(partitionsRead(old.scanPartitions("db", "y", Seq("2025"))) == Set("2025"))

    // a new load beside the pre-upgrade rowsets records its schema, and
    // the mixed union reads alike
    old.ingest("db", "y", rows(kv, Seq(Seq(60L, "2025", 60))))
    assert(old.manifest("db", "y").allRowsets.count(_.schema.isDefined) == 1)
    assert(canon(old.scan("db", "y")) == (expected("scan") :+ "60|2025|60").sorted)
    assert(canon(old.lookupByKey("db", "y", "60")) == Seq("60|2025|60"))
    // compaction over inferred rowsets gives the same merged rows and
    // records the output's schema
    old.compact("db", "y")
    assert(canon(old.scan("db", "y")) == (expected("scan") :+ "60|2025|60").sorted)
    assert(canon(old.lookupByKey("db", "y", "25")) == expected("lookups")
      .filter(_.startsWith("25|")))
    val Seq(out) = old.manifest("db", "y").visibleRowsets
    assert(out.schema.contains(RowsetSchema.pinLayout(
      spark.read.parquet(dirOf(old, "db", "y", out).toString).schema)))
  }

  test("compactCumulative fails loudly on a file lost mid-run, even with " +
    "ignoreMissingFiles flipped on after construction") {
    val s2 = spark.newSession()
    val wh = Files.createTempDirectory("graft-rowset-schema-missing-")
    val eng = new OlapEngine(s2, wh)
    eng.createDatabase("db")
    eng.createTable(TableDef(db = "db", name = "u",
      schema = TableSchema(KeysType.Unique, Seq(ColumnSpec.key("k", LongType),
        ColumnSpec.value("yr", StringType), ColumnSpec.value("v", IntegerType))),
      bucketColumn = Some("k"), numBuckets = 2))
    def load(ks: Seq[Long]) = eng.ingest("db", "u", s2.createDataFrame(
      ks.map(i => Row(i, "x", i.toInt)).asJava, kv))
    load(1L to 10L)
    load(11L to 20L)
    val delta = load(21L to 30L)
    // the readers the merge will use are resolved (a scan caches them)
    assert(eng.scan("db", "u").count() == 30)
    val before = eng.manifest("db", "u").allRowsets
    val lost = Files.walk(wh.resolve("db/u").resolve(delta.relDir)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.delete(lost)
    s2.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try {
      val base = before.map(_.version.start).min
      val e = intercept[Exception](eng.compactCumulative("db", "u", base + 1))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => t.getClass.getName + ": " + String.valueOf(t.getMessage)).mkString(" <- ")
      assert(msgs.contains("FileNotFound") || msgs.contains("does not exist"), msgs)
      assert(eng.manifest("db", "u").allRowsets == before)
      assert(new TableManifest(wh.resolve("db/u")).allRowsets == before)
    } finally s2.conf.set("spark.sql.files.ignoreMissingFiles", "false")
  }

  test("gc evicts the cached readers of the rowsets it deletes") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-rowset-schema-gc-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(db = "db", name = "u",
      schema = TableSchema(KeysType.Unique, Seq(ColumnSpec.key("k", LongType),
        ColumnSpec.value("yr", StringType), ColumnSpec.value("v", IntegerType))),
      bucketColumn = Some("k"), numBuckets = 2))
    def liveDirs: Set[String] = eng.manifest("db", "u").allRowsets
      .map(r => dirOf(eng, "db", "u", r).toString).toSet
    (1 to 4).foreach { round =>
      eng.ingest("db", "u", rows(kv, (1L to 10L).map(i => Seq(i * round, "x", round))))
      eng.ingest("db", "u", rows(kv, (1L to 5L).map(i => Seq(i, "y", -round))))
      eng.scan("db", "u").count()
      eng.compact("db", "u")
      eng.scan("db", "u").count()
      assert(eng.gc("db", "u").size == 2 + (if (round == 1) 0 else 1))
      val cached = eng.cachedReaderDirs
      assert(cached.nonEmpty && cached.subsetOf(liveDirs),
        s"round $round: cached ${cached -- liveDirs} are not in the manifest")
      assert(cached.size == 1)
    }
  }
}
