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

/** End-to-end golden test mirroring the reference's only executable spec
  * (examples/basic_usage.rs, ten scenarios) with real assertions, plus the
  * key-model merge semantics the reference declares but never executes.
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def newEngine() =
    new OlapEngine(spark, Files.createTempDirectory("graft-test-wh-"))

  /** The reference fixture: 2,000 orders rows (examples/basic_usage.rs:179-189). */
  private def ordersDf = {
    import scala.jdk.CollectionConverters._
    val rows = (0 until 2000).map { i =>
      Row(
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i % 180)),
        1000000L + i, 10000L + (i % 1000), 99.9 + i * 0.5,
        Seq("pending", "paid", "shipped", "delivered", "cancelled")(i % 5))
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("order_date", DateType, nullable = false),
      StructField("order_id", LongType, nullable = false),
      StructField("user_id", LongType), StructField("amount", DoubleType),
      StructField("status", StringType))))
  }

  private def ordersTable(eng: OlapEngine): TableDef = {
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "orders", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("order_date", DateType),
        ColumnSpec.key("order_id", LongType),
        ColumnSpec.value("user_id", LongType),
        ColumnSpec.value("amount", DoubleType),
        ColumnSpec.varchar("status", 32))),
      policy = PartitionPolicy.Range,
      partitionColumn = Some("order_date"),
      partitions = Seq(
        PartitionSpec("p10", upperExclusive = Some("2024-07-01"), numBuckets = 4),
        PartitionSpec("p11", upperExclusive = Some("2025-01-01"), numBuckets = 4)),
      bucketColumn = Some("order_id"), numBuckets = 4))
  }

  test("golden: write two rowsets, snapshot-read, hole probe, compaction scoring") {
    val eng = newEngine()
    ordersTable(eng)
    val df = ordersDf
    eng.ingest("db", "orders", df, Some(Version(0, 1)))
    eng.ingest("db", "orders", df.limit(500), Some(Version(2, 3)))

    // snapshot [0,3] sees both rowsets (examples/basic_usage.rs:242-249)
    assert(eng.snapshot("db", "orders", 0, 3).count() == 2500)
    // snapshot [0,1] sees only the first
    assert(eng.snapshot("db", "orders", 0, 1).count() == 2000)
    // hole probe [0,100] fails (examples/basic_usage.rs:275-283)
    assert(eng.hasVersionHoles("db", "orders", 0, 100))
    intercept[IllegalStateException](eng.snapshot("db", "orders", 0, 100))

    // compaction score = visible rowset count (src/tablet.rs:147-152)
    assert(eng.compactionScore("db", "orders") == 2.0)
    assert(eng.scheduleCompaction().head._1 == "db.orders")

    // compact -> one rowset, same data, inputs stale, GC removes them
    eng.compact("db", "orders")
    assert(eng.manifest("db", "orders").visibleRowsets.size == 1)
    assert(eng.scan("db", "orders").count() == 2500)
    assert(eng.gc("db", "orders").size == 2)
    assert(eng.scan("db", "orders").count() == 2500)
  }

  test("physical layout: hive dirs per (partition, bucket) with FNV routing") {
    val eng = newEngine()
    ordersTable(eng)
    eng.ingest("db", "orders", ordersDf, Some(Version(0, 1)))
    val layout = eng.rawLayout("db", "orders")
      .groupBy(col(eng.PartCol), col(eng.BucketCol)).count().collect()
    // the reference generator spans Jan..Jun (i % 180 days) -> all rows in
    // p10, spread over its 4 hash buckets (examples/basic_usage.rs:179-189)
    assert(layout.length == 4)
    // routed counts match driver-side FNV routing of the same rows
    val expected = (0 until 2000).groupBy { i =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i % 180).toString
      val part = if (d < "2024-07-01") "p10" else "p11"
      (part, BucketType.Hash.bucketForKey((1000000L + i).toString, 4))
    }.view.mapValues(_.size).toMap
    layout.foreach { r =>
      assert(expected((r.getString(0), r.getInt(1))) == r.getLong(2).toInt)
    }
  }

  test("unique model: latest (version, seq) wins") {
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "u", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("v", StringType))),
      bucketColumn = Some("k"), numBuckets = 2))
    import spark.implicits._
    eng.ingest("db", "u", Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Some(Version(1, 1)))
    eng.ingest("db", "u", Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), Some(Version(2, 2)))
    val got = eng.scan("db", "u").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // snapshot at v1 still sees the old value (MVCC)
    val v1 = eng.snapshot("db", "u", 1, 1).as[(Long, String)].collect().toMap
    assert(v1 == Map(1L -> "a", 2L -> "b"))
  }

  test("aggregate model: Sum/Min/Max/Replace merge across rowsets, idempotent under compaction") {
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "a", schema = TableSchema(KeysType.Aggregate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("s", LongType, AggType.Sum),
        ColumnSpec.value("mn", LongType, AggType.Min),
        ColumnSpec.value("mx", LongType, AggType.Max),
        ColumnSpec.value("r", StringType, AggType.Replace))),
      bucketColumn = Some("k"), numBuckets = 2))
    import spark.implicits._
    eng.ingest("db", "a",
      Seq((1L, 10L, 5L, 5L, "x1"), (2L, 1L, 9L, 9L, "y1")).toDF("k", "s", "mn", "mx", "r"),
      Some(Version(1, 1)))
    eng.ingest("db", "a",
      Seq((1L, 7L, 3L, 8L, "x2")).toDF("k", "s", "mn", "mx", "r"),
      Some(Version(2, 2)))
    def read() = eng.scan("db", "a").as[(Long, Long, Long, Long, String)].collect().toSet
    val expected = Set((1L, 17L, 3L, 8L, "x2"), (2L, 1L, 9L, 9L, "y1"))
    assert(read() == expected)
    eng.compact("db", "a")
    assert(read() == expected) // merge(merge(x)) == merge(x)
    eng.compact("db", "a")
    assert(read() == expected)
  }

  test("rollup: fresh rollup answers the agg; stale rollup falls back to base") {
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "s", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("g", StringType),
        ColumnSpec.value("v", LongType))),
      bucketColumn = Some("k"), numBuckets = 2))
    import spark.implicits._
    eng.ingest("db", "s", Seq((1L, "a", 10L), (2L, "a", 5L), (3L, "b", 7L)).toDF("k", "g", "v"))
    val rd = RollupDef("by_g", Seq("g"), Seq(("sv", "v", AggType.Sum)))
    eng.rollups.materialize("db", "s", rd)
    assert(eng.rollups.isFresh("db", "s", "by_g"))
    def agg() = eng.rollups.aggregate("db", "s", Seq("g"), Seq(("sv", "v", AggType.Sum)))
      .as[(String, Long)].collect().toMap
    assert(agg() == Map("a" -> 15L, "b" -> 7L))
    // new load makes the rollup stale: selection must fall back to base
    eng.ingest("db", "s", Seq((4L, "b", 3L)).toDF("k", "g", "v"))
    assert(!eng.rollups.isFresh("db", "s", "by_g"))
    assert(agg() == Map("a" -> 15L, "b" -> 10L))
    // refresh picks the rollup back up
    eng.rollups.materialize("db", "s", rd)
    assert(eng.rollups.isFresh("db", "s", "by_g"))
    assert(agg() == Map("a" -> 15L, "b" -> 10L))
  }

  test("rollup incremental refresh: delta fold equals full rebuild; compaction forces rebuild path") {
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "s", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("g", StringType),
        ColumnSpec.value("v", LongType))),
      bucketColumn = Some("k"), numBuckets = 2))
    import spark.implicits._
    eng.ingest("db", "s", Seq((1L, "a", 10L), (2L, "a", 5L), (3L, "b", 7L)).toDF("k", "g", "v"))
    val rd = RollupDef("by_g", Seq("g"),
      Seq(("sv", "v", AggType.Sum), ("mx", "v", AggType.Max)))
    eng.rollups.materialize("db", "s", rd)
    def agg() = eng.rollups.aggregate("db", "s", Seq("g"),
      Seq(("sv", "v", AggType.Sum), ("mx", "v", AggType.Max)))
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // two delta loads, then an incremental refresh folds both
    eng.ingest("db", "s", Seq((4L, "b", 3L), (5L, "c", 20L)).toDF("k", "g", "v"))
    eng.ingest("db", "s", Seq((6L, "a", 1L)).toDF("k", "g", "v"))
    eng.rollups.refreshIncremental("db", "s", "by_g")
    assert(eng.rollups.isFresh("db", "s", "by_g"))
    assert(agg() == Map("a" -> ((16L, 10L)), "b" -> ((10L, 7L)), "c" -> ((20L, 20L))))
    // idempotent when already fresh
    eng.rollups.refreshIncremental("db", "s", "by_g")
    assert(agg() == Map("a" -> ((16L, 10L)), "b" -> ((10L, 7L)), "c" -> ((20L, 20L))))
    // compaction rewrites the version span: incremental must detect the
    // non-append delta and fall back to a full rebuild, same answers
    eng.ingest("db", "s", Seq((7L, "c", 2L)).toDF("k", "g", "v"))
    eng.compact("db", "s")
    eng.rollups.refreshIncremental("db", "s", "by_g")
    assert(eng.rollups.isFresh("db", "s", "by_g"))
    assert(agg() == Map("a" -> ((16L, 10L)), "b" -> ((10L, 7L)), "c" -> ((22L, 20L))))
  }

  test("streaming ingest keeps a rollup current per micro-batch") {
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "ev", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("g", StringType),
        ColumnSpec.value("v", LongType))),
      bucketColumn = Some("k"), numBuckets = 2))
    import spark.implicits._
    // first micro-batch seeds the table (streaming tables own their rowset
    // ids — batchId+1 — so all loads arrive through the stream)
    val srcDir = Files.createTempDirectory("graft-rollup-stream-src-")
    val ckpt = Files.createTempDirectory("graft-rollup-stream-ckpt-").toString
    def runStream(): Unit = {
      val schema = spark.read.parquet(srcDir.toString).schema
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      graft.streaming.StreamIngest.start(eng, "db", "ev", stream, ckpt,
        refreshRollups = Seq("by_g")).awaitTermination()
    }
    Seq((1L, "a", 10L)).toDF("k", "g", "v")
      .coalesce(1).write.mode("append").parquet(srcDir.toString)
    val rd = RollupDef("by_g", Seq("g"), Seq(("sv", "v", AggType.Sum)))
    // rollup registered before data arrives: the first batch's refresh does
    // the initial build (no parquet to fold yet), later batches fold deltas
    eng.rollups.materialize("db", "ev", rd)
    runStream()
    assert(eng.rollups.isFresh("db", "ev", "by_g"))
    // a later file = a later micro-batch on the SAME checkpoint
    Seq((2L, "a", 5L), (3L, "b", 7L)).toDF("k", "g", "v")
      .coalesce(1).write.mode("append").parquet(srcDir.toString)
    runStream()
    assert(eng.rollups.isFresh("db", "ev", "by_g"))
    val got = eng.rollups.aggregate("db", "ev", Seq("g"),
      Seq(("sv", "v", AggType.Sum))).as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 15L, "b" -> 7L))
    // the TRANSPARENT rewrite also serves base-table aggregates between
    // micro-batches: streaming refresh keeps the rollup selectable
    graft.GraftExtensions.register(spark)
    val q = eng.scan("db", "ev").groupBy(col("g")).agg(sum(col("v")).as("sv"))
    // every file the plan reads is the rollup's (the plan string cuts its
    // scan location at spark.sql.maxMetadataStringLength, so a check on it
    // depends on how long the temp dir's path is)
    assert(q.inputFiles.nonEmpty && q.inputFiles.forall(_.contains("/rollups/")),
      q.queryExecution.executedPlan.toString)
    assert(q.as[(String, Long)].collect().toMap == Map("a" -> 15L, "b" -> 7L))
  }

  test("partial update: each value column resolves to the latest load that set it") {
    import spark.implicits._
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "pu", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("a", StringType),
        ColumnSpec.value("b", DoubleType))),
      bucketColumn = Some("k"), numBuckets = 2, partialUpdate = true))
    eng.ingest("db", "pu",
      Seq((1L, "a1", 1.0), (2L, "a2", 2.0), (3L, "a3", 3.0)).toDF("k", "a", "b"),
      Some(Version(1, 1)))
    // v2 sets only `a` for k=1,2; v3 sets only `b` for k=2,3
    eng.ingestPartial("db", "pu",
      Seq((1L, "A1"), (2L, "A2")).toDF("k", "a"), Some(Version(2, 2)))
    eng.ingestPartial("db", "pu",
      Seq((2L, 20.0), (3L, 30.0)).toDF("k", "b"), Some(Version(3, 3)))
    val got = eng.scan("db", "pu").as[(Long, String, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "A1", 1.0), (2L, "A2", 20.0), (3L, "a3", 30.0)))
    // snapshot [1,2] sees v2's a-update but not v3's b-update
    val snap = eng.snapshot("db", "pu", 1, 2).as[(Long, String, Double)]
      .collect().sortBy(_._1)
    assert(snap.toSeq == Seq((1L, "A1", 1.0), (2L, "A2", 2.0), (3L, "a3", 3.0)))
    // compaction materializes the column-resolved rows; scan is unchanged
    eng.compact("db", "pu")
    eng.gc("db", "pu")
    val post = eng.scan("db", "pu").as[(Long, String, Double)].collect().sortBy(_._1)
    assert(post.toSeq == Seq((1L, "A1", 1.0), (2L, "A2", 20.0), (3L, "a3", 30.0)))
  }

  test("addColumn: old rowsets null-backfill, merge and compaction span the change") {
    import spark.implicits._
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "ev", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("v", DoubleType))),
      bucketColumn = Some("k"), numBuckets = 2))
    eng.ingest("db", "ev", Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), Some(Version(1, 1)))
    eng.addColumn("db", "ev", ColumnSpec.value("tag", StringType))
    // loads after the change must supply the column; k=2 updated with a tag
    eng.ingest("db", "ev", Seq((2L, 20.0, "new"), (3L, 3.0, "new"))
      .toDF("k", "v", "tag"), Some(Version(2, 2)))
    assert(eng.scan("db", "ev").as[(Long, Double, Option[String])].collect().toSet ==
      Set((1L, 1.0, None), (2L, 20.0, Some("new")), (3L, 3.0, Some("new"))))
    // a pre-change load now fails loudly without the new column
    intercept[IllegalArgumentException] {
      eng.ingest("db", "ev", Seq((9L, 9.0)).toDF("k", "v"), Some(Version(3, 3)))
    }
    // compaction rewrites the old rowset under the evolved schema
    eng.compact("db", "ev")
    eng.gc("db", "ev")
    assert(eng.scan("db", "ev").as[(Long, Double, Option[String])].collect().toSet ==
      Set((1L, 1.0, None), (2L, 20.0, Some("new")), (3L, 3.0, Some("new"))))
  }

  test("HLL_UNION column: raw loads sketch at ingest, merge unions, estimate within 5%") {
    import spark.implicits._
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "hc", schema = TableSchema(KeysType.Aggregate, Seq(
        ColumnSpec.key("g", StringType),
        ColumnSpec.value("n", LongType, AggType.Sum),
        ColumnSpec.value("hll_u", BinaryType, AggType.HllUnion))),
      bucketColumn = Some("g"), numBuckets = 2))
    // load 1: users 0..1999; load 2: users 1000..2999 (1000 overlap) → 3000 distinct
    def load(lo: Long, hi: Long) = (lo until hi)
      .map(u => ("a", 1L, u)).toDF("g", "n", "hll_u")
    eng.ingest("db", "hc", load(0, 2000), Some(Version(1, 1)))
    eng.ingest("db", "hc", load(1000, 3000), Some(Version(2, 2)))
    def estimate(): (Long, Long) = {
      val r = eng.scan("db", "hc")
        .select(col("n"), expr("hll_sketch_estimate(hll_u)")).collect().head
      (r.getLong(0), r.getLong(1))
    }
    val (n, ndv) = estimate()
    assert(n == 4000L) // Sum column still exact through the pre-aggregation
    assert(math.abs(ndv - 3000L).toDouble / 3000 < 0.05, s"ndv=$ndv")
    // one stored sketch per (key, rowset): the scan reads 2 binary rows, not
    // 4000 raw values
    assert(eng.rawLayout("db", "hc").count() == 2L)
    // compaction folds the sketches into one rowset; estimate unchanged shape
    eng.compact("db", "hc")
    eng.gc("db", "hc")
    val (n2, ndv2) = estimate()
    assert(n2 == 4000L && math.abs(ndv2 - 3000L).toDouble / 3000 < 0.05)
  }

  test("sequence column: out-of-order arrivals resolve by data order, not load order") {
    import spark.implicits._
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "sq", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("ts", LongType),
        ColumnSpec.value("v", StringType))),
      bucketColumn = Some("k"), numBuckets = 2,
      sequenceColumn = Some("ts")))
    eng.ingest("db", "sq", Seq((1L, 100L, "newest"), (2L, 10L, "x"))
      .toDF("k", "ts", "v"), Some(Version(1, 1)))
    // a LATER load with an OLDER sequence must lose
    eng.ingest("db", "sq", Seq((1L, 50L, "stale"), (2L, 20L, "y"))
      .toDF("k", "ts", "v"), Some(Version(2, 2)))
    def state() = eng.scan("db", "sq").as[(Long, Long, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(state() == Map(1L -> ((100L, "newest")), 2L -> ((20L, "y"))))
    // a tombstone with an older sequence must NOT delete; a newer one must
    eng.mergeInto("db", "sq",
      Seq((1L, 40L, null.asInstanceOf[String], true)).toDF("k", "ts", "v", "del"),
      "del", Some(Version(3, 3)))
    assert(state().contains(1L))
    eng.mergeInto("db", "sq",
      Seq((1L, 200L, null.asInstanceOf[String], true)).toDF("k", "ts", "v", "del"),
      "del", Some(Version(4, 4)))
    assert(state() == Map(2L -> ((20L, "y"))))
    // compaction preserves the sequence resolution
    eng.compact("db", "sq")
    eng.gc("db", "sq")
    assert(state() == Map(2L -> ((20L, "y"))))
    // sequence column demands Unique model and a declared value column
    intercept[IllegalArgumentException] {
      eng.createTable(TableDef(
        db = "db", name = "bad", schema = TableSchema(KeysType.Duplicate, Seq(
          ColumnSpec.key("k", LongType), ColumnSpec.value("ts", LongType))),
        sequenceColumn = Some("ts")))
    }
  }

  test("REPLACE_IF_NOT_NULL: latest non-null wins; NULL leaves the stored value alone") {
    import spark.implicits._
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "rn", schema = TableSchema(KeysType.Aggregate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("qty", DoubleType, AggType.Sum),
        ColumnSpec.value("note", StringType, AggType.ReplaceIfNotNull))),
      bucketColumn = Some("k"), numBuckets = 2))
    eng.ingest("db", "rn", Seq((1L, 1.0, "a"), (2L, 2.0, "b"))
      .toDF("k", "qty", "note"), Some(Version(1, 1)))
    // v2: k=1 sends NULL (keep "a"); k=2 sends "B2" (replace); k=3 all-new NULL
    eng.ingest("db", "rn", Seq((1L, 10.0, null), (2L, 20.0, "B2"), (3L, 3.0, null))
      .toDF("k", "qty", "note"), Some(Version(2, 2)))
    def state() = eng.scan("db", "rn").as[(Long, Double, Option[String])]
      .collect().sortBy(_._1).toSeq
    val expect = Seq((1L, 11.0, Some("a")), (2L, 22.0, Some("B2")), (3L, 3.0, None))
    assert(state() == expect)
    // compaction materializes the same resolution
    eng.compact("db", "rn")
    eng.gc("db", "rn")
    assert(state() == expect)
    // a later non-null still wins over the compacted value
    eng.ingest("db", "rn", Seq((1L, 0.0, "a3")).toDF("k", "qty", "note"), Some(Version(3, 3)))
    assert(state().head == ((1L, 11.0, Some("a3"))))
  }

  test("add/drop partition: tail growth, unroutable dropped range, MVCC mask, compaction physicalizes") {
    import spark.implicits._
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "pt", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("d", StringType),
        ColumnSpec.value("v", LongType))),
      policy = PartitionPolicy.Range,
      partitionColumn = Some("d"),
      partitions = Seq(
        PartitionSpec("pa", upperExclusive = Some("b"), numBuckets = 2),
        PartitionSpec("pb", upperExclusive = Some("c"), numBuckets = 2)),
      bucketColumn = Some("k"), numBuckets = 2))
    eng.ingest("db", "pt", Seq((1L, "a1", 10L), (2L, "b1", 20L)).toDF("k", "d", "v"),
      Some(Version(1, 1)))
    // tail growth: new partition must extend past every existing bound
    intercept[IllegalArgumentException] {
      eng.addPartition("db", "pt", PartitionSpec("px", upperExclusive = Some("b5")))
    }
    eng.addPartition("db", "pt", PartitionSpec("pc", upperExclusive = Some("d"), numBuckets = 2))
    eng.ingest("db", "pt", Seq((3L, "c1", 30L)).toDF("k", "d", "v"), Some(Version(2, 2)))
    assert(eng.rawLayout("db", "pt").filter(col("d") === "c1")
      .select(eng.PartCol).collect().map(_.getString(0)).toSeq == Seq("pc"))

    // drop the oldest partition: rows masked now, physical after compaction
    eng.dropPartition("db", "pt", "pa")
    assert(eng.scan("db", "pt").select("d").collect().map(_.getString(0)).toSet ==
      Set("b1", "c1"))
    // the drop is a version: the pre-drop snapshot still sees pa's rows
    assert(eng.snapshot("db", "pt", 1, 2).select("d").collect()
      .map(_.getString(0)).toSet == Set("a1", "b1", "c1"))
    // the dropped range is unroutable — a load into it fails loudly
    val err = intercept[Exception] {
      eng.ingest("db", "pt", Seq((9L, "a9", 90L)).toDF("k", "d", "v"), Some(Version(4, 4)))
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .take(10).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("no partition")), err.toString)
    // name and range stay retired
    intercept[IllegalArgumentException] {
      eng.addPartition("db", "pt", PartitionSpec("pa", upperExclusive = Some("z")))
    }
    eng.compact("db", "pt")
    eng.gc("db", "pt")
    assert(!eng.manifest("db", "pt").visibleRowsets.exists(_.isDeleteMarker))
    assert(eng.scan("db", "pt").select("d").collect().map(_.getString(0)).toSet ==
      Set("b1", "c1"))
    assert(eng.countStar("db", "pt") == 2L)
  }

  test("hll rollup: sketch-served approx distinct within 5%; stale falls back; incremental refresh extends") {
    import spark.implicits._
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "hl", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("g", StringType),
        ColumnSpec.value("u", LongType),
        ColumnSpec.value("v", LongType))),
      bucketColumn = Some("k"), numBuckets = 2))
    // 6000 rows, 2 groups, exactly 2000 distinct users per group
    val rows = (0 until 6000).map(i => (i.toLong, if (i % 2 == 0) "a" else "b",
      (i % 4000).toLong / 2 + (if (i % 2 == 0) 0L else 10000L), i.toLong))
    eng.ingest("db", "hl", rows.toDF("k", "g", "u", "v"), Some(Version(1, 1)))
    eng.rollups.materialize("db", "hl", RollupDef(
      name = "hll_by_g", groupCols = Seq("g"),
      aggs = Seq(("sum_v", "v", AggType.Sum)),
      hllCol = Some(("hll_u", "u"))))

    def estimates(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = eng.scan("db", "hl").groupBy("g")
      .agg(countDistinct(col("u")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val fresh = eng.rollups.approxDistinct("db", "hl", Seq("g"), "u")
    assert(fresh.inputFiles.exists(_.contains("rollups")), "expected the rollup path")
    for ((g, est) <- estimates(fresh))
      assert(math.abs(est - exact(g)).toDouble / exact(g) < 0.05, s"$g: $est vs ${exact(g)}")

    // a new load staleness-stops the rollup path; base sketch still answers
    eng.ingest("db", "hl",
      (0 until 500).map(i => (100000L + i, "a", 50000L + i, 1L)).toDF("k", "g", "u", "v"),
      Some(Version(2, 2)))
    val stale = eng.rollups.approxDistinct("db", "hl", Seq("g"), "u")
    assert(!stale.inputFiles.exists(_.contains("rollups")), "stale rollup must not serve")
    val exactA = exact("a") + 500
    assert(math.abs(estimates(stale)("a") - exactA).toDouble / exactA < 0.05)

    // incremental refresh folds the delta sketches; rollup path serves again
    eng.rollups.refreshIncremental("db", "hl", "hll_by_g")
    val refreshed = eng.rollups.approxDistinct("db", "hl", Seq("g"), "u")
    assert(refreshed.inputFiles.exists(_.contains("rollups")))
    assert(math.abs(estimates(refreshed)("a") - exactA).toDouble / exactA < 0.05)
    assert(math.abs(estimates(refreshed)("b") - exact("b")).toDouble / exact("b") < 0.05)
  }

  test("modifyColumnType: lossless widening is metadata-only; reads coerce old rowsets") {
    import spark.implicits._
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "mc", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("v", IntegerType))),
      bucketColumn = Some("k"), numBuckets = 2))
    eng.ingest("db", "mc", Seq((1L, 10), (2L, 20)).toDF("k", "v"), Some(Version(1, 1)))
    // narrowing and key retyping refuse
    intercept[IllegalArgumentException] {
      eng.modifyColumnType("db", "mc", "v", org.apache.spark.sql.types.ShortType)
    }
    intercept[IllegalArgumentException] {
      eng.modifyColumnType("db", "mc", "k", org.apache.spark.sql.types.StringType)
    }
    eng.modifyColumnType("db", "mc", "v", LongType)
    // old rowset (int32 parquet) reads back as long; new loads write long
    assert(eng.scan("db", "mc").schema("v").dataType == LongType)
    eng.ingest("db", "mc", Seq((2L, 5000000000L), (3L, 30L)).toDF("k", "v"),
      Some(Version(2, 2)))
    val got = eng.scan("db", "mc").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 2L -> 5000000000L, 3L -> 30L))
    // compaction rewrites everything at the new width
    eng.compact("db", "mc")
    eng.gc("db", "mc")
    assert(eng.scan("db", "mc").as[(Long, Long)].collect().toMap == got)
  }

  test("dropColumn: metadata-only retire; name frees up after compaction") {
    import spark.implicits._
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "dc", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("v", DoubleType),
        ColumnSpec.value("tag", StringType))),
      bucketColumn = Some("k"), numBuckets = 2))
    eng.ingest("db", "dc", Seq((1L, 1.0, "a"), (2L, 2.0, "b"))
      .toDF("k", "v", "tag"), Some(Version(1, 1)))
    intercept[IllegalArgumentException] { eng.dropColumn("db", "dc", "k") }
    eng.dropColumn("db", "dc", "tag")
    // reads stop projecting it, no rowset was rewritten
    assert(eng.scan("db", "dc").columns.toSeq == Seq("k", "v"))
    assert(eng.scan("db", "dc").as[(Long, Double)].collect().toSet ==
      Set((1L, 1.0), (2L, 2.0)))
    // later loads omit it (extra columns would be dropped by conform anyway)
    eng.ingest("db", "dc", Seq((3L, 3.0)).toDF("k", "v"), Some(Version(2, 2)))
    // re-adding the name is blocked while old rowsets still hold the data
    intercept[IllegalArgumentException] {
      eng.addColumn("db", "dc", ColumnSpec.value("tag", StringType))
    }
    // full compaction physically retires the column and frees the name
    eng.compact("db", "dc")
    eng.gc("db", "dc")
    eng.addColumn("db", "dc", ColumnSpec.value("tag", StringType))
    assert(eng.scan("db", "dc").as[(Long, Double, Option[String])].collect().toSet ==
      Set((1L, 1.0, None), (2L, 2.0, None), (3L, 3.0, None)))
  }

  test("mergeInto: upserts and deletes land atomically as one rowset/version") {
    import spark.implicits._
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "mi", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("v", DoubleType))),
      bucketColumn = Some("k"), numBuckets = 2))
    eng.ingest("db", "mi",
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v"), Some(Version(1, 1)))
    // one merge: update k=1, insert k=4, delete k=3
    eng.mergeInto("db", "mi",
      Seq((1L, 10.0, false), (4L, 4.0, false), (3L, 0.0, true))
        .toDF("k", "v", "is_delete"),
      "is_delete", Some(Version(2, 2)))
    val got = eng.scan("db", "mi").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 10.0, 2L -> 2.0, 4L -> 4.0))
    // exactly one new rowset; the pre-merge snapshot still sees the old state
    assert(eng.manifest("db", "mi").visibleRowsets.size == 2)
    val old = eng.snapshot("db", "mi", 1, 1).as[(Long, Double)].collect().toMap
    assert(old == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
  }

  test("describeRowsets: metadata-only inventory of visible rowsets") {
    import spark.implicits._
    val eng = newEngine()
    ordersTable(eng)
    eng.ingest("db", "orders", ordersDf, Some(Version(0, 1)))
    eng.ingest("db", "orders", ordersDf.limit(500), Some(Version(2, 3)))
    val d = eng.describeRowsets("db", "orders")
      .select("rowset_id", "version_start", "version_end", "num_rows", "num_files", "bytes")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(d.length == 2)
    assert(d(0)._2 == 0 && d(0)._3 == 1 && d(0)._4 == 2000)
    assert(d(1)._2 == 2 && d(1)._3 == 3 && d(1)._4 == 500)
    d.foreach { r => assert(r._5 > 0 && r._6 > 0, s"files/bytes empty: $r") }
  }

  test("z-ordered ingest: files are written in Morton order over both declared dimensions") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import graft.functions.Zorder
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "zt", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("x", LongType),
        ColumnSpec.key("y", LongType),
        ColumnSpec.value("payload", DoubleType))),
      bucketColumn = Some("x"), numBuckets = 2,
      zorderColumns = Some(("x", "y"))))
    // a shuffled 32x32 grid: ingest must lay it back out in z order
    val grid = scala.util.Random.shuffle(
      (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y, x * 100.0 + y)).toVector)
    eng.ingest("db", "zt", grid.toDF("x", "y", "payload"), Some(Version(1, 1)))
    val root = eng.tableRoot("db", "zt")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      val zs = spark.read.parquet(f.toString)
        .select(col("x"), col("y")).as[(Long, Long)].collect()
        .map { case (x, y) => Zorder.interleave(x, y) }
      assert(zs.sameElements(zs.sorted), s"file $f not in z order")
    }
    // query results are unaffected by the layout
    assert(eng.scan("db", "zt").count() == 1024)
  }

  test("cumulative compaction: merges only the delta tier, tombstones survive until full compaction") {
    import spark.implicits._
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "cc", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("v", DoubleType))),
      bucketColumn = Some("k"), numBuckets = 2))
    val base = (1L to 12L).map(k => (k, k * 1.0)).toDF("k", "v")
    eng.ingest("db", "cc", base, Some(Version(1, 1)))
    // delta tier: delete k%3==0 at v2, update k%4==0 at v3, update k%6==0 at v4
    eng.ingestDeletes("db", "cc",
      (1L to 12L).filter(_ % 3 == 0).toDF("k"), Some(Version(2, 2)))
    eng.ingest("db", "cc",
      (1L to 12L).filter(_ % 4 == 0).map(k => (k, k + 100.0)).toDF("k", "v"),
      Some(Version(3, 3)))
    eng.ingest("db", "cc",
      (1L to 12L).filter(_ % 6 == 0).map(k => (k, k + 200.0)).toDF("k", "v"),
      Some(Version(4, 4)))
    def expect = (1L to 12L).flatMap { k =>
      if (k % 6 == 0) Some(k -> (k + 200.0))            // re-inserted after delete
      else if (k % 3 == 0) None                         // deleted
      else if (k % 4 == 0) Some(k -> (k + 100.0))       // updated
      else Some(k -> (k * 1.0))
    }.toMap
    val before = eng.scan("db", "cc").as[(Long, Double)].collect().toMap
    assert(before == expect)

    // merge versions [2,4] only; the v1 base rowset is untouched
    eng.compactCumulative("db", "cc", layerPoint = 2)
    val vis = eng.manifest("db", "cc").visibleRowsets
    assert(vis.size == 2, s"expected base + merged delta, got ${vis.map(_.version)}")
    assert(vis.map(_.version).toSet ==
      Set(graft.manifest.Version(1, 1), graft.manifest.Version(2, 4)))
    val after = eng.scan("db", "cc").as[(Long, Double)].collect().toMap
    assert(after == expect, "cumulative compaction changed query results")
    // the delete of k=3,9 (deleted, never re-inserted) must have survived as
    // a tombstone in the merged delta: full compaction then makes it physical
    eng.compact("db", "cc")
    eng.gc("db", "cc")
    val post = eng.scan("db", "cc").as[(Long, Double)].collect().toMap
    assert(post == expect)
    assert(eng.manifest("db", "cc").visibleRowsets.size == 1)
  }

  test("partial update requires the declared flag and the Unique model") {
    import spark.implicits._
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "plain", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("a", StringType))),
      bucketColumn = Some("k"), numBuckets = 2))
    eng.ingest("db", "plain", Seq((1L, "x")).toDF("k", "a"), Some(Version(1, 1)))
    intercept[IllegalArgumentException] {
      eng.ingestPartial("db", "plain", Seq(1L).toDF("k"), Some(Version(2, 2)))
    }
    intercept[IllegalArgumentException] {
      TableDef(db = "db", name = "bad",
        schema = TableSchema(KeysType.Duplicate, Seq(ColumnSpec.key("k", LongType))),
        partialUpdate = true)
    }
  }

  test("unroutable partition key fails the load loudly") {
    val eng = newEngine()
    ordersTable(eng)
    val bad = ordersDf.withColumn("order_date",
      org.apache.spark.sql.functions.lit(java.sql.Date.valueOf("2026-01-01")))
    val e = intercept[Exception](eng.ingest("db", "orders", bad))
    assert(e.getMessage.contains("no partition for key") ||
      Option(e.getCause).exists(_.getMessage.contains("no partition for key")))
  }

  test("random bucketing spreads rows across declared buckets") {
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "r", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType))),
      bucketType = BucketType.Random, bucketColumn = Some("k"), numBuckets = 4))
    import spark.implicits._
    eng.ingest("db", "r", (0L until 1000L).toDF("k"))
    val buckets = eng.rawLayout("db", "r")
      .select(col(eng.BucketCol)).distinct().as[Int].collect().toSet
    assert(buckets.subsetOf(Set(0, 1, 2, 3)))
    assert(buckets.size > 1) // actually spread
    assert(eng.scan("db", "r").count() == 1000)
  }

  test("time travel: snapshotAsOf resolves to the publication-time snapshot") {
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "tt", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType))),
      bucketColumn = Some("k"), numBuckets = 1))
    import spark.implicits._
    val r1 = eng.ingest("db", "tt", Seq(1L, 2L).toDF("k"))
    Thread.sleep(20)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(20)
    eng.ingest("db", "tt", Seq(3L).toDF("k"))
    assert(eng.snapshotAsOf("db", "tt", betweenMs).count() == 2)
    assert(eng.snapshotAsOf("db", "tt", System.currentTimeMillis()).count() == 3)
    assert(eng.snapshotAsOf("db", "tt", r1.createdMs - 1000).count() == 0)
  }

  test("ingest conforms input to schema: missing column fails, extras dropped, types cast") {
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("v", DoubleType))),
      bucketColumn = Some("k"), numBuckets = 1))
    import spark.implicits._
    // missing column -> loud failure
    val e = intercept[IllegalArgumentException](
      eng.ingest("db", "t", Seq(1L).toDF("k")))
    assert(e.getMessage.contains("missing columns: v"))
    // extra column dropped, string "2.5" cast to double
    eng.ingest("db", "t", Seq(("1", "2.5", "junk")).toDF("k", "v", "extra"))
    val row = eng.scan("db", "t").as[(Long, Double)].collect().toSeq
    assert(row == Seq((1L, 2.5)))
  }

  test("concurrent ingests both publish atomically (no lost rowsets)") {
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "c", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType))),
      bucketColumn = Some("k"), numBuckets = 2))
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // explicit disjoint versions: the manifest's synchronized publish is the
    // atomicity point (reference: tablet write lock, src/tablet.rs:116-128)
    val fs = (0 until 4).map { i =>
      Future(eng.ingest("db", "c",
        ((i * 100L) until (i * 100L + 100L)).toDF("k"),
        Some(graft.manifest.Version(i * 2L, i * 2L + 1L))))
    }
    Await.result(Future.sequence(fs), 120.seconds)
    assert(eng.manifest("db", "c").visibleRowsets.size == 4)
    assert(eng.scan("db", "c").count() == 400)
    // reload from disk sees all four (commits were atomic renames)
    val reloaded = new graft.manifest.TableManifest(eng.tableRoot("db", "c"))
    assert(reloaded.visibleRowsets.size == 4)
  }

  test("manifest: duplicate rowset id rejected; survives reload") {
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(db = "db", name = "m",
      schema = TableSchema(KeysType.Duplicate,
        Seq(ColumnSpec.key("k", LongType))),
      bucketColumn = Some("k"), numBuckets = 1))
    import spark.implicits._
    eng.ingest("db", "m", Seq(1L, 2L).toDF("k"), Some(Version(0, 1)))
    val m = eng.manifest("db", "m")
    intercept[IllegalArgumentException](
      m.publish(m.visibleRowsets.head)) // same rowset id again (src/tablet.rs:118-120)
    // reload from disk: a fresh manifest over the same root sees the state
    val reloaded = new graft.manifest.TableManifest(eng.tableRoot("db", "m"))
    assert(reloaded.maxVersion == 1)
    assert(reloaded.visibleRowsets.map(_.rowsetId) == m.visibleRowsets.map(_.rowsetId))
  }

  test("replication factor: declared metadata survives creation and schema evolution") {
    // reference src/storage.rs:10-15,53 stores a per-tablet replication
    // factor; here it is carried metadata (the storage layer owns physical
    // redundancy), and carried means CARRIED — through the catalog and
    // every td.copy-based evolution op
    val eng = newEngine()
    eng.createDatabase("db")
    eng.createTable(TableDef(db = "db", name = "r",
      schema = TableSchema(KeysType.Duplicate,
        Seq(ColumnSpec.key("k", LongType), ColumnSpec.value("v", LongType))),
      bucketColumn = Some("k"), numBuckets = 1, replication = 3))
    assert(eng.catalog.getTable("db", "r").get.replication == 3)
    val evolved = eng.addColumn("db", "r", ColumnSpec.value("w", LongType))
    assert(evolved.replication == 3)
    intercept[IllegalArgumentException](TableDef(db = "db", name = "bad",
      schema = TableSchema(KeysType.Duplicate, Seq(ColumnSpec.key("k", LongType))),
      replication = 0))
  }
}
