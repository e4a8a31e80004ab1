package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog._
import graft.engine.OlapEngine
import graft.manifest.Version
import graft.model._

/** `history_reads`: read-only timed loop over tables with a version
  * history. Set-up writes a Duplicate `events` table from [[Loads]]
  * range-disjoint loads (RANGE partitions by month, bloom sidecars on
  * [[BloomCols]], an n-gram sidecar on [[NgramCols]]) and a Unique
  * `profiles` table from [[ProfileLoads]] versions. The loop runs a seeded
  * mix of point lookups (recent keys favoured), narrow key-range, bloom,
  * n-gram and partition-pruned aggregates, snapshots at past versions,
  * metadata-served countStar/minMaxStats and a merged scan. Every answer is
  * checked against the same predicate evaluated on the source parquet the
  * loads were cut from.
  *
  * Its sidecar working set is rowsets × sidecar columns = 5 × 3 = 15
  * entries, inside the 256-entry RowsetBloom cache: going past the cap
  * takes 86+ loads, which a run's time budget does not allow.
  */
object HistoryReads {
  val Db = "hist"
  val Loads = 5
  val RowsPerLoad = 500
  val ProfileLoads = 3
  val Users = 2000
  val Kinds: IndexedSeq[String] = IndexedSeq("view", "click", "cart", "buy", "share", "like")
  val Words: IndexedSeq[String] =
    IndexedSeq("alpha", "bravo", "delta", "gamma", "omega", "sigma", "kappa", "theta")
  val BloomCols = Seq("user_id", "url")
  val NgramCols = Seq("url")
  private val T0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
  /** Each load covers 12 days, so the loads fill January and February;
    * partitions are calendar months.
    */
  val MonthBounds: Seq[Option[String]] =
    Seq(Some("2024-02-01"), Some("2024-03-01"), Some("2024-04-01"), None)

  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("session_id", LongType),
    StructField("kind", StringType), StructField("url", StringType),
    StructField("referrer", StringType), StructField("value", DoubleType)))
  val ProfilesSchema: StructType = StructType(Seq(
    StructField("user_id", LongType, nullable = false), StructField("plan", StringType),
    StructField("score", DoubleType)))

  def tsOf(load: Int, i: Int): Timestamp =
    Timestamp.valueOf(T0.plusSeconds((load - 1) * LoadSpanS + i * (LoadSpanS / RowsPerLoad)))
  val LoadSpanS: Long = 12L * 24 * 3600

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val r = ctx.rng
    val wh = ctx.newDir("hist-wh-")
    val amp = new DirTracker(wh)
    var eng = tr.span("open")(new OlapEngine(spark, wh))
    eng.createDatabase(Db)
    eng.createTable(TableDef(
      db = Db, name = "events", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("event_id", LongType), ColumnSpec.value("ts", TimestampType),
        ColumnSpec.value("user_id", LongType), ColumnSpec.value("session_id", LongType),
        ColumnSpec.value("kind", StringType), ColumnSpec.value("url", StringType),
        ColumnSpec.value("referrer", StringType), ColumnSpec.value("value", DoubleType))),
      policy = PartitionPolicy.Range, partitionColumn = Some("ts"),
      partitions = MonthBounds.zipWithIndex.map { case (b, i) =>
        PartitionSpec(s"m$i", upperExclusive = b, numBuckets = 4) },
      bucketColumn = Some("event_id"), numBuckets = 4,
      bloomColumns = BloomCols, ngramBloomColumns = NgramCols))
    eng.createTable(TableDef(
      db = Db, name = "profiles", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("user_id", LongType), ColumnSpec.value("plan", StringType),
        ColumnSpec.value("score", DoubleType))),
      bucketColumn = Some("user_id"), numBuckets = 4))

    // the source rows, cut into loads; written once as plain parquet so the
    // expected answers come from the source, not from the engine
    val events = (1 to Loads).map { l =>
      (0 until RowsPerLoad).map { i =>
        val id = (l - 1).toLong * RowsPerLoad + i + 1
        val w = Words(r.nextInt(Words.size))
        Row(id, tsOf(l, i), 1L + r.nextInt(Users), 1L + r.nextInt(Users * 5),
          Kinds(r.nextInt(Kinds.size)), s"https://site${r.nextInt(40)}.example/$w/${r.nextInt(1000)}",
          s"ref-${Words(r.nextInt(Words.size))}-${r.nextInt(50)}", math.round(r.nextDouble() * 1e5) / 100.0)
      }
    }
    val profiles = (1 to ProfileLoads).map { v =>
      val users = if (v == 1) (1L to Users).toSeq else (1L to Users).filter(_ => r.nextInt(5) == 0)
      users.map(u => Row(u, s"plan${r.nextInt(4)}-v$v", math.round(r.nextDouble() * 1e4) / 100.0))
    }

    var rows = 0L
    def load(table: String, n: Int)(call: => graft.manifest.RowsetMeta): Unit = {
      ctx.timed("load", s"$table load of $n rows")(tr.span("ingest")(call))(_.numRows == n)
      tr.count("bytes_written", amp.observe().toDouble)
      tr.count("manifest_bytes", Amp.manifestBytes(eng.tableRoot(Db, table)).toDouble)
      tr.count("publishes", 1)
      rows += n
    }
    def loadEvents(i: Int): Unit = load("events", events(i).size)(eng.ingest(Db, "events",
      spark.createDataFrame(events(i).asJava, EventsSchema), Some(Version(i + 1L, i + 1L))))
    // the first load pays the write path's first-use cost; it is set-up, not a sample
    loadEvents(0)
    ctx.rec.samples.remove("load")
    rows = 0L
    val loadT0 = System.nanoTime()
    (1 until Loads).foreach(loadEvents)
    profiles.zipWithIndex.foreach { case (b, i) =>
      load("profiles", b.size)(eng.ingest(Db, "profiles",
        spark.createDataFrame(b.asJava, ProfilesSchema), Some(Version(i + 1L, i + 1L))))
    }
    ctx.rec.scalars("rows_per_s") = rows / ((System.nanoTime() - loadT0) / 1e9)
    ctx.phase("history loads")

    val src = ctx.newDir("source-")
    val srcEvents = src.resolve("events.parquet").toString
    val srcProfiles = src.resolve("profiles.parquet").toString
    spark.createDataFrame(events.zipWithIndex.flatMap { case (b, l) =>
      b.map(row => Row.fromSeq(row.toSeq :+ (l + 1))) }.asJava,
      EventsSchema.add("load_no", IntegerType)).coalesce(1).write.parquet(srcEvents)
    spark.createDataFrame(profiles.zipWithIndex.flatMap { case (b, v) =>
      b.map(row => Row.fromSeq(row.toSeq :+ (v + 1))) }.asJava,
      ProfilesSchema.add("version", IntegerType)).coalesce(1).write.parquet(srcProfiles)
    val source = new Source(spark.read.parquet(srcEvents).collect().toSeq,
      spark.read.parquet(srcProfiles).collect().toSeq)

    ctx.phase("source parquet")
    val ops = new Ops(ctx, () => eng, source)
    // one untimed op of each kind warms every read path
    ops.warm()
    ctx.rec.samples.remove("query"); ctx.rec.samples.remove("point")

    ctx.loop()(_ => ops.pass())

    ctx.rec.scalars("reopen_ms") = ctx.leastStolen(Stats.median((1 to OrdersTable.Reopens).map { _ =>
      val t0 = System.nanoTime()
      eng = tr.span("open")(new OlapEngine(spark, wh))
      tr.span("scan")(eng.scan(Db, "profiles").agg(count(lit(1))).collect())
      (System.nanoTime() - t0) / 1e6
    }))
    ops.fullChecks("after reopen")

    val scratch = ctx.newDir("plain-")
    // events are append-only: every batch row is live
    val eventBytes = Amp.plainParquetBytes(spark.read.parquet(srcEvents).drop("load_no"), scratch)
    val user = eventBytes + Amp.plainParquetBytes(spark.read.parquet(srcProfiles).drop("version"), scratch)
    val live = eventBytes +
      Amp.plainParquetBytes(spark.createDataFrame(source.profilesAt(ProfileLoads).asJava, ProfilesSchema), scratch)
    ctx.rec.scalars("write_amp") = Amp.ratio(amp.bytesCreated, user)
    ctx.rec.scalars("space_amp") = Amp.ratio(amp.bytesNow, live)
  }

  /** The source rows read back from the plain parquet, and the answers the
    * engine must give, evaluated on them directly.
    */
  final class Source(val events: Seq[Row], val profileVersions: Seq[Row]) {
    val byId: Map[Long, Row] = events.map(r => r.getLong(0) -> r).toMap
    def eventsRow(r: Row): String = Fingerprint.canon(Row.fromSeq(r.toSeq.take(EventsSchema.size)))
    def where(p: Row => Boolean): Seq[Row] = events.filter(p)
    def profilesAt(v: Int): Seq[Row] = profileVersions.filter(_.getInt(3) <= v)
      .groupBy(_.getLong(0)).values.map(_.maxBy(_.getInt(3)))
      .map(r => Row(r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
  }

  /** The read mix: each [[pass]] runs a fixed composition of seeded op instances. */
  final class Ops(ctx: Ctx, eng: () => OlapEngine, src: Source) {
    private val tr = ctx.tracer
    private val r = ctx.rng
    private def ev = eng().scan(Db, "events")

    /** count(*) and sum(`column`) of `df`, checked against the same over `want`
      * (whose `column` sits at index `idx`).
      */
    private def aggregate(what: String, want: Seq[Row], column: String, idx: Int)(df: => DataFrame): Unit = {
      val w = (want.size.toLong, want.map(_.getDouble(idx)).sum)
      ctx.timed("query", what) {
        val row = tr.span("execute")(df.agg(count(lit(1)), sum(column)).collect().head)
        (row.getLong(0), if (row.isNullAt(1)) 0.0 else row.getDouble(1))
      }(got => got._1 == w._1 && OrdersTable.close(got._2, w._2))
    }
    private def events(what: String, want: Seq[Row])(df: => DataFrame): Unit =
      aggregate(what, want, "value", 7)(df)
    private def profiles(what: String, want: Seq[Row])(df: => DataFrame): Unit =
      aggregate(what, want, "score", 2)(df)

    /** Event ids of the last loads are favoured. */
    private def recentId(): Long = {
      val back = math.min(Loads * RowsPerLoad - 1, (-math.log(1 - r.nextDouble()) * 1000).toLong)
      Loads.toLong * RowsPerLoad - back
    }

    def pointEvent(): Unit = {
      val id = recentId()
      val want = src.byId.get(id).map(src.eventsRow).toSeq
      ctx.timed("point", s"events lookupByKey($id)") {
        val df = tr.span("lookupByKey")(eng().lookupByKey(Db, "events", id.toString))
        tr.span("execute")(df.select(EventsSchema.fieldNames.map(col): _*).collect().toSeq)
      }(_.map(Fingerprint.canon) == want)
    }

    def pointProfile(): Unit = {
      val u = 1L + r.nextInt(Users)
      val want = src.profilesAt(ProfileLoads).filter(_.getLong(0) == u).map(Fingerprint.canon)
      ctx.timed("point", s"profiles lookupByKey($u)") {
        val df = tr.span("lookupByKey")(eng().lookupByKey(Db, "profiles", u.toString))
        tr.span("execute")(df.select("user_id", "plan", "score").collect().toSeq)
      }(_.map(Fingerprint.canon) == want)
    }

    def keyRange(): Unit = {
      val lo = recentId() - 60
      events(s"event_id in [$lo, ${lo + 50}]", src.where(e => e.getLong(0) >= lo && e.getLong(0) <= lo + 50))(
        tr.span("scan")(ev.filter(col("event_id").between(lo, lo + 50))))
    }

    def monthAgg(): Unit = {
      val m = r.nextInt(2)
      val lo = Timestamp.valueOf(T0.plusMonths(m)); val hi = Timestamp.valueOf(T0.plusMonths(m + 1))
      events(s"month $m", src.where(e => !e.getTimestamp(1).before(lo) && e.getTimestamp(1).before(hi)))(
        tr.span("scan")(ev.filter(col("ts") >= lit(lo) && col("ts") < lit(hi))))
    }

    def userAgg(): Unit = {
      val u = 1L + r.nextInt(Users)
      events(s"user_id = $u", src.where(_.getLong(2) == u))(
        tr.span("scan")(ev.filter(col("user_id") === u)))
    }

    def urlAgg(): Unit = {
      val needle = s"${Words(r.nextInt(Words.size))}/${r.nextInt(1000)}"
      events(s"url contains $needle", src.where(_.getString(5).contains(needle)))(
        tr.span("scan")(ev.filter(col("url").contains(needle))))
    }

    def snapshotEvents(): Unit = {
      val v = 1 + r.nextInt(Loads)
      events(s"events snapshot [1, $v]", src.where(_.getInt(8) <= v))(
        tr.span("snapshot")(eng().snapshot(Db, "events", 1, v)))
    }

    def snapshotProfiles(): Unit = {
      val v = 1 + r.nextInt(ProfileLoads)
      profiles(s"profiles snapshot [1, $v]", src.profilesAt(v))(
        tr.span("snapshot")(eng().snapshot(Db, "profiles", 1, v)))
    }

    def mergedScan(): Unit =
      profiles("profiles merged scan", src.profilesAt(ProfileLoads))(
        tr.span("scan")(eng().scan(Db, "profiles")))

    def metadata(): Unit = {
      val n = src.events.size.toLong
      ctx.timed("query", "events countStar")(tr.span("countStar")(eng().countStar(Db, "events")))(_ == n)
      val ids = src.events.map(_.getLong(0)); val vs = src.events.map(_.getDouble(7))
      ctx.timed("query", "events minMaxStats") {
        val (df, _) = tr.span("minMaxStats")(eng().minMaxStats(Db, "events", Seq("event_id", "value")))
        tr.span("execute")(df.collect().head)
      } { row =>
        def num(c: String) = row.getAs[Any](c) match { case x: Number => x.doubleValue; case x => x.toString.toDouble }
        num("min_event_id") == ids.min && num("max_event_id") == ids.max &&
          num("min_value") == vs.min && num("max_value") == vs.max
      }
    }

    /** The mix: how many of each op one pass runs. */
    private val mix: Seq[(Int, () => Unit)] = Seq(
      5 -> (() => pointEvent()), 2 -> (() => pointProfile()), 2 -> (() => keyRange()),
      2 -> (() => userAgg()), 1 -> (() => monthAgg()), 1 -> (() => urlAgg()),
      1 -> (() => snapshotEvents()), 1 -> (() => snapshotProfiles()), 1 -> (() => metadata()),
      1 -> (() => mergedScan()))

    /** One op of each kind, untimed in effect: warms every read path. */
    def warm(): Unit = mix.foreach(_._2())

    /** One pass: a fixed composition of seeded op instances in seeded order. */
    def pass(): Unit = r.shuffle(mix.flatMap { case (n, op) => Seq.fill(n)(op) }).foreach(_())

    /** Whole-table answers, untimed. */
    def fullChecks(when: String): Unit = {
      ctx.rec.verify(s"events scan $when")(
        Fingerprint.of(ev.select(EventsSchema.fieldNames.map(col): _*)) ==
          Fingerprint.ofRows(src.events.iterator.map(e => Row.fromSeq(e.toSeq.take(EventsSchema.size)))))
      ctx.rec.verify(s"profiles scan $when")(
        Fingerprint.of(eng().scan(Db, "profiles").select("user_id", "plan", "score")) ==
          Fingerprint.ofRows(src.profilesAt(ProfileLoads).iterator))
    }
  }
}
