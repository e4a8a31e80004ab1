package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `board`: passes over a fixed list of production-shape queries
  * (`SparkEntry.benchVariants` over `SparkEntry.queries`) on read-only
  * parquet, each sent to a noop sink, in a seed-shuffled order per pass.
  * A small Unique table next to the board stands in for the merge-view
  * serves: one merged aggregate and a few point lookups per pass.
  */
object Board {
  /** Plain relational, then pipeline queries: the part of the full board
    * that fits a run's time budget (README.md, "Limits").
    */
  val Queries: Seq[String] = Seq(
    "q01_scan_project", "q03_agg_q1", "q05_join_broadcast",
    "q32_dedup_simhash", "q171_prefix_filter_join", "q260_containment_join",
    "q270_repeated_spans")

  /** Point lookups after each query of a pass. Every query is followed by
    * the same number, so a pass's lookups run in the same contexts whatever
    * the shuffled order. A pass looks up a fixed mix of keys by history:
    * keys written once by the newest load, and older or rewritten keys,
    * which cost more to look up. A seeded draw of keys would move the point
    * median with the share of old keys it happened to draw.
    */
  val PointsPerQuery = 2
  val NewPointsPerPass = 12
  val OldPointsPerPass = 4
  /** Timed set-up loads, the second a partial update: `load_p50_ms` is
    * their median, and the first load of a JVM runs five times as long, so
    * five keep the median on warm loads.
    */
  val SetupLoads = 5
  val SetupLoadRows = 400

  def builder(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.benchVariants.getOrElse(name, graft.SparkEntry.queries(name))

  def readExpected(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.contains('\t'))
      .map { l => val Array(k, v) = l.split('\t'); k -> v }.toMap

  def run(ctx: Ctx, expectedFile: Path, record: Boolean): Unit = {
    val spark = ctx.spark
    val expected = readExpected(expectedFile)

    val orders = new OrdersTable(ctx, ctx.newDir("board-wh-"))
    val rows0 = orders.rowsCommitted
    val loadT0 = System.nanoTime()
    (1 to SetupLoads).foreach { i =>
      if (i == 2) orders.partial(SetupLoadRows / 2, i) else orders.upsert(SetupLoadRows, i)
    }
    ctx.rec.scalars("rows_per_s") = (orders.rowsCommitted - rows0) / ((System.nanoTime() - loadT0) / 1e9)
    ctx.phase("board set-up loads")

    // warm-up pass: every query runs once, and its result must match the
    // fingerprint recorded for this data
    val recorded = scala.collection.mutable.LinkedHashMap.empty[String, String]
    Queries.foreach { name =>
      ctx.rec.verify(s"$name fingerprint") {
        val got = Fingerprint.of(builder(name)(spark, ctx.dataDir)).show
        recorded(name) = got
        record || expected.get(name).contains(got) || {
          System.err.println(s"[perfbench] $name: got $got, expected ${expected.getOrElse(name, "none")}")
          false
        }
      }
    }
    if (record) Files.write(expectedFile, recorded.map { case (k, v) => s"$k\t$v" }.asJava)
    ctx.phase("fingerprint pass")
    orders.aggregate()
    val (newKeys, oldKeys) = orders.liveKeysByAge
    def passKeys(nNew: Int, nOld: Int) =
      ctx.rng.shuffle(OrdersTable.mix(ctx.rng.shuffle(newKeys), ctx.rng.shuffle(oldKeys), nNew, nOld))
    passKeys(2, 1).foreach(orders.lookup)
    ctx.rec.samples.remove("query"); ctx.rec.samples.remove("point")

    val ops: Seq[() => Unit] =
      Queries.map(n => () => runQuery(ctx, n)) :+ (() => orders.aggregate())
    require(ops.size * PointsPerQuery == NewPointsPerPass + OldPointsPerPass)
    ctx.loop() { _ =>
      val keys = passKeys(NewPointsPerPass, OldPointsPerPass).iterator
      ctx.rng.shuffle(ops).foreach { op =>
        op()
        (1 to PointsPerQuery).foreach(_ => orders.lookup(keys.next()))
      }
    }

    ctx.rec.scalars("reopen_ms") = orders.reopen()
    orders.checkAgainstModel("board orders after reopen")
    orders.recordAmplification()
  }

  def runQuery(ctx: Ctx, name: String): Unit = {
    val tr = ctx.tracer
    ctx.timed("query", name) {
      val df = tr.span("construct")(builder(name)(ctx.spark, ctx.dataDir))
      tr.span("execute")(df.write.mode("overwrite").format("noop").save())
    }(_ => true)
  }
}
