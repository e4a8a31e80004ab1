package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: builds a `local[4]` session, with the
  * engine's extensions installed, whose every
  * scratch directory lives under `--tmp`, runs one workload with one client
  * thread, and writes the run's figures as JSON to `--out` (plus the spans
  * to `--spans` when traced). `run.py` launches it; see README.md.
  */
object Main {
  val Workloads = Seq("board", "load_churn", "history_reads")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val tmp = Paths.get(opt("tmp"))
    val out = Paths.get(opt("out"))
    val traced = opt("trace") == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val local = tmp.resolve("spark-local"); Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the engine's optimizer rules and SQL functions, as a deployment installs them
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", tmp.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(tmp.resolve("rdd-checkpoints").toString)
    val ctx = new Ctx(spark, new Tracer(spark, traced), opt("seed").toLong,
      opt("seconds").toDouble, tmp, opt("data"), jvmStartMs)
    ctx.phase("session")
    val runErr =
      try {
        workload match {
          case "board" => Board.run(ctx, Paths.get(opt("expected")), opts.get("record").contains("1"))
          case "load_churn" => LoadChurn.run(ctx)
          case "history_reads" => HistoryReads.run(ctx)
        }
        None
      } catch { case e: Exception => e.printStackTrace(); Some(s"${e.getClass.getName}: ${e.getMessage}") }
    runErr.foreach(ctx.rec.fail)
    val report = Report.build(ctx, workload)
    Files.write(out, Json.obj(report).getBytes("UTF-8"))
    if (traced) opts.get("spans").foreach(p => Report.writeSpans(ctx, Paths.get(p)))
    spark.stop()
  }
}
