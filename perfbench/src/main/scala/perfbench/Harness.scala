package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one workload run hands back: timed samples per op kind (ms),
  * scalar end-to-end figures, and the op accounting.
  */
final class Recorder {
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val scalars: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** (kind, what, ms) of every successful op, in order. */
  val ops: mutable.ArrayBuffer[(String, String, Double)] = mutable.ArrayBuffer.empty
  var attempted = 0L

  def failed: Long = failures.size.toLong
  def sample(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** Runs one op: its wall time becomes a sample of `kind` only when the op
    * returns and `check` accepts the result. A throw or a rejected result
    * counts as a failure and leaves no timing behind.
    */
  def timed[T](kind: String, what: => String)(body: => T)(check: T => Boolean): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    out match {
      case Right(v) if check(v) =>
        sample(kind, ms); ops += ((kind, what, ms)); Some(v)
      case Right(_) => fail(s"$what: wrong result"); None
      case Left(e) => fail(s"$what: ${e.getClass.getName}: ${e.getMessage}"); None
    }
  }

  /** An untimed correctness check that still counts as an attempted op. */
  def verify(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val good = try ok catch {
      case e: Exception => fail(s"$what: ${e.getClass.getName}: ${e.getMessage}"); return false
    }
    if (!good) fail(s"$what: wrong result")
    good
  }
}

/** Everything a workload needs: the session, the tracer, its seed and
  * measuring window, and a temp root that the launcher deletes at exit.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Double, val tmp: Path, val dataDir: String, val jvmStartMs: Long) {
  val rec = new Recorder
  val rng = new scala.util.Random(seed)
  private var firstOpMs = -1L

  def newDir(prefix: String): Path = Files.createTempDirectory(tmp, prefix)

  /** Progress line in the run log: seconds since JVM start. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s: $name")

  /** One benchmark operation: a [[Recorder.timed]] op under its own trace op id. */
  def timed[T](kind: String, what: => String)(body: => T)(check: T => Boolean): Option[T] =
    tracer.op(kind)(rec.timed(kind, what)(body)(check))

  /** Runs `measure` once more when the VM lost more than [[Ctx.MaxSteal]]
    * of its CPU time to steal during it, and keeps the less-stolen result.
    */
  def leastStolen(measure: => Double): Double = {
    def once(): (Double, Double) = {
      val st0 = Ctx.steal()
      val v = measure
      (Ctx.stealShare(st0, Ctx.steal()), v)
    }
    val first = once()
    if (first._1 <= Ctx.MaxSteal) first._2 else Seq(first, once()).minBy(_._1)._2
  }

  /** Marks the end of set-up: JVM start to here is `setup_s`. */
  def startTimed(): Unit = if (firstOpMs < 0) {
    phase("timed phase")
    firstOpMs = System.currentTimeMillis()
    rec.scalars("setup_s") = (firstOpMs - jvmStartMs) / 1e3
  }

  /** Index of the first and one past the last span of the traced timed phase. */
  var timedSpans: (Int, Int) = (0, 0)
  /** Counter totals that moved during the traced timed phase. */
  var timedCounters: Map[String, Double] = Map.empty
  /** Mean op latency (ms) of the untraced and the traced half of a traced run. */
  var overhead: Option[(Double, Double)] = None

  /** Closed loop over whole passes: `step(i)` runs pass i, and the window
    * runs as many passes as fit in `seconds`, at least one. The record keeps
    * the share of the VM's CPU time the hypervisor took during the window
    * (`/proc/stat` steal), so a run on a busy host can be told apart. It is
    * not acted on: measuring a window again would run more passes, and on
    * `load_churn` more loads, which changes the amplification and reopen
    * figures that follow. A traced run first loops a window with the tracer
    * idle, so the tracing overhead is measured on the same mix. Returns how
    * far `committed` advanced during the measured window. Sets `pass_s`
    * (median pass), `timed_wall_s` and `passes`.
    */
  def loop(committed: () => Long = () => 0L)(step: Int => Unit): Long = {
    startTimed()
    var i = 0
    def window(): Seq[Double] = {
      val passes = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      // a pass starts only when a pass of the mean length so far ends in
      // the window, so the window never runs a whole pass past `seconds`
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 + passes.sum / passes.size <= seconds) {
        val p0 = System.nanoTime()
        step(i); i += 1
        passes += (System.nanoTime() - p0) / 1e9
      }
      passes.toSeq
    }
    def meanOpMs(from: Int): Double = {
      val ms = rec.ops.drop(from).map(_._3)
      ms.sum / math.max(1, ms.size)
    }
    val untraced =
      if (!tracer.enabled) None
      else {
        tracer.active = false
        val from = rec.ops.size
        window()
        tracer.active = true
        Some(meanOpMs(from))
      }
    val ops0 = rec.ops.size
    val c0 = committed()
    val from = tracer.spans.size
    val before = if (tracer.enabled) tracer.settle() else Map.empty[String, Double]
    val st0 = Ctx.steal()
    val passes = window()
    rec.scalars("window_steal_share") = Ctx.stealShare(st0, Ctx.steal())
    if (tracer.enabled)
      timedCounters = tracer.settle().map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    timedSpans = (from, tracer.spans.size)
    untraced.foreach(u => overhead = Some((u, meanOpMs(ops0))))
    rec.scalars("pass_s") = Stats.median(passes)
    rec.scalars("timed_wall_s") = passes.sum
    rec.scalars("passes") = passes.size
    committed() - c0
  }
}

object Ctx {
  /** Steal share of the reopen series above which it is measured again. */
  val MaxSteal = 0.04

  /** (steal, total) jiffies of all CPUs from `/proc/stat`; zeros where absent. */
  def steal(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 <= a._2) 0.0 else (b._1 - a._1).toDouble / (b._2 - a._2)
}
