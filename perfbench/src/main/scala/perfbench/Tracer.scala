package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `op` is shared by every span of
  * one benchmark operation; `counters` are the Spark and benchmark counters
  * that moved while the span was open (children included).
  */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans and counters recorded around calls into the engine's public API.
  * Disabled, [[span]] only runs its body: untraced runs register no
  * listener and pay nothing. Enabled, a SparkListener and a
  * QueryExecutionListener feed counters while [[active]], the listener bus
  * is drained at every span boundary, and the spans are kept in memory
  * until [[spans]] is written out at exit. Single client thread only.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  /** Off for the untraced half of a traced run: spans and listeners idle. */
  @volatile var active: Boolean = enabled
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var opId = 0L

  def spans: Seq[Span] = recorded.toSeq

  /** Adds to a counter (benchmark-side counts: bytes written, rowsets deleted). */
  def count(key: String, v: Double): Unit =
    if (active) totals.synchronized(totals(key) += v)

  /** Starts a new operation: every span opened inside shares its id. */
  def op[T](name: String)(body: => T): T = { opId += 1; span(name)(body) }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val before = settle()
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        val after = settle()
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
          .filter(_._2 != 0.0)
        recorded += Span(id, parent, opId, name, t0, t1, delta)
      }
    }

  private def driverGcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Waits for queued listener events, then snapshots the counters. */
  def settle(): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    totals.synchronized(totals("driver_gc_ms") = driverGcMs)
    totals.synchronized(totals.toMap)
  }

  private val rowsetDir = mutable.Map.empty[String, Boolean]
  /** A parquet leaf is a rowset when a `_manifest.json` sits above it. */
  private def isRowset(path: String): Boolean = rowsetDir.getOrElseUpdate(path, {
    var p = java.nio.file.Paths.get(path.stripPrefix("file:"))
    var hit = false
    var i = 0
    while (!hit && p != null && i < 4) {
      hit = java.nio.file.Files.exists(p.resolve("_manifest.json"))
      p = p.getParent; i += 1
    }
    hit
  })

  private def parquetLeaves(plan: LogicalPlan): Seq[Seq[String]] = plan.collectWithSubqueries {
    case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
      l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.map(_.toString)
  }

  private object planHelper extends AdaptiveSparkPlanHelper {
    def filesRead(p: SparkPlan): Double = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble
  }

  private def onQuery(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val graftNs = qe.tracker.rules.collect {
      case (name, s) if name.startsWith("graft.plans.") => s.totalTimeNs
    }.sum
    val analyzed = parquetLeaves(qe.analyzed)
    val optimized = parquetLeaves(qe.optimizedPlan)
    val files = try planHelper.filesRead(qe.executedPlan) catch { case _: Exception => 0.0 }
    totals.synchronized {
      totals("plan_ms") += phases
      totals("graft_rule_ms") += graftNs / 1e6
      totals("scan_branches") += optimized.size
      totals("rowsets_visible") += analyzed.count(_.exists(isRowset))
      totals("rowsets_scanned") += optimized.count(_.exists(isRowset))
      totals("files_read") += files
      totals("queries") += 1
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = count("jobs", 1)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = count("stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null && active) totals.synchronized {
          totals("tasks") += 1
          totals("exec_core_ms") += m.executorRunTime
          totals("task_gc_ms") += m.jvmGCTime
          totals("read_bytes") += m.inputMetrics.bytesRead
          totals("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
          totals("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          totals("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (active) try onQuery(qe) catch { case _: Exception => count("trace_errors", 1) }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }
}
