package perfbench

import java.nio.file.{Files, Path}

/** Turns a finished run into its figures: end-to-end metrics from the op
  * samples, per-layer metrics from the spans of the traced timed phase.
  */
object Report {
  val Cores = 4

  def endToEnd(ctx: Ctx): Seq[(String, Double, String)] = {
    val rec = ctx.rec
    val sc = rec.scalars
    def xs(kind: String) = rec.samples.get(kind).map(_.toSeq).filter(_.nonEmpty)
    def p50(kind: String) = xs(kind).map(Stats.median).getOrElse(Double.NaN)
    def tail(kind: String) = xs(kind).map(Stats.tail(_)._2).getOrElse(Double.NaN)
    val reads = xs("query").map(_.size).getOrElse(0) + xs("point").map(_.size).getOrElse(0)
    Seq(
      ("setup_s", sc.getOrElse("setup_s", Double.NaN), "s"),
      ("pass_s", sc.getOrElse("pass_s", Double.NaN), "s"),
      ("query_p50_ms", p50("query"), "ms"),
      ("query_p90_ms", tail("query"), "ms"),
      ("queries_per_s", reads / sc.getOrElse("timed_wall_s", Double.NaN), "1/s"),
      ("point_p50_ms", p50("point"), "ms"),
      ("point_p90_ms", tail("point"), "ms"),
      ("load_p50_ms", p50("load"), "ms"),
      ("load_p90_ms", tail("load"), "ms"),
      ("rows_per_s", sc.getOrElse("rows_per_s", Double.NaN), "rows/s"),
      ("write_amp", sc.getOrElse("write_amp", Double.NaN), "ratio"),
      ("space_amp", sc.getOrElse("space_amp", Double.NaN), "ratio"),
      ("reopen_ms", sc.getOrElse("reopen_ms", Double.NaN), "ms"),
      ("retained_mb", retainedMb(ctx), "MB"))
  }

  /** Driver heap after a full GC, plus Spark block-manager memory and disk. */
  def retainedMb(ctx: Ctx): Double = {
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    val info = ctx.spark.sparkContext.getRDDStorageInfo
    (rt.totalMemory - rt.freeMemory + info.map(i => i.memSize + i.diskSize).sum) / 1e6
  }

  /** Self time: a span's duration minus the time its children cover. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val childMs = spans.filter(_.parent >= 0).groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    spans.groupBy(_.name).view.mapValues(_.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum).toMap
  }

  def perLayer(ctx: Ctx): Seq[(String, Double, String)] = {
    val (from, to) = ctx.timedSpans
    val all = ctx.tracer.spans
    val spans = all.slice(from, to)
    val roots = spans.filter(_.parent == -1)
    val n = math.max(1, roots.size).toDouble
    def named(names: String*) = spans.filter(s => names.contains(s.name))
    def ms(names: String*) = named(names: _*).map(_.ms).sum
    def ctr(in: Seq[Span], key: String) = in.map(_.counters.getOrElse(key, 0.0)).sum
    def total(key: String) = ctx.timedCounters.getOrElse(key, 0.0)
    val execMs = ms("execute")
    val visible = total("rowsets_visible")
    val scanned = total("rowsets_scanned")
    val storage = ctx.spark.sparkContext.getRDDStorageInfo
    val opens = all.filter(_.name == "open").map(_.ms)
    val runTotals = ctx.tracer.settle()
    val publishes = runTotals.getOrElse("publishes", 0.0)
    val manifestBytes = runTotals.getOrElse("manifest_bytes", 0.0)
    val loads = Seq("ingest", "ingestPartial", "deleteWhere", "ingestDeletes")
    val (untracedMs, tracedMs) = ctx.overhead.getOrElse((Double.NaN, Double.NaN))
    val rec = ctx.rec
    Seq(
      ("construct_ms", ms("construct") / n, "ms"),
      ("construct_jobs", ctr(named("construct"), "jobs") / n, "count"),
      ("plan_ms", total("plan_ms") / n, "ms"),
      ("graft_rule_ms", total("graft_rule_ms") / n, "ms"),
      ("scan_branches", total("scan_branches") / n, "count"),
      ("run_ms", execMs / n, "ms"),
      ("jobs", total("jobs") / n, "count"),
      ("stages", total("stages") / n, "count"),
      ("tasks", total("tasks") / n, "count"),
      ("exec_core_s", total("exec_core_ms") / 1e3 / n, "s"),
      ("core_busy", if (execMs > 0) ctr(named("execute"), "exec_core_ms") / (execMs * Cores) else 0.0, "ratio"),
      ("task_gc_ms", total("task_gc_ms") / n, "ms"),
      ("driver_gc_ms", total("driver_gc_ms") / n, "ms"),
      ("shuffle_read_mb", total("shuffle_read_bytes") / 1e6 / n, "MB"),
      ("shuffle_write_mb", total("shuffle_write_bytes") / 1e6 / n, "MB"),
      ("spill_mb", total("spill_bytes") / 1e6 / n, "MB"),
      ("read_mb", total("read_bytes") / 1e6 / n, "MB"),
      ("files_read", total("files_read") / n, "count"),
      ("rowsets_visible", visible / n, "count"),
      ("rowsets_scanned", scanned / n, "count"),
      ("rowset_prune_ratio", if (visible > 0) 1 - scanned / visible else 0.0, "ratio"),
      ("ingest_ms", ms("ingest") / n, "ms"),
      ("ingest_partial_ms", ms("ingestPartial") / n, "ms"),
      ("delete_ms", ms("deleteWhere", "ingestDeletes") / n, "ms"),
      ("load_jobs", ctr(named(loads: _*), "jobs") / n, "count"),
      ("bytes_written_mb", total("bytes_written") / 1e6 / n, "MB"),
      ("compact_ms", ms("runScheduledCompaction") / n, "ms"),
      ("compact_in_rowsets", total("compact_in_rowsets") / n, "count"),
      ("compact_rewrite_mb", total("compact_rewrite_bytes") / 1e6 / n, "MB"),
      ("engine_gc_ms", ms("gc") / n, "ms"),
      ("rowsets_deleted", total("rowsets_deleted") / n, "count"),
      ("open_ms", if (opens.isEmpty) 0.0 else Stats.median(opens), "ms"),
      ("manifest_kb", if (publishes > 0) manifestBytes / publishes / 1024 else 0.0, "KB"),
      ("cache_mem_mb", storage.map(_.memSize).sum / 1e6, "MB"),
      ("cache_disk_mb", storage.map(_.diskSize).sum / 1e6, "MB"),
      ("evicted_blocks", storage.map(i => (i.numPartitions - i.numCachedPartitions).max(0)).sum.toDouble, "count"),
      ("trace_overhead_ms", tracedMs - untracedMs, "ms"),
      ("trace_overhead_pct", 100 * (tracedMs - untracedMs) / untracedMs, "%"),
      ("error_rate", rec.failed.toDouble / math.max(1L, rec.attempted), "ratio"),
      ("timed_ops", roots.size.toDouble, "count"))
  }

  def build(ctx: Ctx, workload: String): Map[String, Any] = {
    val rec = ctx.rec
    val e2e = endToEnd(ctx)
    val layers = if (ctx.tracer.enabled) perLayer(ctx) else Nil
    def metrics(ms: Seq[(String, Double, String)]) =
      ms.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap
    val (from, to) = ctx.timedSpans
    Map(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "traced" -> ctx.tracer.enabled,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "failures" -> rec.failures.take(20).toSeq,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layers),
      "samples" -> rec.samples.map { case (k, v) =>
        k -> Map("n" -> v.size, "p50_ms" -> Stats.median(v.toSeq),
          "tail_percentile" -> Stats.tailPercentile(v.size)) }.toMap,
      "ops" -> rec.ops.map { case (k, w, ms) => Seq(k, w, ms) }.toSeq,
      "scalars" -> rec.scalars.toMap,
      "self_ms" -> (if (ctx.tracer.enabled) selfMs(ctx.tracer.spans.slice(from, to)) else Map.empty))
  }

  /** Spans as JSON lines: name, start, end, parent, op id, counters. */
  def writeSpans(ctx: Ctx, path: Path): Unit = {
    val lines = ctx.tracer.spans.map { s =>
      Json.obj(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "counters" -> s.counters))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the figures above (maps, sequences, numbers, strings). */
object Json {
  def obj(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => obj(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => obj(f.toDouble)
    case n: Number => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + obj(x) }.sortBy(identity).mkString("{", ",", "}")
    case s: Iterable[_] => s.map(obj).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
