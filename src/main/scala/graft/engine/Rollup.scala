package graft.engine

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.AggType

/** Materialized rollup index: a pre-aggregated projection of a base table,
  * selected at query time when an aggregation matches its grouping.
  *
  * The reference *declares* rollups (`MaterializedIndex` + always-empty
  * `rollup_indexes`, src/partition.rs:52-57,74-75) but never builds or reads
  * them; this implements the capability. A rollup stores `groupCols` plus
  * per-column Sum/Min/Max aggregates, stamped with the base table's
  * max version at materialization. Query-time selection uses it only when it
  * is fresh AND the requested grouping is a subset of `groupCols` (Sum/Min/
  * Max re-aggregate correctly over coarser groups); otherwise the base table
  * answers. At 100 TB the rollup read is smaller than the base scan by the
  * group-reduction factor, and rollup maintenance is one aggregation job per
  * refresh (typically piggybacked on compaction).
  */
final case class RollupDef(
    name: String,
    groupCols: Seq[String],
    // (output column, source column, agg) — Replace/None not allowed: they
    // don't re-aggregate over coarser groups.
    aggs: Seq[(String, String, AggType)],
    // Stored per-group row count (Doris rollups always carry one): lets
    // count(*) re-aggregate as sum(countCol) and keeps the rollup usable
    // for COUNT dashboards without touching the fact table.
    countCol: Option[String] = None,
    // (output column, integral source column): store a per-group BITMAP of
    // the source values — Doris's BITMAP rollup — making COUNT(DISTINCT src)
    // pre-aggregable and incrementally maintainable (bitmaps OR together;
    // counts of raw rows don't). Spark's bitmap functions cover the value
    // space in fixed 32k-bit buckets, so the stored rollup carries one row
    // per (dims, bucket); every other aggregate still composes across the
    // bucket split.
    bitmapCol: Option[(String, String)] = None,
    // (output column, source column): store a per-group HLL sketch (Doris's
    // HLL column type with HLL_UNION aggregation) — APPROXIMATE distinct
    // counting whose state is ~KBs per group regardless of cardinality,
    // where the exact bitmap grows with the value range. Sketches union
    // associatively, so coarser re-aggregation, cascade builds and
    // incremental refresh all compose; read back via
    // [[RollupManager.approxDistinct]] (explicitly approximate — never
    // transparently substituted for an exact COUNT(DISTINCT)).
    hllCol: Option[(String, String)] = None,
    // SQL predicate over base columns (the Doris sync-MV WHERE clause): the
    // rollup pre-aggregates ONLY matching rows. The transparent rewrite then
    // requires the query to carry this exact predicate as a conjunct — a
    // filtered rollup never serves an unfiltered query, and vice versa.
    filter: Option[String] = None) {
  require(aggs.forall(a => a._3 == AggType.Sum || a._3 == AggType.Min || a._3 == AggType.Max),
    "rollup aggregates must be Sum/Min/Max (re-aggregable)")
}

object RollupDef {
  /** Hidden bucket dimension stored alongside [[RollupDef.bitmapCol]]. */
  val BmBucketCol = "__graft_bm_bkt"
}

final class RollupManager(eng: OlapEngine) {
  import scala.collection.concurrent.TrieMap
  private val defs = TrieMap.empty[(String, String, String), (RollupDef, Long)] // -> (def, baseVersion)

  private def rollupDir(db: String, table: String, name: String): Path =
    eng.tableRoot(db, table).resolve("rollups").resolve(name)

  /** Parquet dir of the build of rollup `name` stored at base `version`. */
  def storedPath(db: String, table: String, name: String, version: Long): String =
    rollupDir(db, table, name).resolve(s"v$version").toString

  // --- persistence: registrations survive restarts --------------------------
  // The stored rollup PARQUET always survived a restart; the REGISTRATION
  // (definition + which base version it reflects) lived only in this JVM,
  // so a restarted engine had to re-materialize — a full base aggregation —
  // before the transparent rewrite could fire again. One small JSON beside
  // the rollup dirs (same atomic-rename discipline as the manifest) makes
  // restart = reload: zero rebuild.

  private def defsPath(db: String, table: String): Path =
    eng.tableRoot(db, table).resolve("rollups").resolve("_rollups.json")

  private def persistDefs(db: String, table: String): Unit = {
    import org.json4s._
    val mine = defs.collect {
      case ((d, t, _), (rd, v)) if d == db && t == table => (rd, v)
    }.toList.sortBy(_._1.name)
    val doc = JArray(mine.map { case (rd, v) =>
      JObject(
        "name" -> JString(rd.name),
        "groupCols" -> JArray(rd.groupCols.toList.map(JString(_): JValue)),
        "aggs" -> JArray(rd.aggs.toList.map { case (o, s, a) =>
          JArray(List(JString(o), JString(s), JString(a.name))): JValue }),
        "countCol" -> rd.countCol.fold(JNothing: JValue)(JString(_)),
        "bitmapCol" -> rd.bitmapCol.fold(JNothing: JValue) { case (o, s) =>
          JArray(List(JString(o), JString(s))) },
        "hllCol" -> rd.hllCol.fold(JNothing: JValue) { case (o, s) =>
          JArray(List(JString(o), JString(s))) },
        "filter" -> rd.filter.fold(JNothing: JValue)(JString(_)),
        "baseVersion" -> JInt(v)): JValue
    })
    val p = defsPath(db, table)
    java.nio.file.Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s"_rollups.json.tmp${Thread.currentThread().getId}")
    java.nio.file.Files.writeString(tmp,
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(doc)))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Reload this table's persisted registrations (engine constructor
    * sweep); the rewrite rule reads them from [[list]]. A registration
    * whose stored parquet version dir vanished is skipped — the next
    * materialize recreates it.
    */
  private[engine] def loadPersisted(db: String, table: String): Unit = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val p = defsPath(db, table)
    if (!java.nio.file.Files.exists(p)) return
    def pair(j: JValue): Option[(String, String)] = j match {
      case JArray(List(JString(a), JString(b))) => Some((a, b))
      case _ => scala.None
    }
    org.json4s.jackson.JsonMethods.parse(java.nio.file.Files.readString(p))
      .extract[List[JValue]].foreach { j =>
        val rd = RollupDef(
          name = (j \ "name").extract[String],
          groupCols = (j \ "groupCols").extract[List[String]],
          aggs = (j \ "aggs").extract[List[JValue]].map {
            case JArray(List(JString(o), JString(s), JString(a))) =>
              (o, s, AggType.fromName(a))
            case other => throw new IllegalArgumentException(s"bad agg $other")
          },
          countCol = (j \ "countCol").extractOpt[String],
          bitmapCol = pair(j \ "bitmapCol"),
          hllCol = pair(j \ "hllCol"),
          filter = (j \ "filter").extractOpt[String])
        val v = (j \ "baseVersion").extract[Long]
        val stored = rollupDir(db, table, rd.name).resolve(s"v$v")
        if (java.nio.file.Files.exists(stored)) defs((db, table, rd.name)) = (rd, v)
      }
  }

  private def aggCol(src: String, agg: AggType, out: String): Column = (agg match {
    case AggType.Sum => sum(col(src))
    case AggType.Min => min(col(src))
    case AggType.Max => max(col(src))
    case other => throw new IllegalArgumentException(s"non-reaggregable $other")
  }).as(out)

  /** Aggregations of the BASE table rows into rollup columns. */
  private def srcAggCols(rd: RollupDef): Seq[Column] =
    rd.aggs.map { case (o, s, a) => aggCol(s, a, o) } ++
      rd.countCol.map(c => count(lit(1)).as(c)) ++
      rd.hllCol.map { case (o, s) => expr(s"hll_sketch_agg($s)").as(o) }

  /** Re-aggregations of STORED rollup rows (partials compose; counts sum;
    * bitmaps OR within their bucket; HLL sketches union).
    */
  private def mergeAggCols(rd: RollupDef): Seq[Column] =
    rd.aggs.map { case (o, _, a) => aggCol(o, a, o) } ++
      rd.countCol.map(c => sum(col(c)).cast("long").as(c)) ++
      rd.bitmapCol.map { case (o, _) => expr(s"bitmap_or_agg($o)").as(o) } ++
      rd.hllCol.map { case (o, _) => expr(s"hll_union_agg($o)").as(o) }

  /** Stored grouping: declared dims + the hidden bitmap bucket. */
  private def storedDims(rd: RollupDef): Seq[String] =
    rd.groupCols ++ rd.bitmapCol.map(_ => RollupDef.BmBucketCol)

  /** Aggregate base-table rows to this rollup's stored shape. */
  private def srcAggregate(df0: DataFrame, rd: RollupDef): DataFrame = {
    val df = rd.filter.fold(df0)(f => df0.filter(expr(f)))
    val withBkt = rd.bitmapCol match {
      case Some((_, s)) =>
        df.withColumn(RollupDef.BmBucketCol, expr(s"bitmap_bucket_number($s)"))
      case None => df
    }
    val cols = srcAggCols(rd) ++ rd.bitmapCol.map { case (o, s) =>
      expr(s"bitmap_construct_agg(bitmap_bit_position($s))").as(o) }
    withBkt.groupBy(storedDims(rd).map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** Materialize (or refresh) a rollup. Source selection cascades: if a
    * FRESH finer rollup of the same table covers this definition (dims ⊇,
    * same source aggregates, count if needed), aggregate from its stored
    * parquet instead of rescanning the base — at 100 TB the difference
    * between a rollup-sized job and a table-sized one every time a
    * dashboard-grade coarse rollup is (re)built. Returns the chosen source
    * (`"base"` or `"rollup:<name>"`).
    */
  def materialize(db: String, table: String, rd: RollupDef): String = {
    val baseVersion = eng.manifest(db, table).maxVersion
    val fine = defs.collectFirst {
      case ((d, t, n), (f, v)) if d == db && t == table && n != rd.name &&
        v == baseVersion &&
        rd.groupCols.forall(f.groupCols.contains) &&
        rd.aggs.forall { case (_, s, a) => f.aggs.exists(r => r._2 == s && r._3 == a) } &&
        (rd.countCol.isEmpty || f.countCol.nonEmpty) &&
        rd.bitmapCol.forall(b => f.bitmapCol.exists(_._2 == b._2)) &&
        rd.hllCol.forall(h => f.hllCol.exists(_._2 == h._2)) &&
        rd.filter == f.filter => (n, f, v)
    }.flatMap { case (n, f, v) =>
      // empty-table builds write no parquet parts; fall back to base then
      scala.util.Try(eng.spark.read.parquet(
        storedPath(db, table, n, v))).toOption.map { stored =>
        val cols = rd.aggs.map { case (o, s, a) =>
          aggCol(f.aggs.find(r => r._2 == s && r._3 == a).get._1, a, o) } ++
          rd.countCol.map(c => sum(col(f.countCol.get)).cast("long").as(c)) ++
          rd.bitmapCol.map { case (o, _) =>
            expr(s"bitmap_or_agg(${f.bitmapCol.get._1})").as(o) } ++
          rd.hllCol.map { case (o, _) =>
            expr(s"hll_union_agg(${f.hllCol.get._1})").as(o) }
        (n, stored.groupBy(storedDims(rd).map(col): _*).agg(cols.head, cols.tail: _*))
      }
    }
    val out = fine.map(_._2).getOrElse(srcAggregate(eng.scan(db, table), rd))
    out.write.mode("overwrite").parquet(storedPath(db, table, rd.name, baseVersion))
    defs((db, table, rd.name)) = (rd, baseVersion)
    persistDefs(db, table)
    fine.map(f => s"rollup:${f._1}").getOrElse("base")
  }

  def isFresh(db: String, table: String, name: String): Boolean =
    defs.get((db, table, name))
      .exists(_._2 == eng.manifest(db, table).maxVersion)

  /** Registered rollups of one table: (definition, stored base version),
    * name-sorted — the SHOW ROLLUPS introspection surface.
    */
  def list(db: String, table: String): Seq[(RollupDef, Long)] =
    defs.collect { case ((d, t, _), v) if d == db && t == table => v }
      .toSeq.sortBy(_._1.name)

  /** Does this rollup's definition reference `colName` as a base column? */
  private def references(rd: RollupDef, colName: String): Boolean =
    rd.groupCols.contains(colName) ||
      rd.aggs.exists(_._2 == colName) ||
      rd.bitmapCol.exists(_._2 == colName) ||
      rd.hllCol.exists(_._2 == colName) ||
      rd.filter.exists(f => attributesOf(f).contains(colName))

  private def attributesOf(sqlText: String): Set[String] =
    eng.spark.sessionState.sqlParser.parseExpression(sqlText).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.last
    }.toSet

  private def renameInSql(sqlText: String, oldName: String, newName: String): String =
    eng.spark.sessionState.sqlParser.parseExpression(sqlText).transformUp {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.last == oldName =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          a.nameParts.init :+ newName)
    }.sql

  /** Follow a base-table column rename through every registered rollup
    * (called by [[OlapEngine.renameColumn]]): definitions referencing the
    * old name are rewritten AND re-materialized — the stored files carry
    * the old dim names, so a metadata rewrite alone would mis-read them,
    * and without any action the rollup silently stands down (the round-9
    * gap: REFRESH after a rename required the user to know it had).
    * Returns the re-materialized rollup names.
    */
  def renameColumn(db: String, table: String, oldName: String,
                   newName: String): Seq[String] = {
    val hit = defs.collect {
      case ((d, t, n), (rd, _)) if d == db && t == table &&
        references(rd, oldName) => (n, rd)
    }.toSeq
    hit.map { case (n, rd) =>
      def r(c: String) = if (c == oldName) newName else c
      val renamed = rd.copy(
        groupCols = rd.groupCols.map(r),
        aggs = rd.aggs.map { case (o, s, a) => (o, r(s), a) },
        bitmapCol = rd.bitmapCol.map { case (o, s) => (o, r(s)) },
        hllCol = rd.hllCol.map { case (o, s) => (o, r(s)) },
        filter = rd.filter.map(renameInSql(_, oldName, newName)))
      materialize(db, table, renamed)
      n
    }.sorted
  }

  /** Incremental maintenance: aggregate ONLY the rowset versions published
    * since the stored snapshot and fold them into the stored rollup
    * (Sum/Min/Max compose over partials). Cost = one aggregation over the
    * delta plus a rollup-sized merge — never a base rescan — which is what
    * keeps a 100 TB rollup current behind a streaming ingest.
    *
    * Valid when the delta range is cleanly addressable as append-only
    * versions: Duplicate-model tables whose covering path for
    * (storedV, maxV] contains no rowset reaching back before it (compaction
    * rewrites spans, merge-on-read models rewrite history). Anything else
    * falls back to a full [[materialize]].
    */
  def refreshIncremental(db: String, table: String, name: String): Unit = {
    val key = (db, table, name)
    val (rd, storedV) = defs.getOrElse(key,
      throw new IllegalArgumentException(s"unknown rollup $db.$table/$name"))
    val maxV = eng.manifest(db, table).maxVersion
    if (storedV == maxV) return
    val duplicateModel = eng.catalog.getTable(db, table)
      .exists(_.schema.keysType == graft.model.KeysType.Duplicate)
    // A hole means the delta range is no longer addressable as-is (e.g.
    // compaction collapsed it into a rowset reaching back before storedV).
    val deltaRowsets = scala.util.Try(
      eng.manifest(db, table).captureConsistentVersions(storedV + 1, maxV))
      .getOrElse(Seq.empty)
    // A DELETE-WHERE marker in the delta masks rows of OLDER rowsets — rows
    // already folded into the stored rollup — so the delta is not append-only
    // and folding it in would keep deleted rows in the aggregates forever.
    val cleanDelta = duplicateModel && deltaRowsets.nonEmpty &&
      deltaRowsets.forall(_.version.start > storedV) &&
      deltaRowsets.forall(!_.isDeleteMarker)
    if (!cleanDelta) { materialize(db, table, rd); return }

    // A rollup materialized over an empty table writes no parquet parts and
    // cannot be read back; rebuild instead (it is the first real build).
    val storedTry = scala.util.Try(eng.spark.read.parquet(
      storedPath(db, table, name, storedV)))
    if (storedTry.isFailure) { materialize(db, table, rd); return }
    val stored = storedTry.get
    val deltaAgg = srcAggregate(eng.snapshot(db, table, storedV + 1, maxV), rd)
    val mergeCols = mergeAggCols(rd)
    val merged = stored.unionByName(deltaAgg)
      .groupBy(storedDims(rd).map(col): _*)
      .agg(mergeCols.head, mergeCols.tail: _*)
    merged.write.mode("overwrite")
      .parquet(storedPath(db, table, name, maxV))
    defs(key) = (rd, maxV)
    persistDefs(db, table)
  }

  /** Approximate distinct count of `src` per `groupCols`, answered from a
    * fresh covering HLL rollup when one exists (union the stored sketches,
    * estimate once), else by sketching the base scan — the SAME DataSketches
    * estimator either way, so the answer does not depend on which path
    * served it. Explicitly approximate, Doris's `hll_union_agg` query shape;
    * at 100 TB the rollup path reads KB-sized sketch rows instead of the
    * fact table, with relative error ~1.6% (lgConfigK=12 default).
    */
  def approxDistinct(db: String, table: String, groupCols: Seq[String],
                     src: String, outCol: String = "ndv"): DataFrame = {
    val candidate = defs.collect {
      case ((d, t, n), (rd, v)) if d == db && t == table &&
        v == eng.manifest(db, table).maxVersion &&
        groupCols.forall(rd.groupCols.contains) &&
        rd.filter.isEmpty && // a filtered rollup covers only matching rows
        rd.hllCol.exists(_._2 == src) => (rd, v)
    }.minByOption(_._1.groupCols.size)
    candidate match {
      case Some((rd, v)) =>
        eng.spark.read.parquet(storedPath(db, table, rd.name, v))
          .groupBy(groupCols.map(col): _*)
          .agg(expr(s"hll_sketch_estimate(hll_union_agg(${rd.hllCol.get._1}))").as(outCol))
      case None =>
        eng.scan(db, table)
          .groupBy(groupCols.map(col): _*)
          .agg(expr(s"hll_sketch_estimate(hll_sketch_agg($src))").as(outCol))
    }
  }

  /** Aggregate `aggs` grouped by `groupCols`, answered from a fresh matching
    * rollup when one exists (re-aggregating if the rollup is finer), else
    * from the base table. Mirrors Doris-style rollup selection.
    */
  def aggregate(db: String, table: String, groupCols: Seq[String],
                aggs: Seq[(String, String, AggType)]): DataFrame = {
    // fewest dimensions wins (smallest stored rollup), same policy as the
    // transparent RollupRewrite rule
    val candidate = defs.collect {
      case ((d, t, n), (rd, v)) if d == db && t == table &&
        v == eng.manifest(db, table).maxVersion &&
        groupCols.forall(rd.groupCols.contains) &&
        rd.filter.isEmpty && // a filtered rollup covers only matching rows
        aggs.forall { case (_, src, agg) => rd.aggs.exists(r => r._2 == src && r._3 == agg) } =>
        (rd, v)
    }.minByOption(_._1.groupCols.size)
    candidate match {
      case Some((rd, v)) =>
        val stored = eng.spark.read.parquet(
          storedPath(db, table, rd.name, v))
        // re-aggregate the (possibly finer) rollup to the requested grouping;
        // Sum/Min/Max compose over partial aggregates.
        stored.groupBy(groupCols.map(col): _*)
          .agg(aggs.head match { case (o, s, a) =>
            aggCol(rd.aggs.find(r => r._2 == s && r._3 == a).get._1, a, o) },
            aggs.tail.map { case (o, s, a) =>
              aggCol(rd.aggs.find(r => r._2 == s && r._3 == a).get._1, a, o) }: _*)
      case None =>
        eng.scan(db, table)
          .groupBy(groupCols.map(col): _*)
          .agg(aggs.head match { case (o, s, a) => aggCol(s, a, o) },
            aggs.tail.map { case (o, s, a) => aggCol(s, a, o) }: _*)
    }
  }
}
