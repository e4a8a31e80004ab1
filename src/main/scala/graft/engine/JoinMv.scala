package graft.engine

import java.nio.file.Path
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.AggType

/** Async materialized view over a fact⋈dim join with pre-aggregation — the
  * StarRocks/Doris "async MV" capability, one level up from [[RollupDef]]
  * (which pre-aggregates a single table). The MV stores
  * `SELECT groupCols, agg(factCols) FROM fact JOIN dim ON factKey = dimKey
  *  GROUP BY groupCols`, where `groupCols` may come from EITHER side — the
  * usual dashboard shape "fact measures by dimension attribute".
  *
  * Freshness is stamped on BOTH tables' manifest versions: a load into the
  * fact OR the dim invalidates the MV until the next refresh. At 100 TB this
  * is the join-elimination lever: the query-time plan reads an MV that is
  * smaller than the fact by the group-reduction factor and never shuffles the
  * fact against the dim at all.
  *
  * Query-time use is either the explicit [[MvManager.aggregate]] API or the
  * transparent [[graft.plans.JoinMvRewrite]] optimizer rule (the USER writes
  * the join+aggregate against the base tables; the optimizer swaps in the MV).
  */
final case class MvJoinDef(
    name: String,
    factDb: String, factTable: String,
    dimDb: String, dimTable: String,
    factKey: String, dimKey: String,
    groupCols: Seq[String],
    // (output column, source column, agg) — Sum/Min/Max only: they
    // re-aggregate correctly over coarser groupings.
    aggs: Seq[(String, String, AggType)],
    // stored per-group row count: count(*) re-aggregates as sum(countCol)
    countCol: Option[String] = None) {
  require(aggs.forall(a => a._3 == AggType.Sum || a._3 == AggType.Min || a._3 == AggType.Max),
    "MV aggregates must be Sum/Min/Max (re-aggregable)")
}

final class MvManager(eng: OlapEngine) {
  // name -> (def, fact version, dim version)
  private val defs = TrieMap.empty[(String, String, String, String), (MvJoinDef, Long, Long)]

  private def mvDir(d: MvJoinDef): Path =
    eng.tableRoot(d.factDb, d.factTable).resolve("mvs").resolve(d.name)

  /** Parquet dir of the build of `d` at (fact, dim) versions. */
  def storedPath(d: MvJoinDef, factV: Long, dimV: Long): String =
    mvDir(d).resolve(s"f${factV}_d$dimV").toString

  // --- persistence: registrations survive restarts (the RollupManager
  // argument verbatim: the MV parquet always survived, the registration
  // didn't, so a restart forced a full fact⋈dim rebuild before the rewrite
  // could serve again) ------------------------------------------------------

  private def defsPath(factDb: String, factTable: String): Path =
    eng.tableRoot(factDb, factTable).resolve("mvs").resolve("_mvs.json")

  private def persistDefs(factDb: String, factTable: String): Unit = {
    import org.json4s._
    val mine = defs.collect {
      case ((w, d, t, _), v) if w == eng.warehouse.toString &&
        d == factDb && t == factTable => v
    }.toList.sortBy(_._1.name)
    val doc = JArray(mine.map { case (d, fv, dv) =>
      JObject(
        "name" -> JString(d.name),
        "factDb" -> JString(d.factDb), "factTable" -> JString(d.factTable),
        "dimDb" -> JString(d.dimDb), "dimTable" -> JString(d.dimTable),
        "factKey" -> JString(d.factKey), "dimKey" -> JString(d.dimKey),
        "groupCols" -> JArray(d.groupCols.toList.map(JString(_): JValue)),
        "aggs" -> JArray(d.aggs.toList.map { case (o, s, a) =>
          JArray(List(JString(o), JString(s), JString(a.name))): JValue }),
        "countCol" -> d.countCol.fold(JNothing: JValue)(JString(_)),
        "factVersion" -> JInt(fv), "dimVersion" -> JInt(dv)): JValue
    })
    val p = defsPath(factDb, factTable)
    java.nio.file.Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s"_mvs.json.tmp${Thread.currentThread().getId}")
    java.nio.file.Files.writeString(tmp,
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(doc)))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Reload this fact table's persisted MV registrations (engine
    * constructor sweep); the rewrite rule reads them from [[list]].
    */
  private[engine] def loadPersisted(factDb: String, factTable: String): Unit = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val p = defsPath(factDb, factTable)
    if (!java.nio.file.Files.exists(p)) return
    org.json4s.jackson.JsonMethods.parse(java.nio.file.Files.readString(p))
      .extract[List[JValue]].foreach { j =>
        val d = MvJoinDef(
          name = (j \ "name").extract[String],
          factDb = (j \ "factDb").extract[String],
          factTable = (j \ "factTable").extract[String],
          dimDb = (j \ "dimDb").extract[String],
          dimTable = (j \ "dimTable").extract[String],
          factKey = (j \ "factKey").extract[String],
          dimKey = (j \ "dimKey").extract[String],
          groupCols = (j \ "groupCols").extract[List[String]],
          aggs = (j \ "aggs").extract[List[JValue]].map {
            case JArray(List(JString(o), JString(s), JString(a))) =>
              (o, s, graft.model.AggType.fromName(a))
            case other => throw new IllegalArgumentException(s"bad agg $other")
          },
          countCol = (j \ "countCol").extractOpt[String])
        val fv = (j \ "factVersion").extract[Long]
        val dv = (j \ "dimVersion").extract[Long]
        val stored = mvDir(d).resolve(s"f${fv}_d$dv")
        if (java.nio.file.Files.exists(stored))
          defs((eng.warehouse.toString, factDb, factTable, d.name)) = (d, fv, dv)
      }
  }

  private def aggCol(src: String, agg: AggType, out: String): Column = (agg match {
    case AggType.Sum => sum(col(src))
    case AggType.Min => min(col(src))
    case AggType.Max => max(col(src))
    case other => throw new IllegalArgumentException(s"non-reaggregable $other")
  }).as(out)

  /** The base (non-materialized) computation the MV snapshots. */
  def baseAggregate(d: MvJoinDef): DataFrame = {
    val joined = eng.scan(d.factDb, d.factTable)
      .join(eng.scan(d.dimDb, d.dimTable), col(d.factKey) === col(d.dimKey), "inner")
    val cols = d.aggs.map { case (o, s, a) => aggCol(s, a, o) } ++
      d.countCol.map(c => count(lit(1)).as(c))
    joined.groupBy(d.groupCols.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** Materialize (or refresh) the MV at the CURRENT versions of both tables. */
  def materialize(d: MvJoinDef): Unit = {
    val factV = eng.manifest(d.factDb, d.factTable).maxVersion
    val dimV = eng.manifest(d.dimDb, d.dimTable).maxVersion
    baseAggregate(d).write.mode("overwrite").parquet(storedPath(d, factV, dimV))
    defs((eng.warehouse.toString, d.factDb, d.factTable, d.name)) = (d, factV, dimV)
    persistDefs(d.factDb, d.factTable)
  }

  /** Incremental maintenance: join ONLY the fact rowset versions published
    * since the stored build against the (unchanged) dim, aggregate the
    * delta, and fold it into the stored MV — Sum/Min/Max/count compose over
    * partials. Cost = delta⋈dim + an MV-sized merge, never a fact rescan;
    * at 100 TB that is the difference between MV maintenance tracking the
    * load and tracking the table.
    *
    * Valid only when (a) the DIM has not moved — a dim change can alter the
    * join result of EVERY historical fact row, so it forces a full rebuild —
    * and (b) the fact is Duplicate model with a cleanly addressable
    * append-only delta (compaction rewrites version spans; merge-on-read
    * models rewrite history). Anything else falls back to [[materialize]].
    */
  def refreshIncremental(factDb: String, factTable: String, name: String): Unit = {
    val key = (eng.warehouse.toString, factDb, factTable, name)
    val (d, storedFactV, storedDimV) = defs.getOrElse(key,
      throw new IllegalArgumentException(s"unknown MV $factDb.$factTable/$name"))
    val factV = eng.manifest(d.factDb, d.factTable).maxVersion
    val dimV = eng.manifest(d.dimDb, d.dimTable).maxVersion
    if (factV == storedFactV && dimV == storedDimV) return
    if (dimV != storedDimV) { materialize(d); return }
    val duplicateModel = eng.catalog.getTable(d.factDb, d.factTable)
      .exists(_.schema.keysType == graft.model.KeysType.Duplicate)
    val deltaRowsets = scala.util.Try(
      eng.manifest(d.factDb, d.factTable)
        .captureConsistentVersions(storedFactV + 1, factV))
      .getOrElse(Seq.empty)
    // A DELETE-WHERE marker in the fact delta masks rows of OLDER rowsets —
    // rows already folded into the stored MV — so the delta is not
    // append-only; force a full rebuild.
    val cleanDelta = duplicateModel && deltaRowsets.nonEmpty &&
      deltaRowsets.forall(_.version.start > storedFactV) &&
      deltaRowsets.forall(!_.isDeleteMarker)
    if (!cleanDelta) { materialize(d); return }
    val storedTry = scala.util.Try(eng.spark.read.parquet(
      storedPath(d, storedFactV, storedDimV)))
    if (storedTry.isFailure) { materialize(d); return }

    val deltaJoined = eng.snapshot(d.factDb, d.factTable, storedFactV + 1, factV)
      .join(eng.scan(d.dimDb, d.dimTable), col(d.factKey) === col(d.dimKey), "inner")
    val srcCols = d.aggs.map { case (o, s, a) => aggCol(s, a, o) } ++
      d.countCol.map(c => count(lit(1)).as(c))
    val deltaAgg = deltaJoined.groupBy(d.groupCols.map(col): _*)
      .agg(srcCols.head, srcCols.tail: _*)
    val mergeCols = d.aggs.map { case (o, _, a) => aggCol(o, a, o) } ++
      d.countCol.map(c => sum(col(c)).cast("long").as(c))
    val merged = storedTry.get.unionByName(deltaAgg)
      .groupBy(d.groupCols.map(col): _*)
      .agg(mergeCols.head, mergeCols.tail: _*)
    merged.write.mode("overwrite").parquet(storedPath(d, factV, dimV))
    defs(key) = (d, factV, dimV)
    persistDefs(factDb, factTable)
  }

  /** Registered MVs whose FACT side is this table: (definition, stored fact
    * version, stored dim version), name-sorted — the SHOW MATERIALIZED
    * VIEWS introspection surface.
    */
  def list(factDb: String, factTable: String): Seq[(MvJoinDef, Long, Long)] =
    defs.collect {
      case ((w, d, t, _), v) if w == eng.warehouse.toString &&
        d == factDb && t == factTable => v
    }.toSeq.sortBy(_._1.name)

  /** Follow a column rename on `db.table` (fact OR dim side) through every
    * registered MV: definitions referencing the old name on that side are
    * rewritten and re-materialized — same contract and rationale as
    * [[RollupManager.renameColumn]]. Returns the re-materialized MV names.
    */
  def renameColumn(db: String, table: String, oldName: String,
                   newName: String): Seq[String] = {
    def r(c: String) = if (c == oldName) newName else c
    val hit = defs.collect {
      case ((w, _, _, n), (d, _, _)) if w == eng.warehouse.toString &&
        ((d.factDb == db && d.factTable == table &&
          (d.factKey == oldName || d.groupCols.contains(oldName) ||
            d.aggs.exists(_._2 == oldName))) ||
         (d.dimDb == db && d.dimTable == table &&
          (d.dimKey == oldName || d.groupCols.contains(oldName) ||
            d.aggs.exists(_._2 == oldName)))) => (n, d)
    }.toSeq
    hit.map { case (n, d) =>
      val factSide = d.factDb == db && d.factTable == table
      val dimSide = d.dimDb == db && d.dimTable == table
      // group/agg columns are resolved against the JOINED relation, so a
      // rename on either side rewrites them; the join keys rename only on
      // their own side
      val renamed = d.copy(
        factKey = if (factSide) r(d.factKey) else d.factKey,
        dimKey = if (dimSide) r(d.dimKey) else d.dimKey,
        groupCols = d.groupCols.map(r),
        aggs = d.aggs.map { case (o, s, a) => (o, r(s), a) })
      materialize(renamed)
      n
    }.sorted
  }

  def isFresh(factDb: String, factTable: String, name: String): Boolean =
    defs.get((eng.warehouse.toString, factDb, factTable, name)).exists {
      case (d, fv, dv) =>
        fv == eng.manifest(d.factDb, d.factTable).maxVersion &&
          dv == eng.manifest(d.dimDb, d.dimTable).maxVersion
    }

  /** Aggregate `aggs` grouped by `groupCols` over fact⋈dim, answered from a
    * fresh covering MV when one exists (re-aggregating if finer), else from
    * the base tables.
    */
  def aggregate(factDb: String, factTable: String, dimDb: String, dimTable: String,
                groupCols: Seq[String], aggs: Seq[(String, String, AggType)]): DataFrame = {
    val candidate = defs.values.collect {
      case (d, fv, dv) if d.factDb == factDb && d.factTable == factTable &&
        d.dimDb == dimDb && d.dimTable == dimTable &&
        fv == eng.manifest(factDb, factTable).maxVersion &&
        dv == eng.manifest(dimDb, dimTable).maxVersion &&
        groupCols.forall(d.groupCols.contains) &&
        aggs.forall { case (_, s, a) => d.aggs.exists(r => r._2 == s && r._3 == a) } =>
        (d, fv, dv)
    }.minByOption(_._1.groupCols.size)
    candidate match {
      case Some((d, fv, dv)) =>
        val stored = eng.spark.read.parquet(storedPath(d, fv, dv))
        stored.groupBy(groupCols.map(col): _*)
          .agg(aggs.head match { case (o, s, a) =>
            aggCol(d.aggs.find(r => r._2 == s && r._3 == a).get._1, a, o) },
            aggs.tail.map { case (o, s, a) =>
              aggCol(d.aggs.find(r => r._2 == s && r._3 == a).get._1, a, o) }: _*)
      case None =>
        // No fresh covering MV: answer from the base tables. Any registered
        // definition for this table pair (stale is fine) supplies the join
        // keys; with none registered the caller must use baseAggregate.
        val d = defs.values.collectFirst {
          case (d0, _, _) if d0.factDb == factDb && d0.factTable == factTable &&
            d0.dimDb == dimDb && d0.dimTable == dimTable => d0
        }.getOrElse(throw new IllegalArgumentException(
          s"no MV registered for $factDb.$factTable⋈$dimDb.$dimTable"))
        val joined = eng.scan(factDb, factTable)
          .join(eng.scan(dimDb, dimTable), col(d.factKey) === col(d.dimKey), "inner")
        joined.groupBy(groupCols.map(col): _*)
          .agg(aggs.head match { case (o, s, a) => aggCol(s, a, o) },
            aggs.tail.map { case (o, s, a) => aggCol(s, a, o) }: _*)
    }
  }
}
