package graft.manifest

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import org.apache.spark.sql.types.{DataType, StructType}

/** Rowset lifecycle states (reference: src/meta.rs:84-85,123-124). */
sealed trait RowsetState { def name: String }
object RowsetState {
  case object Visible extends RowsetState { val name = "VISIBLE" }
  case object Stale   extends RowsetState { val name = "STALE" }
  def fromName(s: String): RowsetState =
    if (s == "STALE") Stale else Visible
}

/** Immutable rowset metadata (reference: src/meta.rs:89-101). A rowset is the
  * unit of load atomicity: one directory of parquet files covering a version
  * interval. `relDir` is relative to the table root so manifests are
  * relocatable.
  *
  * `deletePredicate`: Some(sql) marks a DELETE-WHERE version — a
  * metadata-only rowset holding no files. The predicate masks matching rows
  * of every OLDER rowset at read time until a full compaction makes the
  * delete physical (the Doris/StarRocks delete-predicate pattern: delete is
  * a version, not a rewrite).
  */
final case class RowsetMeta(
    rowsetId: Long,
    version: Version,
    relDir: String,
    numRows: Long,
    state: RowsetState = RowsetState.Visible,
    createdMs: Long = 0L,
    deletePredicate: Option[String] = None,
    // wall-clock instant this rowset was retired (marked stale). Together
    // with createdMs it reconstructs the visible set AS OF any instant —
    // the metadata a retention window needs to know which superseded
    // rowsets still serve time travel and which are safe to delete
    staleMs: Option[Long] = None,
    // Some(name) on the marker a DROP PARTITION publishes: the mask is a
    // whole hive partition, so the read path filters on `__graft_part`
    // instead of evaluating the row predicate — Spark prunes the dropped
    // partition's DIRECTORIES before opening a file (at 100 TB: retired
    // data costs zero I/O at read, not scan-then-filter). Safe because a
    // dropped partition is unroutable afterward (no newer rows can exist in
    // the dir) and dropped names can never be re-created. deletePredicate
    // still carries the equivalent row predicate for introspection and for
    // engines reading a pre-upgrade manifest.
    deletePartition: Option[String] = None,
    // Some(groupId) marks a STAGED rowset of a cross-table load group
    // (OlapEngine.newLoadGroup/commitGroup — the Doris global-transaction-id
    // shape): written and persisted, but invisible to every read, absent
    // from the version graph, and exempt from compaction until its group
    // commits in the engine's [[GroupLedger]] (one atomic rename for the
    // WHOLE group, however many tables it spans). Activation strips the
    // marker; a crash between ledger commit and activation self-heals at
    // the next manifest load (the ledger is the source of truth).
    pendingGroup: Option[String] = None,
    // rowset-level zone map: per-column min/max/null-count harvested from
    // the rowset's parquet footers at write time ([[StatsHarvest]]). Keyed
    // by the column's PHYSICAL name in this rowset's files (renameColumn
    // eras resolve through TableDef.renamedColumns). Empty on delete
    // markers, pre-stats rowsets, and columns without usable footer stats —
    // absence means UNKNOWN (unbounded), never empty.
    stats: Map[String, ColStats] = Map.empty,
    // columns with a bloom sidecar file in this rowset's dir (physical
    // names, like `stats`) — the equality skipping index ([[RowsetBloom]]).
    // Bits load lazily at prune time; a listed column whose sidecar is
    // unreadable degrades to no-prune, never to wrong data.
    bloomCols: Seq[String] = Nil,
    // exact per-column SUM of this rowset's rows (integral columns declared
    // in TableDef.sumStatsColumns; keyed by physical name like `stats`).
    // Canonical form is the decimal big-integer string — exact at any
    // magnitude, so the metadata fold (OlapEngine.sumFold) can decide
    // Long-range fit for itself. An all-null column stores "0" (its
    // contribution to the fold); null-ness is decided by the zone map's
    // nullCount. Absence means UNKNOWN (not harvested), never zero.
    sums: Map[String, String] = Map.empty,
    // columns with a character-trigram bloom sidecar in this rowset's dir
    // (physical names) — the substring skipping index behind
    // LIKE-'%needle%' pruning. Same lazy-load/degrade contract as bloomCols.
    ngramCols: Seq[String] = Nil,
    // true when this rowset provably holds AT MOST ONE record per key:
    // merge-on-write ingests (pre-merged per load) and every compaction/
    // rebucket output of a merge model (the merge groups by key). The read
    // path combines it with leading-key zone-map disjointness to serve
    // Unique scans with no merge aggregate. False means UNKNOWN, never
    // "has duplicates" — serving unmerged requires every covering rowset
    // to carry true.
    keyUnique: Boolean = false,
    // columns with an NDV sketch sidecar in this rowset's dir (physical
    // names) — DataSketches HLL bytes that union across the covering set
    // for table-level approximate distinct counts. Same lazy-load/degrade
    // contract as bloomCols.
    ndvCols: Seq[String] = Nil,
    // per-PARTITION row counts of this rowset, harvested from the hive
    // directory layout in the same footer pass as `stats`. Powers
    // metadata-served SHOW PARTITIONS row counts (fold across the covering
    // set) — Doris's per-partition row accounting without a scan. Empty
    // means UNKNOWN (pre-stats rowset), never zero.
    partRows: Map[String, Long] = Map.empty,
    // columns with a VALUE HISTOGRAM sidecar in this rowset's dir (physical
    // names) — exact (value → count) maps of declared low-cardinality
    // columns ([[DictStats]]), folded across the covering set to serve
    // GROUP BY counts from metadata. Same lazy-load/degrade contract as
    // bloomCols; a column past the distinct-value cap is simply absent.
    dictCols: Seq[String] = Nil,
    // the schema a reader of this rowset's dir sees ([[RowsetSchema]]),
    // recorded from the footers at write time so reads supply it instead of
    // running a parquet schema-inference job. None on delete markers,
    // zero-row rowsets and rowsets from before schemas were recorded; their
    // readers infer, as every reader once did.
    schema: Option[StructType] = None) {
  def isDeleteMarker: Boolean = deletePredicate.isDefined || deletePartition.isDefined
  def isPending: Boolean = pendingGroup.isDefined
}

/** Per-table rowset manifest with MVCC snapshot resolution
  * (replaces reference src/tablet.rs + src/meta.rs — SURVEY.md §2.5).
  *
  * Scale posture: the manifest holds O(#loads) entries of metadata, never row
  * data, and lives on the driver. Commits are atomic (write temp + rename) so
  * concurrent readers pin a consistent manifest version for a whole query —
  * the analogue of the reference's tablet write lock (src/tablet.rs:116-128).
  * At 100 TB the physical layout partitions data by (partition dir, bucket
  * file); a single manifest file per table scales to ~1e5 loads (~150 bytes
  * per entry; `ManifestScaleSpec` pins the 10k-publish point at well under
  * 3 MB and a fast reload). Rowset schemas are written once per distinct
  * schema, in a manifest-level dictionary the entries refer to by index, so
  * a schema costs a few bytes per entry, not its JSON. Three mechanisms
  * keep it bounded and cheap:
  *  - each persist rewrites the WHOLE file, so multi-rowset commits must go
  *    through [[publishAll]] (one rewrite per BATCH, not per rowset — the
  *    10k-partition ingest shape);
  *  - the manifest self-compacts: data compaction marks consumed rowsets
  *    stale and [[gc]] physically drops them, so steady-state size tracks
  *    VISIBLE rowsets, not lifetime loads;
  *  - beyond ~1e5 visible rowsets the relDir scheme allows sharding the
  *    manifest by table partition (or adopting a Delta-style commit log —
  *    an append-only edit log + periodic checkpoint) without changing
  *    readers.
  */
final class TableManifest(
    val tableRoot: Path,
    // resolver for committed load groups (OlapEngine wires the engine's
    // GroupLedger in; the default keeps standalone manifests — backup
    // readers, specs — group-free)
    committedGroups: () => Set[String] = () => Set.empty,
    // engine-shared read/write coordination: snapshot capture holds the
    // read side, group activation the write side, so a reader racing a
    // multi-table commit sees every table pre-group or every table
    // post-group, never a mix. Lock order is coord → manifest monitor,
    // everywhere.
    coord: Option[java.util.concurrent.locks.ReadWriteLock] = None) {
  private implicit val formats: Formats = DefaultFormats
  private val manifestPath = tableRoot.resolve("_manifest.json")
  private val rowsets = mutable.LinkedHashMap.empty[Long, RowsetMeta]
  private val graph = new VersionGraph
  private var maxVersionV: Long = -1L
  // declared BEFORE load() runs: class-body init order would otherwise reset
  // the loaded floor back to -1 after load() assigned it
  private var gcFloorV: Long = -1L
  // atomic id allocator: two concurrent ingests must never derive the same
  // rowset id (the write happens before publish's lock is taken); load()
  // starts it past every published id and every `r{N}` dir on disk
  private val idGen = new java.util.concurrent.atomic.AtomicLong(0L)
  // next unallocated AUTO_INCREMENT id (Doris auto-increment column):
  // 1-based, persisted WITH the manifest so a restarted engine never
  // re-issues an id. Reservation persists BEFORE any row carries the ids,
  // so a crashed load burns its block instead of risking a duplicate —
  // the Doris contract is unique + increasing, never gap-free. Declared
  // BEFORE load() runs (same init-order trap as gcFloorV above).
  private var autoIdNextV: Long = 1L

  load()

  def maxVersion: Long = synchronized(maxVersionV)

  def allRowsets: Seq[RowsetMeta] = synchronized(rowsets.values.toSeq)
  /** Serving rowsets: Visible AND not staged under an uncommitted group —
    * staged rowsets are invisible to reads, compaction scoring, and GC
    * until [[activateGroup]].
    */
  def visibleRowsets: Seq[RowsetMeta] =
    synchronized(rowsets.values
      .filter(r => r.state == RowsetState.Visible && !r.isPending).toSeq)

  /** Staged rowsets of one load group (empty once activated/reaped). */
  def pendingRowsets(group: String): Seq[RowsetMeta] =
    synchronized(rowsets.values.filter(_.pendingGroup.contains(group)).toSeq)

  /** Ids of every load group this table still stages (uncommitted, or
    * committed-elsewhere-but-not-yet-swept). The engine's group-hygiene
    * sweep reads this to decide which ledger ids are retirable and which
    * abandoned stages to reap.
    */
  def pendingGroupIds: Set[String] =
    synchronized(rowsets.values.flatMap(_.pendingGroup).toSet)

  /** Publish a rowset: dedup by id, add version edge, bump max version,
    * persist atomically (reference: src/tablet.rs:116-128, src/storage.rs:79-87).
    * Duplicate rowset ids are rejected, mirroring src/tablet.rs:118-120.
    */
  def publish(meta: RowsetMeta): Unit = publishAll(Seq(meta))

  /** Batch publish: N rowsets land as ONE atomic manifest rewrite. Persist
    * cost is O(total entries) per call, so committing a 10k-partition load
    * rowset-by-rowset would rewrite the file 10k times (quadratic bytes
    * written); batching keeps it one rewrite per load. All-or-nothing: ids
    * are validated before any mutation.
    */
  def publishAll(metas: Seq[RowsetMeta]): Unit = synchronized {
    val dup = metas.map(_.rowsetId).diff(metas.map(_.rowsetId).distinct) ++
      metas.map(_.rowsetId).filter(rowsets.contains)
    require(dup.isEmpty, s"duplicate rowset id ${dup.head}")
    // a VISIBLE version must be unique: two concurrent ingests that both
    // derived maxVersion+1 before either published would otherwise add the
    // same edge twice and make the covering path ambiguous (silently
    // serving one rowset and dropping the other). Loud beats lost data;
    // staged rowsets are exempt — their versions are provisional until
    // activation assigns real ones.
    val live = metas.filterNot(_.isPending)
    val vdup = live.map(_.version).diff(live.map(_.version).distinct) ++
      live.map(_.version).filter(v => rowsets.values.exists(r =>
        r.state == RowsetState.Visible && !r.isPending && r.version == v))
    require(vdup.isEmpty,
      s"version ${vdup.head} is already visible — concurrent publishes must " +
        "not reuse a version (re-derive from maxVersion and retry)")
    metas.foreach { meta =>
      rowsets(meta.rowsetId) = meta
      // a STAGED rowset is persisted but takes no version edge and bumps no
      // maxVersion — to every reader the table has not moved until its
      // group commits ([[activateGroup]])
      if (!meta.isPending) {
        graph.addEdge(meta.version)
        maxVersionV = math.max(maxVersionV, meta.version.end)
      }
      idGen.updateAndGet(cur => math.max(cur, meta.rowsetId))
    }
    if (metas.nonEmpty) persist()
  }

  /** Activate this table's staged rowsets of `group`: strip the marker, add
    * the version edges, bump maxVersion, stamp createdMs to the activation
    * instant (wall-clock time travel keys on when a rowset became VISIBLE,
    * not when its files were written). Engine-level [[OlapEngine
    * .commitGroup]] calls this under the coord write lock AFTER the group
    * ledger's atomic commit; a version collision with a later non-group
    * publish fails loudly here rather than corrupting the graph.
    */
  def activateGroup(group: String): Unit =
    activateGroup(group, System.currentTimeMillis())

  /** As [[activateGroup]], with the visibility instant supplied by the
    * caller: [[graft.engine.OlapEngine.commitGroup]] stamps ONE instant
    * across every table it sweeps, so wall-clock time travel
    * (`snapshotAsOf`) at any instant sees the whole group in every table or
    * in none — cross-table snapshot consistency extends to the time axis.
    *
    * Versions are assigned HERE, not at stage time: a staged rowset's
    * stored version is provisional (computed before sibling stages or
    * interleaved normal loads could be known), so activation discards it
    * and allocates from the table's live maxVersion in rowsetId (= stage)
    * order. That makes version collisions between two stages into one
    * table — or a stage racing a normal publish — structurally impossible,
    * with no version holes and no pre-reserved numbers a failed write would
    * burn. For Unique tables the rowsetId order preserves the intended
    * last-stage-wins merge-on-read semantics.
    */
  def activateGroup(group: String, atMs: Long): Unit = synchronized {
    if (activateGroupLocked(group, atMs)) persist()
  }

  /** Activation body; returns whether anything changed. Caller persists. */
  private def activateGroupLocked(group: String, atMs: Long): Boolean = {
    val staged = rowsets.values.filter(_.pendingGroup.contains(group)).toSeq
      .sortBy(_.rowsetId)
    staged.foreach { r =>
      val v = Version(maxVersionV + 1, maxVersionV + 1)
      rowsets(r.rowsetId) = r.copy(pendingGroup = None, createdMs = atMs,
        version = v)
      graph.addEdge(v)
      maxVersionV = v.end
    }
    staged.nonEmpty
  }

  /** Reap a group that will never commit (abort, or an abandoned stage from
    * a crashed session): delete the staged rowsets' directories and drop
    * their entries. A no-op for groups this table never staged.
    */
  def reapGroup(group: String): Seq[Long] = synchronized {
    val staged = rowsets.values.filter(_.pendingGroup.contains(group)).toSeq
    staged.foreach { r =>
      if (!Paths.get(r.relDir).isAbsolute)
        deleteRecursively(tableRoot.resolve(r.relDir))
      rowsets.remove(r.rowsetId)
    }
    if (staged.nonEmpty) persist()
    staged.map(_.rowsetId)
  }

  /** Snapshot resolution: rowsets exactly covering `[lo, hi]`
    * (reference: src/tablet.rs:131-144). Fails fast on version holes.
    */
  def captureConsistentVersions(lo: Long, hi: Long): Seq[RowsetMeta] = {
    // coord read side OUTSIDE the monitor (lock order coord → monitor,
    // matching commitGroup's write side) — a capture racing a multi-table
    // group commit lands wholly before or wholly after it
    coord.foreach(_.readLock().lock())
    try synchronized {
      val path = graph.findCoveringPath(lo, hi).getOrElse(
        throw new IllegalStateException(s"version hole: no covering path for [$lo,$hi]"))
      path.map { v =>
        rowsets.values
          .find(r => r.state == RowsetState.Visible && !r.isPending &&
            r.version == v)
          .getOrElse(throw new IllegalStateException(s"no visible rowset for $v"))
      }
    } finally coord.foreach(_.readLock().unlock())
  }

  def hasVersionHoles(lo: Long, hi: Long): Boolean = synchronized(graph.hasVersionHoles(lo, hi))

  /** Mark stale + drop its version edge; physical delete deferred to GC
    * (reference: src/tablet.rs:155-165).
    */
  def markStale(rowsetId: Long): Unit = markStaleAll(Seq(rowsetId))

  /** Batch stale-marking: compaction retires ALL its input rowsets in one
    * manifest rewrite (same rationale as [[publishAll]] — persist cost is
    * O(total entries) per call, so per-rowset persists over a k-input
    * compaction would rewrite the file k times).
    */
  def markStaleAll(rowsetIds: Seq[Long]): Unit = synchronized {
    var changed = false
    val now = System.currentTimeMillis()
    rowsetIds.foreach { id =>
      rowsets.get(id).foreach { r =>
        if (r.state == RowsetState.Visible) {
          rowsets(id) = r.copy(state = RowsetState.Stale, staleMs = Some(now))
          graph.removeEdge(r.version)
          changed = true
        }
      }
    }
    if (changed) persist()
  }

  /** Rowsets that were VISIBLE as of wall-clock `asOfMs`: published at or
    * before it, not yet retired at it. The stale set extends time travel
    * ACROSS compactions/deletes until retention physically drops it.
    */
  def rowsetsAsOf(asOfMs: Long): Seq[RowsetMeta] = synchronized {
    rowsets.values.filter(r => !r.isPending &&
      r.createdMs <= asOfMs && r.staleMs.forall(_ > asOfMs)).toSeq
  }

  /** Earliest wall-clock instant still safely time-travelable: any retired
    * rowset physically deleted by GC raises the floor to its retirement
    * instant (reads BEFORE that instant needed it). -1 = nothing deleted.
    * Persisted, so the guarantee survives restarts.
    */
  def gcFloorMs: Long = synchronized(gcFloorV)

  /** Delete stale rowset directories and drop them from the manifest. */
  def gc(): Seq[Long] = gc(_ => true)

  /** Policy-aware GC: delete only stale rowsets the predicate accepts (a
    * retention window keeps the rest serving time travel). Every deletion
    * raises [[gcFloorMs]] to the rowset's retirement instant.
    */
  def gc(eligible: RowsetMeta => Boolean): Seq[Long] = synchronized {
    val stale = rowsets.values
      .filter(r => r.state == RowsetState.Stale && eligible(r)).toSeq
    stale.foreach { r =>
      // an ABSOLUTE relDir marks a BORROWED rowset (a shallow clone's
      // zero-copy reference into its source table, OlapEngine.cloneTable):
      // this manifest never owns those files, so GC drops only the entry —
      // the source table's own GC (clone-registry-aware) governs the files
      if (!Paths.get(r.relDir).isAbsolute)
        deleteRecursively(tableRoot.resolve(r.relDir))
      rowsets.remove(r.rowsetId)
      gcFloorV = math.max(gcFloorV, r.staleMs.getOrElse(r.createdMs))
    }
    if (stale.nonEmpty) persist()
    stale.map(_.rowsetId)
  }

  /** Compaction score = count of visible rowsets (reference: src/tablet.rs:147-152). */
  def compactionScore: Double = synchronized(visibleRowsets.size.toDouble)

  def nextRowsetId: Long = idGen.incrementAndGet()

  /** Reserve `n` consecutive auto-increment ids; returns the block's first
    * id. The bump persists immediately (crash = burned block, never a
    * reuse). One driver-side manifest write per load that needs ids.
    */
  def reserveAutoIds(n: Long): Long = synchronized {
    require(n >= 0, s"reserveAutoIds($n)")
    val base = autoIdNextV
    if (n > 0) { autoIdNextV += n; persist() }
    base
  }

  // --- persistence -----------------------------------------------------------

  private def persist(): Unit = {
    Files.createDirectories(tableRoot)
    val schemaIds = mutable.LinkedHashMap.empty[StructType, Int]
    rowsets.values.foreach(_.schema.foreach(s =>
      schemaIds.getOrElseUpdate(s, schemaIds.size)))
    val entries = rowsets.values.map { r =>
      val base = JObject(
        "rowsetId" -> JLong(r.rowsetId), "start" -> JLong(r.version.start),
        "end" -> JLong(r.version.end), "relDir" -> JString(r.relDir),
        "numRows" -> JLong(r.numRows), "state" -> JString(r.state.name),
        "createdMs" -> JLong(r.createdMs))
      val withDel = r.deletePredicate.fold(base)(p =>
        JObject(base.obj :+ ("deletePredicate" -> (JString(p): JValue))))
      val withDp = r.deletePartition.fold(withDel)(p =>
        JObject(withDel.obj :+ ("deletePartition" -> (JString(p): JValue))))
      val withPg = r.pendingGroup.fold(withDp)(g =>
        JObject(withDp.obj :+ ("pendingGroup" -> (JString(g): JValue))))
      val withStats =
        if (r.stats.isEmpty) withPg
        else JObject(withPg.obj :+ ("stats" -> (JObject(r.stats.toList.sortBy(_._1)
          .map { case (c, s) =>
            val base = List[(String, JValue)]("kind" -> JString(s.kind),
              "nulls" -> JLong(s.nullCount))
            val withMin = s.min.fold(base)(m => base :+ ("min" -> (JString(m): JValue)))
            val withMax = s.max.fold(withMin)(m => withMin :+ ("max" -> (JString(m): JValue)))
            c -> (JObject(withMax): JValue)
          }): JValue)))
      val withBlooms =
        if (r.bloomCols.isEmpty) withStats
        else JObject(withStats.obj :+ ("blooms" ->
          (JArray(r.bloomCols.toList.map(JString(_): JValue)): JValue)))
      val withSums =
        if (r.sums.isEmpty) withBlooms
        else JObject(withBlooms.obj :+ ("sums" -> (JObject(r.sums.toList
          .sortBy(_._1).map { case (c, s) => c -> (JString(s): JValue) }): JValue)))
      val withNgrams =
        if (r.ngramCols.isEmpty) withSums
        else JObject(withSums.obj :+ ("ngrams" ->
          (JArray(r.ngramCols.toList.map(JString(_): JValue)): JValue)))
      val withKu =
        if (!r.keyUnique) withNgrams
        else JObject(withNgrams.obj :+ ("keyUnique" -> (JBool(true): JValue)))
      val withNdv =
        if (r.ndvCols.isEmpty) withKu
        else JObject(withKu.obj :+ ("ndvs" ->
          (JArray(r.ndvCols.toList.map(JString(_): JValue)): JValue)))
      val withPr =
        if (r.partRows.isEmpty) withNdv
        else JObject(withNdv.obj :+ ("partRows" -> (JObject(r.partRows.toList
          .sortBy(_._1).map { case (p, n) => p -> (JLong(n): JValue) }): JValue)))
      val withDict =
        if (r.dictCols.isEmpty) withPr
        else JObject(withPr.obj :+ ("dicts" ->
          (JArray(r.dictCols.toList.map(JString(_): JValue)): JValue)))
      val withSchema = r.schema.fold(withDict)(s =>
        JObject(withDict.obj :+ ("schema" -> (JInt(schemaIds(s)): JValue))))
      r.staleMs.fold(withSchema)(s =>
        JObject(withSchema.obj :+ ("staleMs" -> (JLong(s): JValue))))
    }
    val head = JObject("maxVersion" -> JLong(maxVersionV),
      "gcFloorMs" -> JLong(gcFloorV), "autoIdNext" -> JLong(autoIdNextV))
    val withSchemas =
      if (schemaIds.isEmpty) head
      else JObject(head.obj :+ ("schemas" -> (JArray(schemaIds.keys.toList
        .map(s => JsonMethods.parse(s.json))): JValue)))
    val doc = JObject(withSchemas.obj :+ ("rowsets" -> (JArray(entries.toList): JValue)))
    val tmp = tableRoot.resolve(s"_manifest.json.tmp${Thread.currentThread().getId}")
    Files.writeString(tmp, JsonMethods.compact(JsonMethods.render(doc)))
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def load(): Unit = {
    if (Files.exists(manifestPath)) {
      val doc = JsonMethods.parse(Files.readString(manifestPath))
      maxVersionV = (doc \ "maxVersion").extract[Long]
      gcFloorV = (doc \ "gcFloorMs").extractOpt[Long].getOrElse(-1L)
      autoIdNextV = (doc \ "autoIdNext").extractOpt[Long].getOrElse(1L)
      val schemas = (doc \ "schemas") match {
        case JArray(vs) => vs.toVector.map(v => DataType.fromJson(
          JsonMethods.compact(JsonMethods.render(v))).asInstanceOf[StructType])
        case _ => Vector.empty[StructType]
      }
      (doc \ "rowsets").extract[List[JValue]].foreach { j =>
        val r = RowsetMeta(
          (j \ "rowsetId").extract[Long],
          Version((j \ "start").extract[Long], (j \ "end").extract[Long]),
          (j \ "relDir").extract[String],
          (j \ "numRows").extract[Long],
          RowsetState.fromName((j \ "state").extract[String]),
          (j \ "createdMs").extract[Long],
          (j \ "deletePredicate").extractOpt[String],
          (j \ "staleMs").extractOpt[Long],
          (j \ "deletePartition").extractOpt[String],
          (j \ "pendingGroup").extractOpt[String],
          (j \ "stats") match {
            case JObject(fields) => fields.map { case (c, v) =>
              c -> ColStats((v \ "kind").extract[String],
                (v \ "min").extractOpt[String], (v \ "max").extractOpt[String],
                (v \ "nulls").extract[Long])
            }.toMap
            case _ => Map.empty[String, ColStats]
          },
          (j \ "blooms") match {
            case JArray(vs) => vs.collect { case JString(c) => c }
            case _ => Nil
          },
          (j \ "sums") match {
            case JObject(fields) =>
              fields.collect { case (c, JString(s)) => c -> s }.toMap
            case _ => Map.empty[String, String]
          },
          (j \ "ngrams") match {
            case JArray(vs) => vs.collect { case JString(c) => c }
            case _ => Nil
          },
          (j \ "keyUnique").extractOpt[Boolean].getOrElse(false),
          (j \ "ndvs") match {
            case JArray(vs) => vs.collect { case JString(c) => c }
            case _ => Nil
          },
          (j \ "partRows") match {
            case JObject(fields) => fields.map { case (p, v) =>
              p -> v.extract[Long] }.toMap
            case _ => Map.empty[String, Long]
          },
          (j \ "dicts") match {
            case JArray(vs) => vs.collect { case JString(c) => c }
            case _ => Nil
          },
          (j \ "schema").extractOpt[Int].flatMap(schemas.lift))
        rowsets(r.rowsetId) = r
        idGen.updateAndGet(cur => math.max(cur, r.rowsetId))
        if (r.state == RowsetState.Visible && !r.isPending) {
          graph.addEdge(r.version)
          maxVersionV = math.max(maxVersionV, r.version.end)
        }
      }
      // the ledger is read ONCE per load: a group committed there activates
      // now (the crash-between-ledger-commit-and-activation self-heal); an
      // uncommitted group stays staged-invisible until commit or reap. The
      // heal runs AFTER the full pass (activation-time version assignment
      // needs the loaded maxVersion) and PERSISTS, so the on-disk manifest
      // stops referencing the group — which is what lets the engine's
      // hygiene sweep retire the ledger id without orphaning this stage.
      val committed = committedGroups()
      val healed = rowsets.values.flatMap(_.pendingGroup).toSet
        .intersect(committed).toSeq.sorted
        .map(g => activateGroupLocked(g, System.currentTimeMillis()))
      if (healed.exists(identity)) persist()
    }
    // a load that crashed between write and publish left an `r{N}` dir no
    // entry names: start the id counter past it, so the next load neither
    // fails on the existing dir nor takes an id a stream's ledger reserved
    if (Files.isDirectory(tableRoot)) {
      import scala.jdk.CollectionConverters._
      val RowsetDir = "r(\\d+)".r
      val listing = Files.list(tableRoot)
      try listing.iterator().asScala.map(_.getFileName.toString).foreach {
        case RowsetDir(n) => idGen.updateAndGet(cur => math.max(cur, n.toLong))
        case _ =>
      } finally listing.close()
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
}
