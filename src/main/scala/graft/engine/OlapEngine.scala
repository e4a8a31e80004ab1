package graft.engine

import java.nio.file.{Files, Path}
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog._
import graft.manifest._
import graft.model._
import graft.functions.FnvHash64.fnvBucket

/** The engine: catalog + manifests + routed write + snapshot read with
  * key-model merge-on-read + compaction. This is the Spark-first re-expression
  * of the reference's `StorageEngine` (src/storage.rs), `Tablet`/rowset layer
  * (src/tablet.rs, src/meta.rs) and segment format (src/segment.rs): Parquet
  * supplies pages/encodings/compression/zonemaps/blooms (SURVEY.md §2.1-2.3),
  * Spark supplies scan/prune/merge execution, and this class supplies the
  * layers the reference actually defines — placement, MVCC, model semantics.
  *
  * Physical layout (cf. reference src/storage.rs:108-115 path scheme):
  * {{{
  *   {warehouse}/{db}/{table}/r{rowsetId}/__graft_part=.../__graft_bucket=N/part-....parquet
  * }}}
  * Hive-style partition dirs give free read-side partition + bucket pruning;
  * at 100 TB every (partition, bucket) pair is an independent unit for both
  * scan parallelism and compaction, and no driver-side collect ever touches
  * row data.
  */
final class OlapEngine(val spark: SparkSession, val warehouse: Path) {

  // GC-vs-pinned-reader contract: a DataFrame resolved against rowsets that
  // GC later deletes must FAIL LOUDLY at execution, never silently return
  // the surviving subset. Spark's missing-file behavior is exactly that —
  // but only while ignoreMissingFiles stays false, so a session that flips
  // it would turn the race into silent partial rows. Refuse to run on one —
  // AND pin the option per-read in [[rawFromRowsets]], so flipping the conf
  // on the shared session AFTER construction cannot re-enable the forbidden
  // outcome for already-built engines. (GcReaderRaceSpec pins both.)
  require(!spark.conf.get("spark.sql.files.ignoreMissingFiles", "false").toBoolean,
    "OlapEngine requires spark.sql.files.ignoreMissingFiles=false: with it on, " +
      "a reader racing GC would silently drop the GC'd rowsets' rows")

  // the catalog persists beside the manifests (warehouse/_catalog.json):
  // opening an engine over an existing warehouse restores every table
  // definition — schema, routing, lifecycle state, rename history — with
  // no DDL replay. Replayed identical CREATEs stay harmless no-ops.
  val catalog = new CatalogManager(Some(warehouse.resolve("_catalog.json")))
  val rollups = new RollupManager(this)
  val mvs = new MvManager(this)
  /** Version-keyed query result cache (the Doris SQL-cache shape): results
    * keyed by input tables' visible versions + schema, so entries are
    * self-invalidating; MAINTAIN WAREHOUSE sweeps the unaddressable ones.
    */
  val results = new ResultCache(this)
  private val manifests = TrieMap.empty[String, TableManifest]
  // Per-rowset-dir reader cache: a rowset is IMMUTABLE once published (MVCC),
  // so its parquet reader — whose construction pays a directory listing +
  // schema inference — is built once per JVM and reused by every later scan.
  // On a 48-load table this turns O(rowsets) driver-side footer reads PER
  // QUERY into O(new rowsets) per lifetime (perfbench's `history_reads`
  // workload exercises it). GC'd dirs leave dead entries that are never
  // consulted again (their rowsets left the manifest); a pinned reader
  // racing GC still fails loudly at execution (ignoreMissingFiles=false is
  // baked into the cached reader).
  private val rawReaders = TrieMap.empty[String, DataFrame]
  // cross-table LOAD GROUPS (the Doris global-transaction-id shape): staged
  // rowsets are invisible until the ledger's one atomic rename commits the
  // whole group; the coord lock makes a reader racing the activation sweep
  // see every table pre-group or post-group, never a mix
  private val groupLedger = new GroupLedger(warehouse)
  private val groupCoord = new java.util.concurrent.locks.ReentrantReadWriteLock()

  locally {
    // hand every table the persisted catalog restored to the optimizer
    // rules, and reload its rollup/MV builds: a restarted engine serves the
    // same pruned, rewrite-served plans as the session that created them —
    // with zero rebuilds
    catalog.listDatabases.foreach(db => catalog.listTables(db).foreach { t =>
      graft.plans.TableRegistry.register(this, db, t)
      rollups.loadPersisted(db, t)
      mvs.loadPersisted(db, t)
    })
  }

  // Internal column names (never leak out of scan()).
  val PartCol = "__graft_part"
  val BucketCol = "__graft_bucket"
  val VersionCol = "__graft_version"
  val SeqCol = "__graft_seq"
  val OpCol = "__graft_op"

  def tableRoot(db: String, table: String): Path = warehouse.resolve(db).resolve(table)

  /** Absolute normalized directories of the CURRENT covering data rowsets —
    * what a full snapshot scan of the table reads right now. The
    * materialized-rewrite and metadata rules compare a candidate plan's
    * parquet leaves against this to prove the plan is exactly "the current
    * full snapshot".
    */
  def coveringDirs(db: String, table: String): Set[String] = {
    val m = manifest(db, table)
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    m.captureConsistentVersions(lo, m.maxVersion)
      // markers and zero-row rowsets (empty loads, truncate's replacement)
      // hold no files, and rawFromRowsets never reads them
      .filter(r => !r.isDeleteMarker && r.numRows > 0)
      .map(r => tableRoot(db, table).resolve(r.relDir).toAbsolutePath.normalize.toString)
      .toSet
  }

  /** Expose engine tables to SQL: one temp view per table, named
    * `{db}_{table}` (temp view names are single-part), backed by [[scan]] so
    * merge-on-read, schema backfill, and MVCC visibility all apply — and the
    * [[graft.plans.RollupRewrite]] rule still fires through the view because
    * the view body IS the base scan plan. Views snapshot the manifest at
    * registration; call again after loads to advance the SQL-visible version
    * (deliberate: SQL readers get repeatable reads between refreshes, the
    * same contract the reference's `capture_consistent_versions` gives its
    * callers, src/tablet.rs:131-144).
    */
  def registerViews(db: String): Unit =
    catalog.listTables(db).foreach { t =>
      scan(db, t).createOrReplaceTempView(s"${db}_$t")
    }

  def manifest(db: String, table: String): TableManifest =
    manifests.getOrElseUpdate(s"$db.$table",
      new TableManifest(tableRoot(db, table), () => groupLedger.committed,
        Some(groupCoord)))

  /** Undo a failed create+load (the CTAS rollback): drop the catalog row,
    * evict the cached manifest and any cached rowset readers, and
    * recursively delete the table directory. Metadata-only cleanup is not
    * enough — a leftover `r<N>` dir would trip a retried identical CTAS on
    * the write path's errorifexists, and a stale `_manifest.json` would
    * resurrect into a re-created same-name table after a restart.
    */
  def eraseTable(db: String, table: String): Unit = {
    try { catalog.dropTable(db, table); () }
    catch { case scala.util.control.NonFatal(_) => () }
    manifests.remove(s"$db.$table")
    val root = tableRoot(db, table)
    // prefix must end at a path separator: erasing db.t must not evict
    // sibling db.t2 / db.t_bak readers
    val rootPrefix = root.toString + java.io.File.separator
    rawReaders.keys.filter(k => k == root.toString || k.startsWith(rootPrefix))
      .foreach(rawReaders.remove)
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      // close the walk stream (it holds a directory handle until GC
      // otherwise, and this path runs on every failed-CTAS rollback)
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }
  }

  // --- cross-table load groups ----------------------------------------------

  /** Open a load group: pass the id as the `group` of any number of
    * [[ingest]]/[[mergeInto]] calls across any tables, then [[commitGroup]].
    * Staged loads are written and persisted but invisible everywhere (reads,
    * compaction, time travel) until the commit — which is ONE atomic ledger
    * rename for the whole group, the multi-table atomicity a maintained
    * index family (postings + doclen + forward; assignments + centroids +
    * codebooks) needs so no reader ever sees half an index update.
    */
  def newLoadGroup(): String = "grp-" + java.util.UUID.randomUUID().toString

  /** Commit a load group. Durability point = the ledger rename (crash after
    * it: every table self-heals to committed at next manifest load; crash
    * before: nothing moved, the stage reaps as garbage). The activation
    * sweep then makes the staged rowsets serve, under the coord write lock
    * so concurrent snapshot captures land wholly before or wholly after the
    * whole group.
    */
  def commitGroup(group: String): Unit = {
    groupCoord.writeLock().lock()
    try {
      groupLedger.commit(group)
      // one visibility instant for the whole group: wall-clock time travel
      // at any asOf sees every table's piece of the group, or none
      val atMs = System.currentTimeMillis()
      manifests.values.foreach(_.activateGroup(group, atMs))
    } finally groupCoord.writeLock().unlock()
  }

  /** Abort a load group that must never commit: reap its staged rowsets
    * (files + manifest entries) from every table — enumerated from the
    * ON-DISK warehouse, not just this instance's lazily-populated manifest
    * cache, so stages written by a crashed or sibling session reap too.
    * Refuses committed groups.
    */
  def abortGroup(group: String): Unit = {
    require(!groupLedger.isCommitted(group),
      s"group $group already committed — a committed group cannot abort")
    allManifests().foreach(_.reapGroup(group))
  }

  /** Every table manifest of the warehouse — the on-disk layout (db/table
    * dirs holding a `_manifest.json`) unioned with the in-memory cache.
    * Group hygiene ([[abortGroup]], [[sweepGroups]]) must see EVERY table
    * or it silently skips stages this engine instance never touched.
    * Loading a manifest self-heals (and persists) any of its stages whose
    * group the ledger has committed.
    */
  private def allManifests(): Seq[TableManifest] = {
    import scala.jdk.CollectionConverters._
    if (Files.isDirectory(warehouse)) {
      val dbs = Files.list(warehouse).iterator().asScala
        .filter(Files.isDirectory(_)).toSeq
      dbs.foreach { dbDir =>
        Files.list(dbDir).iterator().asScala
          .filter(td => Files.exists(td.resolve("_manifest.json")))
          .foreach(td =>
            manifest(dbDir.getFileName.toString, td.getFileName.toString))
      }
    }
    manifests.values.toSeq
  }

  /** Default grace before an uncommitted stage counts as abandoned: long
    * enough that no live multi-table load is mid-stage, short enough that a
    * crashed session's files don't leak for weeks.
    */
  val StageGraceMs: Long = 6L * 3600 * 1000

  /** Warehouse-wide load-group hygiene, run by the scheduled-maintenance
    * loop ([[runScheduledCompaction]]) and callable directly:
    *  1. ACTIVATE committed groups any manifest still stages (the
    *     crash-between-ledger-commit-and-activation heal, forced warehouse-
    *     wide rather than waiting for each table's next lazy load);
    *  2. RETIRE ledger ids no table stages any more — the ledger stays
    *     O(in-flight groups), not O(lifetime commits), so a one-group-per-
    *     micro-batch streaming fold no longer rewrites its whole history
    *     every commit;
    *  3. REAP abandoned stages: groups absent from the ledger whose staged
    *     rowsets are all older than `graceMs` (a crashed session's leftovers)
    *     — their files and manifest entries stop leaking.
    * Runs under the group write lock so a racing snapshot capture or commit
    * sees a consistent world. Returns (retiredLedgerIds, reapedRowsets).
    */
  def sweepGroups(graceMs: Long = StageGraceMs): (Int, Int) = {
    groupCoord.writeLock().lock()
    try {
      val ms = allManifests()
      val atMs = System.currentTimeMillis()
      val committed = groupLedger.committed
      ms.foreach(m => m.pendingGroupIds.intersect(committed)
        .foreach(g => m.activateGroup(g, atMs)))
      val stillPending = ms.flatMap(_.pendingGroupIds).toSet
      val retired = groupLedger.retire(committed -- stillPending)
      // a group reaps atomically or not at all: one young stage (a slow
      // load still in flight) protects the group's stages in EVERY table —
      // half-reaping would let a later commit publish half a group
      val abandoned = stillPending.filterNot(groupLedger.isCommitted)
        .filter(g => ms.forall(
          _.pendingRowsets(g).forall(_.createdMs <= atMs - graceMs)))
      val reaped = ms.map(m => abandoned.toSeq.map(m.reapGroup(_).size).sum).sum
      (retired, reaped)
    } finally groupCoord.writeLock().unlock()
  }

  def createDatabase(db: String): Unit = catalog.createDatabase(db)

  def createTable(td: TableDef): TableDef = {
    td.autoPartition.foreach { unit =>
      require(td.policy == PartitionPolicy.Range,
        s"autoPartition needs a Range table; ${td.qualified} is ${td.policy}")
      require(td.partitions.forall(_.upperExclusive.isDefined),
        s"autoPartition cannot extend past ${td.qualified}'s MAXVALUE partition")
      require(td.partitions.flatMap(_.upperExclusive).forall(b =>
        scala.util.Try(java.time.LocalDate.parse(b.take(10))).isSuccess),
        s"autoPartition needs ISO date/timestamp bounds in ${td.qualified}")
      // Month-unit partitions are CALENDAR months: a mid-month bound would
      // make every auto partition a shifted pseudo-month (and plusMonths
      // drifts through short months: 01-31 → 02-29 → 03-29), so the
      // pa_YYYYMM01 names would no longer describe the data they hold.
      // Require alignment up front instead of documenting the drift away.
      if (unit == AutoPartitionUnit.Month)
        require(td.partitions.flatMap(_.upperExclusive)
            .forall(b => b.length >= 10 && b.substring(8, 10) == "01"),
          s"autoPartition=Month needs month-aligned (day-01) bounds in ${td.qualified}; " +
            s"got ${td.partitions.flatMap(_.upperExclusive).mkString(", ")}")
    }
    // CREATE-time column defaults get the same loud cast validation the
    // ALTER path has (addColumn) — never discovered as a NULL (or an ANSI
    // runtime error) in the middle of someone's first load
    td.columnDefaults.foreach { case (c, v) =>
      val dt = td.schema.columns.find(_.name == c).get.dataType
      val casted = spark.range(1).select(lit(v).cast(dt)).head
      require(!casted.isNullAt(0),
        s"default '$v' does not cast to ${dt.sql} for ${td.qualified}.$c")
    }
    // GENERATED columns validate at CREATE, not at first load: each
    // expression must parse, reference only non-generated declared columns,
    // analyze against the declared schema (function/type errors surface
    // here), and be deterministic (a rand()-derived column would break the
    // recompute-equals-stored contract compaction and UPDATE rely on)
    if (td.generatedColumns.nonEmpty) {
      val sources = td.schema.columns
        .filterNot(c => td.generatedColumns.contains(c.name))
      val sourceNames = sources.map(_.name)
      val probe = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(sources.map(_.toStructField)))
      td.generatedColumns.foreach { case (c, exprSql) =>
        val parsed = spark.sessionState.sqlParser.parseExpression(exprSql)
        val refs = parsed.collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
        }.distinct
        val bad = refs.filterNot(r => sourceNames.exists(nameResolver(r, _)))
        require(bad.isEmpty,
          s"generated column ${td.qualified}.$c references " +
            s"${bad.mkString(", ")} — only non-generated declared columns " +
            "may appear (generated-on-generated chains are not supported)")
        val analyzed = probe.select(expr(exprSql).as(c)) // loud on bad fns/types
        require(analyzed.queryExecution.analyzed.expressions.forall(_.deterministic),
          s"generated column ${td.qualified}.$c must be deterministic: $exprSql")
      }
    }
    val created = catalog.createTable(td)
    Files.createDirectories(tableRoot(td.db, td.name))
    manifest(td.db, td.name) // init manifest
    // opt-in late-data quarantine (see TableDef.expiredToDeadLetter): the
    // dead letter is a SEPARATE companion table — Duplicate (every late row
    // kept verbatim for inspection), unpartitioned — so the main table's
    // scan, pruning, compaction and GC semantics are completely untouched
    if (td.expiredToDeadLetter)
      createTable(TableDef(
        db = td.db, name = td.name + DeadLetterSuffix,
        schema = graft.model.TableSchema(KeysType.Duplicate,
          td.schema.columns.map(c => c.copy(agg = graft.model.AggType.None))),
        bucketColumn = td.bucketColumn, numBuckets = td.numBuckets))
    graft.plans.TableRegistry.register(this, td.db, td.name)
    created
  }

  /** Schema evolution: append a nullable value column. The reference carries
    * a `schema_version` that never moves (src/meta.rs:68); here evolution is
    * real: rowsets written before the change simply lack the column and reads
    * null-backfill it (`unionByName(allowMissingColumns)`), so no data is
    * rewritten — the parquet-native add-column path every table format
    * (Delta/Iceberg) uses. Loads after the change must supply the column.
    */
  def addColumn(db: String, table: String, spec: graft.model.ColumnSpec): TableDef =
    addColumn(db, table, spec, None)

  /** ADD COLUMN with an optional DEFAULT (Doris `ADD COLUMN c T DEFAULT
    * "v"`): metadata-only — rows of rowsets written BEFORE the column
    * existed read the default ([[rawFromRowsets]] fills it per branch, so
    * an explicit NULL written AFTER the add stays NULL), loads that omit
    * the column fill it at ingest ([[conform]]), and full compaction
    * materializes the fill. The default literal must actually cast to the
    * declared type — validated here, loudly, not discovered as a NULL at
    * read time.
    */
  def addColumn(db: String, table: String, spec: graft.model.ColumnSpec,
      default: Option[String]): TableDef = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    require(!spec.isKey, s"cannot add key column ${spec.name} to ${td.qualified}")
    require(spec.nullable, s"added column ${spec.name} must be nullable (old rowsets back-fill NULL)")
    require(!td.schema.columns.exists(_.name == spec.name),
      s"column ${spec.name} already exists in ${td.qualified}")
    require(!td.droppedColumns.contains(spec.name),
      s"column ${spec.name} was dropped and old rowsets may still hold its " +
        s"data — compact ${td.qualified} before re-adding the name")
    default.foreach { v =>
      val casted = spark.range(1)
        .select(lit(v).cast(spec.dataType)).head
      require(!casted.isNullAt(0),
        s"default '$v' does not cast to ${spec.dataType.sql} for " +
          s"${td.qualified}.${spec.name}")
    }
    catalog.alterTable(td.copy(
      schema = td.schema.copy(columns = td.schema.columns :+ spec),
      columnDefaults = td.columnDefaults ++ default.map(spec.name -> _)))
  }

  /** Widening conversions a read can apply losslessly to already-written
    * parquet (the Doris light-schema-change whitelist): every narrower
    * integral widens, float→double, and decimal precision growth at equal
    * scale. Everything else needs a rewrite and is refused.
    */
  private def widens(from: org.apache.spark.sql.types.DataType,
                     to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      // integral → floating is lossless up to the mantissa: byte/short fit
      // float's 24 bits, byte/short/int fit double's 53; long → double is
      // NOT lossless (> 2^53 rounds) and stays refused
      case (ByteType | ShortType, FloatType | DoubleType) => true
      case (IntegerType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d2.precision >= d1.precision
      case _ => false
    }
  }

  /** Schema evolution: widen a value column's type (Doris `MODIFY COLUMN`
    * light schema change). Metadata-only: old rowsets keep their narrower
    * parquet type and reads coerce (the snapshot union widens per branch,
    * then the schema projection casts — both lossless for the whitelisted
    * pairs); loads after the change conform to the wider type; compaction
    * rewrites everything at the new width. Narrowing or type-family changes
    * are refused — they would need a data rewrite to be loss-free.
    */
  def modifyColumnType(db: String, table: String, name: String,
                       to: org.apache.spark.sql.types.DataType): TableDef = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val spec = td.schema.columns.find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no column $name in ${td.qualified}"))
    require(!spec.isKey, s"cannot retype key column $name of ${td.qualified}")
    require(widens(spec.dataType, to),
      s"cannot widen ${spec.dataType.simpleString} to ${to.simpleString} " +
        s"losslessly; only integral/float widening and decimal precision growth qualify")
    catalog.alterTable(td.copy(schema = td.schema.copy(
      columns = td.schema.columns.map(c =>
        if (c.name == name) c.copy(dataType = to) else c))))
  }

  /** Schema evolution: drop a value column. Metadata-only — no rowset is
    * rewritten; reads simply stop projecting the column (column pruning means
    * the bytes are never decoded), later loads must omit it, and full
    * compaction physically retires the data (after which the name may be
    * re-used). The dual of [[addColumn]], with the same contract every
    * parquet-native table format (Delta/Iceberg drop-column) gives.
    */
  def dropColumn(db: String, table: String, name: String): TableDef = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val spec = td.schema.columns.find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no column $name in ${td.qualified}"))
    require(!spec.isKey, s"cannot drop key column $name of ${td.qualified}")
    require(!td.partitionColumn.contains(name) && !td.bucketColumn.contains(name),
      s"cannot drop routing column $name of ${td.qualified}")
    require(!td.zorderColumns.exists(z => z._1 == name || z._2 == name),
      s"cannot drop z-order column $name of ${td.qualified}")
    require(td.schema.columns.size > 1, s"cannot drop the last column of ${td.qualified}")
    // a generated expression's SOURCE cannot be dropped out from under it —
    // the stored definition would dangle and brick every later load
    val genHit = td.generatedColumns.collect {
      case (g, e) if g != name && exprRefs(e).exists(nameResolver(_, name)) => g
    }
    require(genHit.isEmpty,
      s"cannot drop $name of ${td.qualified}: generated column(s) " +
        s"${genHit.mkString(", ")} derive from it — drop those first")
    catalog.alterTable(td.copy(
      schema = td.schema.copy(columns = td.schema.columns.filterNot(_.name == name)),
      bloomColumns = td.bloomColumns.filterNot(_ == name),
      sumStatsColumns = td.sumStatsColumns.filterNot(_ == name),
      ngramBloomColumns = td.ngramBloomColumns.filterNot(_ == name),
      ndvStatsColumns = td.ndvStatsColumns.filterNot(_ == name),
      dictStatsColumns = td.dictStatsColumns.filterNot(_ == name),
      // dropping the derived/fill column itself just retires its rule
      generatedColumns = td.generatedColumns - name,
      autoIncrementColumn = td.autoIncrementColumn.filterNot(_ == name),
      columnDefaults = td.columnDefaults - name,
      droppedColumns = td.droppedColumns :+ name))
  }

  /** ALTER TABLE db.t SET ("k" = "v", ...) — post-create changes to the
    * lifecycle dials that are SAFE to flip on existing data: retention (a
    * GC policy, takes effect at the next gc), varchar_mode (applies to
    * future loads), dynamic_partition.keep (next load's expiry sweep), and
    * bloom_filter_columns (future writes build sidecars; existing rowsets
    * simply have none, which the prune rule treats as unknown — compaction
    * backfills them as it rewrites). Anything else — model, routing,
    * sequence column, z-order — shapes the data already on disk and fails
    * loudly instead of silently lying about history.
    */
  def alterProperties(db: String, table: String,
      props: Seq[(String, String)]): TableDef = {
    var td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    props.foreach { case (k, v) =>
      k.toLowerCase match {
        case "retention" => td = td.copy(retention = Retention.fromString(v))
        case "varchar_mode" => td = td.copy(varcharMode = v.toLowerCase match {
          case "ignore" => VarcharMode.Ignore
          case "truncate" => VarcharMode.Truncate
          case "strict" => VarcharMode.Strict
          case other => throw new IllegalArgumentException(
            s"unknown varchar_mode '$other' (ignore|truncate|strict)")
        })
        case "dynamic_partition.keep" =>
          td = td.copy(autoExpireKeep = Some(v.toInt))
        case "bloom_filter_columns" =>
          td = td.copy(bloomColumns =
            v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        // same backfill story as blooms: future writes harvest sums;
        // existing rowsets have none (serve refuses → scan) until
        // compaction rewrites them
        case "sum_stats_columns" =>
          td = td.copy(sumStatsColumns =
            v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case "ngram_bf_columns" =>
          td = td.copy(ngramBloomColumns =
            v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case "ndv_stats_columns" =>
          td = td.copy(ndvStatsColumns =
            v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case "dict_stats_columns" =>
          td = td.copy(dictStatsColumns =
            v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case other => throw new IllegalArgumentException(
          s"table property '$other' is not alterable after CREATE " +
            "(alterable: retention, varchar_mode, dynamic_partition.keep, " +
            "bloom_filter_columns, sum_stats_columns, ngram_bf_columns, " +
            "ndv_stats_columns, dict_stats_columns)")
      }
    }
    catalog.alterTable(td)
  }

  /** RENAME COLUMN — the schema-evolution verb add/drop/widen was missing
    * (Doris: ALTER TABLE ... RENAME COLUMN). Metadata-only: the catalog
    * records old → new in [[graft.catalog.TableDef.renamedColumns]] and the
    * read path maps each rowset's physical former name to the current one
    * before the union (see [[rawFromRowsets]]) — no data rewrite, old
    * rowsets keep serving, new loads write the new name, and every
    * TableDef reference (keys, routing, sequence, z-order) follows the
    * rename. Refused while a VISIBLE delete-predicate marker references the
    * column (the stored predicate text would dangle — compact first to make
    * those deletes physical), and the new name must be genuinely free
    * (schema + pending dropped names). Registered rollups/MVs that
    * reference the old name FOLLOW the rename: their definitions are
    * rewritten and re-materialized in place ([[RollupManager.renameColumn]]
    * / [[MvManager.renameColumn]]), so they keep serving queries phrased in
    * the new name — the one non-metadata cost of this verb, paid at the
    * explicit DDL rather than discovered as a standing-down later.
    */
  def renameColumn(db: String, table: String, oldName: String,
                   newName: String): TableDef = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    require(oldName != newName, s"rename to the same name: $oldName")
    require(td.schema.columns.exists(_.name == oldName),
      s"no column $oldName in ${td.qualified}")
    require(!td.schema.columns.exists(_.name == newName),
      s"column $newName already exists in ${td.qualified}")
    require(!td.droppedColumns.contains(newName),
      s"$newName was dropped and its data may still exist in old rowsets of " +
        s"${td.qualified}; run a full compaction before re-using the name")
    val dangling = manifest(db, table).visibleRowsets
      .flatMap(_.deletePredicate)
      .filter { p =>
        spark.sessionState.sqlParser.parseExpression(p).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
        }.contains(oldName)
      }
    require(dangling.isEmpty,
      s"cannot rename $oldName: visible delete predicate(s) reference it " +
        s"(${dangling.mkString("; ")}) — compact ${td.qualified} first")
    val newTd = td.copy(
      schema = td.schema.copy(columns = td.schema.columns.map(c =>
        if (c.name == oldName) c.copy(name = newName) else c)),
      partitionColumn = td.partitionColumn.map(c => if (c == oldName) newName else c),
      bucketColumn = td.bucketColumn.map(c => if (c == oldName) newName else c),
      sequenceColumn = td.sequenceColumn.map(c => if (c == oldName) newName else c),
      zorderColumns = td.zorderColumns.map { case (x, y) =>
        (if (x == oldName) newName else x, if (y == oldName) newName else y) },
      // bloom declarations follow the rename: NEW loads build sidecars under
      // the new name; old rowsets' sidecars stay keyed by their era's
      // physical name, which is exactly the name their scan attributes carry
      bloomColumns = td.bloomColumns.map(c => if (c == oldName) newName else c),
      // sum-stats declarations follow too: new loads harvest under the new
      // name; old rowsets' sums stay keyed by their era's physical name and
      // resolve through renamedColumns like the zone maps do
      sumStatsColumns =
        td.sumStatsColumns.map(c => if (c == oldName) newName else c),
      ngramBloomColumns =
        td.ngramBloomColumns.map(c => if (c == oldName) newName else c),
      ndvStatsColumns =
        td.ndvStatsColumns.map(c => if (c == oldName) newName else c),
      columnDefaults = td.columnDefaults.map { case (c, v) =>
        (if (c == oldName) newName else c) -> v },
      dictStatsColumns =
        td.dictStatsColumns.map(c => if (c == oldName) newName else c),
      autoIncrementColumn =
        td.autoIncrementColumn.map(c => if (c == oldName) newName else c),
      // generated declarations follow BOTH ways: the derived column's own
      // name, and every reference to oldName inside the stored expressions
      // (a dangling ref would brick every later load — the same class of
      // hazard the delete-predicate guard above refuses)
      generatedColumns = td.generatedColumns.map { case (c, e) =>
        (if (c == oldName) newName else c) -> renameInExpr(e, oldName, newName) },
      // chain-collapse: any former name whose current target is oldName now
      // maps straight to newName, so a file from ANY era renames in one hop
      renamedColumns = td.renamedColumns.map { case (o, n) =>
        o -> (if (n == oldName) newName else n) } + (oldName -> newName))
    catalog.alterTable(newTd)
    // registered rollups/MVs referencing the old name FOLLOW the rename:
    // their definitions are rewritten and re-materialized in place, so
    // they keep serving queries phrased in the new name instead of
    // silently standing down until someone notices (round-9 verdict
    // task 7). Runs after the catalog swap — the rebuild scans the base
    // under its new schema.
    rollups.renameColumn(db, table, oldName, newName)
    mvs.renameColumn(db, table, oldName, newName)
    newTd
  }

  /** Rewrite every reference to `oldName` inside a stored expression text
    * (generated-column definitions) — parse, transform the unresolved
    * attributes, and render back to SQL. The same approach the rollup
    * manager uses for filtered-rollup predicates.
    */
  /** Column-name equality under the session's resolution rules (case-
    * insensitive unless `spark.sql.caseSensitive`) — stored-expression
    * reference checks must match how the analyzer will actually resolve
    * `AS (upper(Value))` against a declared `value`.
    */
  private def nameResolver(a: String, b: String): Boolean =
    spark.sessionState.analyzer.resolver(a, b)

  private def renameInExpr(sqlText: String, oldName: String,
                           newName: String): String =
    spark.sessionState.sqlParser.parseExpression(sqlText).transformUp {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if nameResolver(a.nameParts.last, oldName) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          a.nameParts.init :+ newName)
    }.sql

  private def exprRefs(sqlText: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(sqlText).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.last
    }.toSet

  // --- write path ------------------------------------------------------------

  /** Partition-name column for a row, evaluated distributed on executors —
    * the vectorized form of the reference's `find_partition`
    * (src/partition.rs:172-189). Range bounds compare as strings, exactly like
    * the reference (src/partition.rs:180-184).
    */
  private def partitionNameCol(td: TableDef): Column = td.policy match {
    case PartitionPolicy.Unpartitioned => lit(td.partitions.head.name)
    case PartitionPolicy.Range =>
      val key = col(td.partitionColumn.get).cast("string")
      // dropped partitions keep their rung in the ladder but route to a loud
      // failure — dropping must not silently widen the next range
      val ladder = (td.partitions.map((_, true)) ++ td.droppedPartitions.map((_, false)))
        .sortBy(_._1.upperExclusive.getOrElse(RangeBound.MaxValue))
      ladder.foldRight(unroutable(key)) { case ((p, live), elseCol) =>
        when(key < lit(p.upperExclusive.getOrElse(RangeBound.MaxValue)),
          if (live) lit(p.name) else unroutable(key)).otherwise(elseCol)
      }
    case PartitionPolicy.List =>
      val key = col(td.partitionColumn.get).cast("string")
      (td.partitions.map((_, true)) ++ td.droppedPartitions.map((_, false)))
        .foldRight(unroutable(key)) { case ((p, live), elseCol) =>
          when(key.isin(p.listValues.map(_.asInstanceOf[Any]): _*),
            if (live) lit(p.name) else unroutable(key)).otherwise(elseCol)
        }
  }

  /** A row whose partition key matches no declared partition fails the load
    * loudly (the reference errors in `find_partition`, src/partition.rs:186-188)
    * instead of silently landing in a default hive partition.
    */
  private def unroutable(key: Column): Column =
    raise_error(concat(lit("no partition for key '"), key, lit("'"))).cast("string")

  val DeadLetterSuffix = "__dead_letter"

  /** Routing CLASS of each row — "live" (a declared partition serves it),
    * "dropped" (its rung was expired/dropped), "none" (no rung at all) —
    * the same ladder fold as [[partitionNameCol]] without the raise, so an
    * opt-in dead-letter ingest can split the load BEFORE routing errors.
    */
  private def routeClassCol(td: TableDef): Column = td.policy match {
    case PartitionPolicy.Unpartitioned => lit("live")
    case PartitionPolicy.Range =>
      val key = col(td.partitionColumn.get).cast("string")
      val ladder = (td.partitions.map((_, true)) ++ td.droppedPartitions.map((_, false)))
        .sortBy(_._1.upperExclusive.getOrElse(RangeBound.MaxValue))
      ladder.foldRight(lit("none")) { case ((p, live), elseCol) =>
        when(key < lit(p.upperExclusive.getOrElse(RangeBound.MaxValue)),
          lit(if (live) "live" else "dropped")).otherwise(elseCol)
      }
    case PartitionPolicy.List =>
      val key = col(td.partitionColumn.get).cast("string")
      (td.partitions.map((_, true)) ++ td.droppedPartitions.map((_, false)))
        .foldRight(lit("none")) { case ((p, live), elseCol) =>
          when(key.isin(p.listValues.map(_.asInstanceOf[Any]): _*),
            lit(if (live) "live" else "dropped")).otherwise(elseCol)
        }
  }

  /** The quarantined late rows of an `expiredToDeadLetter` table — a plain
    * scan of the companion table. Reprocessing is the operator's move:
    * inspect, fix (e.g. re-declare the partition or re-date the rows),
    * re-ingest into the main table.
    */
  def deadLetterScan(db: String, table: String): DataFrame = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    require(td.expiredToDeadLetter,
      s"$db.$table does not declare expiredToDeadLetter — it has no dead letter")
    scan(db, table + DeadLetterSuffix)
  }

  /** Within-file clustering order. Default: the key columns (the reference's
    * sorted segments + short-key prefix index, src/index/mod.rs:114-147 —
    * parquet min/max stats on sorted data give the same seek pruning). With
    * `TableDef.zorderColumns`: the Morton interleave of two dimensions, so
    * row-group stats are selective on BOTH — the multi-column layout the
    * reference's single-prefix short key cannot express.
    */
  private def clusterCols(td: TableDef): Seq[Column] = td.zorderColumns match {
    case Some((x, y)) =>
      Seq(graft.functions.Zorder.zorder64(col(x).cast("long"), col(y).cast("long")))
    case None => td.schema.keyNames.map(col)
  }

  private def bucketIdxCol(td: TableDef): Column = td.bucketType match {
    case BucketType.Hash =>
      td.bucketColumn match {
        // FNV-1a over the key string — byte-compatible with the reference's
        // routing (src/partition.rs:30-38) via a codegen'd Catalyst expression.
        case Some(bc) => fnvBucket(col(bc).cast("string"), td.numBuckets)
        // no declared bucket key (CTAS / CREATE without DISTRIBUTED): ONE
        // implicit bucket, nothing to hash (TableDef refuses the
        // multi-bucket keyless combination at declaration time)
        case None => lit(0)
      }
    case BucketType.Random =>
      // reference uses time-derived randomness (src/partition.rs:39-45);
      // round-robin by Spark partition+offset is its deterministic analogue.
      pmod(monotonically_increasing_id(), lit(td.numBuckets.toLong)).cast("int")
  }

  /** Routed ingest: route rows to (partition, bucket), sort within partitions
    * by key columns (the short-key-locality analogue of the reference's
    * sorted segments + short-key index, src/index/mod.rs:114-147 — Parquet
    * min/max stats on sorted data give the same seek pruning), write one
    * immutable rowset, publish it to the manifest (src/storage.rs:79-87).
    *
    * `version`: explicit [start,end] for replaying the reference's rowset
    * fixtures; default = [max+1, max+1].
    */
  /** Conform an input frame to the table schema: every declared column must
    * be present (loud failure otherwise), values are cast to the declared
    * types, extra columns are dropped — the schema contract the reference
    * enforces row-by-row in `append_row` (src/segment.rs:132-136), applied
    * here as one projection.
    */
  private def conform(td: TableDef, df: DataFrame, extras: Seq[String] = Nil): DataFrame = {
    // a load may omit DEFAULTed columns (the Doris DEFAULT-on-load
    // contract): fill them here so the write carries the value physically
    val filled = td.schema.columns
      .filter(c => !df.columns.contains(c.name) &&
        td.columnDefaults.contains(c.name))
      .foldLeft(df)((acc, c) =>
        acc.withColumn(c.name, lit(td.columnDefaults(c.name)).cast(c.dataType)))
    val missing = td.schema.columns.map(_.name).filterNot(filled.columns.contains)
    require(missing.isEmpty,
      s"input for ${td.qualified} missing columns: ${missing.mkString(", ")}")
    val conformed = filled.select(
      td.schema.columns.map(c => col(c.name).cast(c.dataType).as(c.name)) ++
        extras.map(col): _*)
    enforceVarchar(td, conformed)
  }

  /** Apply the table's [[graft.catalog.VarcharMode]] to every declared
    * varchar bound — inside the ingest projection (codegen'd per-row, no
    * extra pass over the load). Strict mode raises from a task, so the
    * write aborts and the manifest never publishes: a rejected load is
    * invisible, never partial.
    */
  private def enforceVarchar(td: TableDef, df: DataFrame): DataFrame = {
    val bounded = td.schema.columns.filter(c =>
      c.maxLength > 0 && c.dataType == org.apache.spark.sql.types.StringType)
    if (bounded.isEmpty) return df
    td.varcharMode match {
      case VarcharMode.Ignore => df
      case VarcharMode.Truncate =>
        bounded.foldLeft(df)((acc, c) =>
          acc.withColumn(c.name, substring(col(c.name), 1, c.maxLength)))
      case VarcharMode.Strict =>
        bounded.foldLeft(df)((acc, c) =>
          acc.withColumn(c.name,
            when(length(col(c.name)) > c.maxLength,
              raise_error(concat(
                lit(s"strict varchar: ${td.qualified}.${c.name} exceeds " +
                  s"varchar(${c.maxLength}), got length "),
                length(col(c.name)).cast("string"))))
              .otherwise(col(c.name))))
    }
  }

  /** Pre-aggregate a load for an Aggregate table with HLL_UNION columns:
    * RAW values become per-key sketches (`hll_sketch_agg`), every other
    * value column takes its model aggregate — legal because the Aggregate
    * model is associative, so merging within a load commutes with the
    * cross-rowset merge (Replace ties broken by load order via a captured
    * seq, same as the persisted `__graft_seq` contract).
    */
  private def preAggregate(td: TableDef, df: DataFrame): DataFrame = {
    val seq = "__graft_preagg_seq"
    val seqd = df.withColumn(seq, monotonically_increasing_id())
    val aggs = td.schema.valueColumns.map { c =>
      (c.agg match {
        case AggType.Sum => sum(col(c.name))
        case AggType.Min => min(col(c.name))
        case AggType.Max => max(col(c.name))
        case AggType.HllUnion => expr(s"hll_sketch_agg(${c.name})")
        case AggType.ReplaceIfNotNull =>
          max_by(col(c.name), when(col(c.name).isNotNull, col(seq)))
        case AggType.Replace | AggType.None => max_by(col(c.name), col(seq))
      }).as(c.name)
    }
    seqd.groupBy(td.schema.keyNames.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  def ingest(db: String, table: String, df: DataFrame,
             version: Option[Version] = None,
             explicitRowsetId: Option[Long] = None,
             op: Int = 0,
             opColumn: Option[String] = None,
             group: Option[String] = None): RowsetMeta = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    require((op == 0 && opColumn.isEmpty) || td.schema.keysType == KeysType.Unique,
      s"delete loads (op=1) are only defined for Unique tables; ${td.qualified} is ${td.schema.keysType}")
    // staging under an ALREADY-COMMITTED group would self-activate at the
    // next manifest load (or orphan forever once the id retires) — group
    // ids are single-use by contract, so refuse loudly
    require(group.forall(g => !groupLedger.isCommitted(g)),
      s"group ${group.getOrElse("")} already committed — open a new load group")
    // a staged load must have NO pre-commit side effects; dynamic-partition
    // minting/expiry are catalog edits that cannot stage, so refuse the
    // combination loudly instead of leaking them before the group commits
    require(group.isEmpty ||
        (td.autoPartition.isEmpty && td.autoExpireKeep.isEmpty),
      s"load groups are not defined for dynamic-partition tables " +
        s"(${td.qualified} has autoPartition/autoExpireKeep): partition " +
        "minting and expiry are catalog edits that cannot stage")
    // AUTO_INCREMENT fill FIRST (before the generated-column fills, which
    // may legally reference the id column — computing them before the fill
    // would derive from NULL and store a value the definition contradicts),
    // and before any pre-aggregation: rows with the column NULL/absent get
    // ids from the manifest's reserved block
    val df0 = td.autoIncrementColumn.fold(df)(c =>
      fillAutoIncrement(db, table, df, c))
    // GENERATED columns compute next — ingest DROPS any supplied value and
    // recomputes from the source columns (derived state is engine-owned:
    // the definition is the truth, so compaction-style rewrites, UPDATEs to
    // source columns, and tombstone null-fills all stay consistent without
    // special-casing).
    val df1 = applyGenerated(td, df0)
    val input =
      if (td.schema.keysType == KeysType.Aggregate &&
          td.schema.valueColumns.exists(_.agg == AggType.HllUnion))
        preAggregate(td, df1)
      else df1
    // dynamic partitioning: extend the Range ladder to cover this load's
    // max key BEFORE routing (otherwise those rows raise unroutable) — but
    // only LOCALLY; the catalog commit happens after the write succeeds
    val (td1, minted) = autoExtendPartitions(td, input)
    // opt-in late-data quarantine (TableDef.expiredToDeadLetter): rows whose
    // keys fall in EXPIRED (dropped) rungs are split off into the companion
    // dead-letter table in this same load, and the main rowset publishes the
    // routable remainder. Rows matching NO rung still fail loudly — that is
    // schema corruption, not lateness. Default (flag off) keeps the loud
    // whole-load failure.
    val routable =
      if (td1.expiredToDeadLetter && td1.droppedPartitions.nonEmpty) {
        val cls = routeClassCol(td1)
        val late = input.filter(cls === "dropped")
        if (!late.isEmpty)
          ingest(db, table + DeadLetterSuffix, late)
        input.filter(cls =!= "dropped")
      } else input
    val m = manifest(db, table)
    val v = version.getOrElse(Version(m.maxVersion + 1, m.maxVersion + 1))
    val rowsetId = explicitRowsetId.getOrElse(m.nextRowsetId)
    val relDir = s"r$rowsetId"
    val outDir = tableRoot(db, table).resolve(relDir)

    val keyNames = td1.schema.keyNames
    var routed = conform(td1, routable, opColumn.toSeq)
      .withColumn(PartCol, partitionNameCol(td1))
      .withColumn(BucketCol, bucketIdxCol(td1))
    // __graft_seq: persisted load-order tiebreaker for Unique/Replace
    // determinism *within* one rowset (the reference leaves this undefined —
    // SURVEY.md §7 "hard parts"; we define it and persist it).
    if (td.schema.keysType != KeysType.Duplicate)
      routed = routed.withColumn(SeqCol, monotonically_increasing_id())
    // __graft_op: 0 = upsert, 1 = delete tombstone (Unique model only) —
    // the StarRocks/Doris-style batch-delete marker; merge-on-read drops a
    // key whose latest (version, seq) record is a tombstone. `opColumn`
    // supplies a per-row op (the MERGE INTO shape); `op` a whole-load one.
    if (td.schema.keysType == KeysType.Unique) {
      routed = routed.withColumn(OpCol,
        opColumn.map(n => col(n).cast("int")).getOrElse(lit(op)))
      opColumn.foreach(n => routed = routed.drop(n))
    }
    // MERGE-ON-WRITE (TableDef.mergeOnWrite): pre-merge THIS load per key
    // before writing — the same (sequence?, seq) latest-wins resolution
    // merge-on-read applies, evaluated one load early. The winner's op
    // SURVIVES (a tombstone must keep masking older rowsets — exactly
    // MergeView.compacting's stance), and the winner's routing/seq ride in
    // the payload so determinism and routing match what a reader would have
    // resolved. Cost: one key shuffle per load over the LOAD's rows; payoff:
    // every rowset holds at most one record per key (RowsetMeta.keyUnique),
    // which lets key-disjoint covering sets serve with no merge aggregate.
    val mergedOnWrite = td.schema.keysType == KeysType.Unique && td1.mergeOnWrite
    if (mergedOnWrite) {
      val keyNames2 = td1.schema.keyNames
      val ord = td1.sequenceColumn match {
        case Some(sc) => struct(col(sc), col(SeqCol))
        case None => struct(col(SeqCol))
      }
      val payloadNames = routed.columns.filterNot(keyNames2.contains).toSeq
      val payload = struct(payloadNames.map(col): _*)
      routed = routed.groupBy(keyNames2.map(col): _*)
        .agg(max_by(payload, ord).as("__graft_mow"))
        .select(keyNames2.map(col) ++
          payloadNames.map(n => col(s"__graft_mow.$n").as(n)): _*)
    }

    val sortCols = Seq(PartCol, BucketCol).map(col) ++ clusterCols(td)
    var writer = routed
      .repartition(col(PartCol), col(BucketCol))
      .sortWithinPartitions(sortCols: _*)
      .write
      .mode("errorifexists")
      .partitionBy(PartCol, BucketCol)
      // LZ4 block compression, as the reference's default codec
      // (src/compression/mod.rs:6-13, src/field_type.rs:90)
      .option("compression", "lz4_raw")
    // bloom filter on the leading key, cf. reference P3 (src/index/mod.rs:152-211)
    keyNames.headOption.foreach { k =>
      writer = writer.option(s"parquet.bloom.filter.enabled#$k", "true")
    }
    writer.parquet(outDir.toString)

    // Row count + rowset zone map in ONE parquet-footer pass (StatsHarvest):
    // a metadata read costing O(files in this load) — cheaper than the
    // count-back Spark job it replaces, and it yields the per-column
    // min/max/null stats that power transparent rowset pruning
    // (plans.ScanPruneRewrite) and metadata-served MIN/MAX (minMaxStats).
    // A zero-row load writes no part files and harvests (0, empty): Doris
    // semantics — an empty load is still a VERSION (the graph stays
    // hole-free); the read path skips file-less rowsets.
    val (numRows, colStats, partRows) = harvestStats(outDir)
    val blooms = buildBlooms(db, table, outDir, numRows)
    val ngrams = buildNgramBlooms(db, table, outDir, numRows)
    val sums = harvestSums(db, table, outDir, numRows)
    val ndvs = buildNdvSketches(db, table, outDir, numRows)
    val dicts = buildDictStats(db, table, outDir, numRows)
    // the write validated and landed: NOW the auto-minted partitions become
    // catalog state — before publish, so the prune rules know the new
    // partitions by the time any reader can see the new rowset
    commitMintedPartitions(db, table, minted)
    val meta = RowsetMeta(rowsetId, v, relDir, numRows,
      createdMs = System.currentTimeMillis(), pendingGroup = group,
      stats = colStats, bloomCols = blooms, sums = sums,
      ngramCols = ngrams, keyUnique = mergedOnWrite, ndvCols = ndvs,
      partRows = partRows, dictCols = dicts)
    m.publish(meta)
    // dynamic-partition EXPIRY (the complement of the self-extension above):
    // after the load is visible, retire everything older than the newest
    // `keep` partitions — as delete-predicate versions via dropPartition,
    // so time travel inside the retention window still sees them
    td.autoExpireKeep.foreach(keep => expirePartitions(db, table, keep))
    meta
  }

  /** Compute the table's GENERATED columns over `df` — dropping any
    * supplied value (the definition is the truth; a forged or stale
    * derived value can never be loaded) and casting to the declared type
    * so the expression's natural type never drifts the physical schema.
    * Shared by ingest (the write fill) and [[overwrite]]'s routing guard,
    * which must see the SAME values the write will route on.
    */
  private def applyGenerated(td: TableDef, df: DataFrame): DataFrame =
    td.generatedColumns.foldLeft(df) { case (acc, (c, exprSql)) =>
      val dt = td.schema.columns.find(_.name == c).get.dataType
      acc.drop(c).withColumn(c, expr(exprSql).cast(dt))
    }

  /** AUTO_INCREMENT fill (Doris auto-increment column): rows whose id
    * column is NULL (or absent) receive unique increasing BIGINTs from the
    * manifest's persisted counter; rows that supplied a value keep it. The
    * allocation is reservation-before-use — the counter bump persists
    * BEFORE any row carries an id, so a crashed load burns its block but a
    * restart can never re-issue one (unique + increasing, never gap-free:
    * exactly Doris's contract). Distribution shape: one delta-sized count
    * to size the block, then `zipWithIndex` (per-partition offsets — NO
    * shuffle) assigns base+i; at 1000 executors the only coordination is
    * the single driver-side reservation. The input is pinned with
    * `localCheckpoint` before the block-sizing count so the count and the
    * assignment observe the SAME rows — a non-deterministic source query
    * could otherwise yield more NULL-id rows on the second pass and assign
    * ids past the reserved block, colliding with the next reservation
    * (uniqueness is this feature's core contract, so it must not ride on a
    * determinism assumption).
    */
  private def fillAutoIncrement(db: String, table: String, df: DataFrame,
                                c: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    // pin BEFORE the column projection, and only if the input is not
    // already a materialized plan (overwrite pins its input upstream — a
    // second eager checkpoint would double-materialize the whole load);
    // the cast projection over pinned rows is deterministic, so the count
    // and the assignment still observe one row set
    val pinned =
      if (df.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]) df
      else df.localCheckpoint(true)
    val withCol =
      if (pinned.columns.contains(c)) pinned.withColumn(c, col(c).cast(LongType))
      else pinned.withColumn(c, lit(null).cast(LongType))
    val need = withCol.filter(col(c).isNull)
    val keep = withCol.filter(col(c).isNotNull)
    val n = need.count()
    if (n == 0L) return withCol
    val base = manifest(db, table).reserveAutoIds(n)
    val idx = withCol.schema.fieldIndex(c)
    val assigned = need.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq.updated(idx, base + i))
    }
    keep.unionAll(spark.createDataFrame(assigned, withCol.schema))
  }

  /** Keep only the newest `keep` live partitions (by Range bound); drop the
    * rest through [[dropPartition]]. Each drop is a metadata edit plus one
    * delete-predicate VERSION — older snapshots still see the partition,
    * full compaction makes the drop physical, and a policy-driven gc
    * reclaims the files once retention allows. At 100 TB retiring a day of
    * data is a manifest write, never a delete job at load time. Returns the
    * dropped partition names (oldest first).
    */
  def expirePartitions(db: String, table: String, keep: Int): Seq[String] = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val live = td.partitions
      .sortBy(_.upperExclusive.getOrElse(RangeBound.MaxValue))
    if (live.size <= keep) Nil
    else live.dropRight(keep).map { p => dropPartition(db, table, p.name); p.name }
  }

  /** Batch delete for Unique tables: `keys` carries the key columns (plus the
    * partition column, if the table is partitioned); every other declared
    * column is filled with a typed NULL and the rowset is published with
    * op=1 tombstones. Deletes are just another immutable rowset — MVCC,
    * snapshot reads and compaction all compose: older snapshots still see the
    * rows, the latest snapshot drops them, and compaction physically removes
    * them. (Delete-by-key batch loads are the StarRocks/Doris `__op` pattern;
    * the reference declares no delete path at all.)
    */
  def ingestDeletes(db: String, table: String, keys: DataFrame,
                    version: Option[Version] = None): RowsetMeta = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    require(td.schema.keysType == KeysType.Unique,
      s"deletes are only defined for Unique tables; ${td.qualified} is ${td.schema.keysType}")
    // a sequence-column table's tombstone must CARRY a sequence value — a
    // null sequence would lose to every stored record and never delete
    val needed = td.schema.keyNames ++ td.partitionColumn.toSeq ++
      td.sequenceColumn.toSeq
    val missing = needed.distinct.filterNot(keys.columns.contains)
    require(missing.isEmpty,
      s"delete load for ${td.qualified} missing columns: ${missing.mkString(", ")}")
    val full = td.schema.columns.foldLeft(keys) { (df, c) =>
      if (df.columns.contains(c.name)) df
      else df.withColumn(c.name, lit(null).cast(c.dataType))
    }
    ingest(db, table, full, version, op = 1)
  }

  /** MERGE INTO (Unique model): one source frame carrying both upserts and
    * deletes — rows with `deleteFlag` true become tombstones (value columns
    * nulled), the rest upsert — published as ONE rowset under ONE version, so
    * readers see the whole merge atomically (two separate loads would expose
    * the half-applied state to a concurrent snapshot). The Delta/Iceberg
    * MERGE INTO shape, expressed as an immutable rowset like every other
    * write: MVCC, time travel, incremental reads and compaction compose.
    */
  def mergeInto(db: String, table: String, source: DataFrame, deleteFlag: String,
                version: Option[Version] = None,
                group: Option[String] = None): RowsetMeta = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    require(td.schema.keysType == KeysType.Unique,
      s"mergeInto is only defined for Unique tables; ${td.qualified} is ${td.schema.keysType}")
    require(source.columns.contains(deleteFlag),
      s"merge source for ${td.qualified} missing the delete flag '$deleteFlag'")
    // upsert rows must carry every value column (a missing one would silently
    // write NULL over existing data) — unless the table is partial-update,
    // where NULL means "not set" by contract
    val missingVals = td.schema.valueNames.filterNot(source.columns.contains)
    require(missingVals.isEmpty || td.partialUpdate,
      s"merge source for ${td.qualified} missing value columns: ${missingVals.mkString(", ")}")
    val flag = col(deleteFlag).cast("boolean")
    // the sequence column survives on tombstones: deletion itself is ordered
    // by it (an out-of-order delete must lose to a newer stored record)
    val keyNames = td.schema.keyNames.toSet ++ td.sequenceColumn
    // delete rows may omit value columns entirely; null-fill them, and null
    // OUT value columns on tombstone rows so a tombstone never carries values
    val full = td.schema.columns.foldLeft(source) { (acc, c) =>
      if (!acc.columns.contains(c.name))
        acc.withColumn(c.name, lit(null).cast(c.dataType))
      else if (!keyNames.contains(c.name))
        acc.withColumn(c.name,
          when(flag, lit(null).cast(c.dataType)).otherwise(col(c.name).cast(c.dataType)))
      else acc
    }
    val tagged = full
      .withColumn("__graft_op_in", when(flag, 1).otherwise(0))
      .drop(deleteFlag)
    ingest(db, table, tagged, version, opColumn = Some("__graft_op_in"),
      group = group)
  }

  /** Partial-update load (StarRocks/Doris partial update mode; requires
    * `TableDef.partialUpdate`): `df` carries the key columns (plus the
    * partition column, if partitioned) and any SUBSET of the value columns.
    * Unmentioned value columns are stored as NULL ("not set") and merge-on-read
    * resolves each value column to the latest version that set it — see
    * [[MergeView]]. A partial load is just another immutable rowset: MVCC
    * snapshots, incremental reads and compaction all compose unchanged.
    */
  def ingestPartial(db: String, table: String, df: DataFrame,
                    version: Option[Version] = None): RowsetMeta = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    require(td.partialUpdate,
      s"${td.qualified} is not declared partialUpdate")
    val needed = td.schema.keyNames ++ td.partitionColumn.toSeq
    val missing = needed.distinct.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"partial load for ${td.qualified} missing columns: ${missing.mkString(", ")}")
    val full = td.schema.columns.foldLeft(df) { (acc, c) =>
      if (acc.columns.contains(c.name)) acc
      else acc.withColumn(c.name, lit(null).cast(c.dataType))
    }
    ingest(db, table, full, version)
  }

  /** ADD PARTITION (Doris `ALTER TABLE … ADD PARTITION`): extend a Range
    * table past its current upper bound, or a List table with disjoint new
    * values. Metadata-only — routing is evaluated per load, so existing
    * rowsets are untouched and only future loads can land in the new
    * partition. Overlap is refused (a Range partition below an existing
    * bound, or behind a MAXVALUE catch-all, would split history: rows
    * already routed under the old scheme would not be re-routed).
    */
  /** Per-load cap on dynamic-partition extension. A mistyped-but-parseable
    * far-future key must fail the load, not bloat the routing ladder (every
    * later load pays the ladder as a nested when() routing expression);
    * ~1000 rungs covers a multi-year daily backfill while bounding the
    * blast radius of one bad key to three orders of magnitude less than the
    * old 10k cap allowed.
    */
  val MaxAutoExtendPerLoad = 1000L

  /** Dynamic partitioning (Doris `dynamic_partition`, applied lazily at
    * load time): when the table declares an [[graft.catalog.AutoPartitionUnit]],
    * extend the Range ladder with per-unit partitions until the load's max
    * partition key routes. One tiny aggregate per load computes that max
    * (a scalar — negligible beside the routed write); each new partition
    * steps one unit from the previous highest bound, named from the day it
    * starts (`pa_YYYYMMDD`), with the table's bucket count.
    *
    * Returns the extended TableDef WITHOUT touching the catalog — the
    * minted specs are committed by [[ingest]] only AFTER the routed write
    * succeeds (via [[commitMintedPartitions]]), so a load that fails
    * validation (strict varchar, unroutable row) or errors mid-write stays
    * COMPLETELY invisible: no rowset, no published version, and no
    * auto-minted partitions either.
    */
  private def autoExtendPartitions(td0: TableDef, df: DataFrame)
  : (TableDef, Seq[PartitionSpec]) =
    td0.autoPartition match {
      case None => (td0, Nil)
      case Some(unit) =>
        val pc = td0.partitionColumn.get
        val mx = df.agg(max(col(pc).cast("string"))).head().getString(0)
        if (mx == null) (td0, Nil)
        else {
          var parts = td0.partitions
          val minted = scala.collection.mutable.ArrayBuffer.empty[PartitionSpec]
          def highest = parts.flatMap(_.upperExclusive).max
          // backstop BEFORE any minting: a corrupt far-future key must not
          // mint partitions until the heat death of the driver
          val mxDay =
            try java.time.LocalDate.parse(mx.take(10))
            catch { case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"autoPartition needs ISO-date-prefixed keys in ${td0.qualified}; got '$mx'")
            }
          val hi0 = java.time.LocalDate.parse(highest.take(10))
          val needed = unit match {
            case AutoPartitionUnit.Day =>
              java.time.temporal.ChronoUnit.DAYS.between(hi0, mxDay) + 1
            case AutoPartitionUnit.Month =>
              java.time.temporal.ChronoUnit.MONTHS.between(hi0, mxDay) + 1
          }
          require(needed <= MaxAutoExtendPerLoad,
            s"autoPartition would create $needed partitions (> max " +
              s"$MaxAutoExtendPerLoad per load) for ${td0.qualified}" +
              s" (load max key '$mx' vs bound '$highest')")
          while (mx >= highest) {
            val lo = java.time.LocalDate.parse(highest.take(10))
            val next = unit match {
              case AutoPartitionUnit.Day   => lo.plusDays(1)
              case AutoPartitionUnit.Month => lo.plusMonths(1)
            }
            val spec = PartitionSpec(
              "pa_" + lo.toString.replace("-", ""),
              upperExclusive = Some(next.toString),
              numBuckets = td0.numBuckets)
            minted += spec
            parts = parts :+ spec
          }
          (td0.copy(partitions = parts), minted.toSeq)
        }
    }

  /** Commit partitions minted by a now-successful load. Goes through
    * [[addPartition]] (monotonicity checks + transparent prune-rule
    * refresh); a spec an interleaved load already committed identically is
    * skipped, so concurrent loads minting the same days compose.
    */
  private def commitMintedPartitions(db: String, table: String,
                                     specs: Seq[PartitionSpec]): Unit =
    specs.foreach { s =>
      val existing = catalog.getTable(db, table).get.partitions.find(_.name == s.name)
      existing match {
        case Some(p) =>
          require(p.upperExclusive == s.upperExclusive,
            s"auto partition ${s.name} of $db.$table already exists with a " +
              s"different bound (${p.upperExclusive} vs ${s.upperExclusive})")
        case None => addPartition(db, table, s)
      }
    }

  def addPartition(db: String, table: String, spec: PartitionSpec): TableDef = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val known = td.partitions ++ td.droppedPartitions
    require(!known.exists(_.name == spec.name),
      s"partition ${spec.name} already exists (or was dropped) in ${td.qualified}")
    td.policy match {
      case PartitionPolicy.Unpartitioned =>
        throw new IllegalArgumentException(s"${td.qualified} is unpartitioned")
      case PartitionPolicy.Range =>
        require(known.forall(_.upperExclusive.isDefined),
          s"${td.qualified} has a MAXVALUE partition; nothing can extend past it")
        spec.upperExclusive.foreach { ub =>
          require(known.forall(_.upperExclusive.get < ub),
            s"new Range partition must extend past every existing bound")
        }
      case PartitionPolicy.List =>
        require(spec.listValues.nonEmpty, "List partition needs values")
        val clash = spec.listValues.filter(v => known.exists(_.listValues.contains(v)))
        require(clash.isEmpty, s"values already covered: ${clash.mkString(", ")}")
    }
    catalog.alterTable(td.copy(partitions = td.partitions :+ spec))
  }

  /** DROP PARTITION (Doris semantics: metadata now, physical delete later):
    * the partition leaves the routing table — future loads of its keys fail
    * loudly — and its rows are masked by publishing a [[deleteWhere]] marker
    * over the partition's key range/values. Everything then composes for
    * free: the drop is itself a VERSION (older snapshots still see the
    * partition — time travel works), rollups/MVs correctly go stale and
    * re-enable after refresh, and full compaction makes the drop physical
    * and retires the marker. At 100 TB retiring a time partition is one
    * catalog edit plus one manifest write, not a delete job.
    *
    * Non-Duplicate tables require the partition column to be a key column
    * (the [[deleteWhere]] rule) — the usual Doris layout.
    */
  def dropPartition(db: String, table: String, name: String): TableDef = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val spec = td.partitions.find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no partition $name in ${td.qualified}"))
    require(td.partitions.size > 1, s"cannot drop the last partition of ${td.qualified}")
    // the partition's implicit lower bound is the next rung down in the
    // full (live + dropped) ladder — see [[partitionMaskPred]]
    val pred = partitionMaskPred(td, spec)
    val updated = catalog.alterTable(td.copy(
      partitions = td.partitions.filterNot(_.name == name),
      droppedPartitions = td.droppedPartitions :+ spec))
    // the marker carries BOTH forms of the mask: `deletePartition` lets the
    // read path filter on the hive partition column (whole directories
    // prune before any file opens — retired data costs zero read I/O),
    // while the row predicate stays for introspection. Equivalent because
    // the dropped range is unroutable from this version on: every row in
    // the partition's directories is older than the marker.
    val m = manifest(db, table)
    val v = Version(m.maxVersion + 1, m.maxVersion + 1)
    val rowsetId = m.nextRowsetId
    m.publish(RowsetMeta(rowsetId, v, relDir = s"d$rowsetId", numRows = 0L,
      createdMs = System.currentTimeMillis(),
      deletePredicate = Some(pred), deletePartition = Some(name)))
    updated
  }

  /** TRUNCATE TABLE (Doris `TRUNCATE TABLE`): retire EVERY visible rowset
    * behind one zero-row spanning rowset — exactly [[compact]]'s manifest
    * shape with nothing written. Schema, partitions, and routing survive;
    * new loads version on top as if the table were fresh; wall-clock time
    * travel inside the retention window still reads the pre-truncate data
    * (the retired rowsets only leave disk when GC's policy lets them).
    * Cost at any size: one manifest rewrite.
    */
  def truncateTable(db: String, table: String): RowsetMeta = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val m = manifest(db, table)
    val inputs = m.visibleRowsets
    require(inputs.nonEmpty, s"${td.qualified} is already empty")
    val lo = inputs.map(_.version.start).min
    val hi = m.maxVersion
    val rowsetId = m.nextRowsetId
    m.markStaleAll(inputs.map(_.rowsetId))
    val meta = RowsetMeta(rowsetId, Version(lo, hi), relDir = s"r$rowsetId",
      numRows = 0L, createdMs = System.currentTimeMillis())
    m.publish(meta)
    autoGc(db, table)
    meta
  }

  /** TRUNCATE PARTITION (Doris `TRUNCATE TABLE ... PARTITION`): empty ONE
    * partition as a delete-marker VERSION — [[dropPartition]]'s mask
    * without the catalog removal, so the partition stays declared and
    * ROUTABLE: rows loaded after the truncate land at newer versions and
    * survive the mask (its version guard constant-folds away on newer
    * union branches), while every older row in the partition's directories
    * prunes before any file opens. Cost: one manifest write.
    */
  def truncatePartition(db: String, table: String, name: String): RowsetMeta = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val spec = td.partitions.find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no partition $name in ${td.qualified}"))
    val pred = partitionMaskPred(td, spec)
    val m = manifest(db, table)
    val v = Version(m.maxVersion + 1, m.maxVersion + 1)
    val rowsetId = m.nextRowsetId
    val meta = RowsetMeta(rowsetId, v, relDir = s"d$rowsetId", numRows = 0L,
      createdMs = System.currentTimeMillis(),
      deletePredicate = Some(pred), deletePartition = Some(name))
    m.publish(meta)
    meta
  }

  /** The row-predicate form of "every row routed to `spec`" — shared by
    * [[dropPartition]] (mask + catalog removal) and [[truncatePartition]]
    * (mask only).
    */
  private def partitionMaskPred(td: TableDef, spec: PartitionSpec): String = {
    val pcol = td.partitionColumn.getOrElse(
      throw new IllegalArgumentException(s"${td.qualified} is unpartitioned"))
    def lit(s: String) = s"'${s.replace("'", "''")}'"
    val key = s"CAST($pcol AS STRING)"
    td.policy match {
      case PartitionPolicy.Range =>
        val below = (td.partitions ++ td.droppedPartitions)
          .filter(p => p.name != spec.name &&
            p.upperExclusive.getOrElse(RangeBound.MaxValue) <
              spec.upperExclusive.getOrElse(RangeBound.MaxValue))
          .map(_.upperExclusive.get)
        val lower = below.maxOption.map(b => s"$key >= ${lit(b)}")
        val upper = spec.upperExclusive.map(u => s"$key < ${lit(u)}")
        val terms = lower.toSeq ++ upper.toSeq
        // a sole MAXVALUE rung has no bound on either side: the partition
        // IS the whole key space, and an empty predicate string would later
        // choke every visible-predicate parse (renameColumn's dangling-ref
        // check) — emit the honest constant instead
        if (terms.isEmpty) "true" else terms.mkString(" AND ")
      case PartitionPolicy.List =>
        s"$key IN (${spec.listValues.map(lit).mkString(", ")})"
      case PartitionPolicy.Unpartitioned =>
        throw new IllegalArgumentException(s"${td.qualified} is unpartitioned")
    }
  }

  /** EXPORT (Doris `EXPORT TABLE ... TO ...` / `SELECT INTO OUTFILE`): write
    * the table's MERGED current snapshot — not raw rowsets; tombstones
    * resolved, delete markers applied, defaults/renames/generated fills
    * visible exactly as a reader sees them — to an external directory in
    * parquet/csv/json. The egress half [[backup]] deliberately is not:
    * backup copies internal rowsets for THIS engine to restore; export
    * produces files any other system can read. Refuses an existing
    * destination (an export is a publication, never a silent overwrite).
    * Distribution shape: one distributed write job, partition-pruned when
    * scoped (`scanPartitions`), no driver materialization. Returns the
    * number of data files written.
    */
  def exportTable(db: String, table: String, dest: Path,
                  format: String = "parquet",
                  partitions: Seq[String] = Nil): Long = {
    val fmt = format.toLowerCase
    require(Set("parquet", "csv", "json").contains(fmt),
      s"EXPORT format must be parquet|csv|json; got '$format'")
    require(!Files.exists(dest),
      s"EXPORT destination $dest already exists — exports never overwrite")
    val df =
      if (partitions.isEmpty) scan(db, table)
      else scanPartitions(db, table, partitions)
    val w = df.write.mode("errorifexists")
    (fmt match {
      case "csv" => w.option("header", "true").csv _
      case "json" => w.json _
      case _ => w.parquet _
    })(dest.toString)
    import scala.jdk.CollectionConverters._
    // data files only: "_" excludes _SUCCESS-style markers, "." excludes
    // Hadoop LocalFileSystem checksum sidecars (.part-*.crc)
    Files.list(dest).iterator().asScala
      .count { p =>
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }.toLong
  }

  /** INSERT OVERWRITE (Doris `INSERT OVERWRITE [PARTITION (...)]`):
    * atomically replace the whole table — or exactly the named partitions —
    * with `df`. Expressed entirely in the engine's existing vocabulary: a
    * delete-marker version masking the replaced scope plus ONE data rowset
    * carrying the new rows, staged under one load group and committed
    * atomically, so readers see the old content until the commit instant
    * and the new content after — never a half-replaced table, never an
    * empty window between "deleted" and "loaded". Activation assigns
    * versions in stage order (mask first, data second), which is what
    * makes the mask apply to every pre-overwrite rowset and NOT to the
    * incoming rows. The replace is itself a pair of versions: older
    * snapshots still serve the pre-overwrite content, full compaction
    * makes it physical.
    *
    * Partition-scoped overwrites publish one DIRECTORY mask per named
    * partition (the `deletePartition` marker [[truncatePartition]] uses),
    * so at 100 TB the replaced terabytes cost zero read-time I/O, and
    * every incoming row is REQUIREd to route into the named scope — a row
    * routed elsewhere would silently survive beside the mask as a
    * half-insert (Doris errors on the same shape). Whole-table overwrites
    * mask with the constant predicate, which is model-safe everywhere
    * (no column references, so the merge models' key-only rule holds).
    * Dynamic-partition tables refuse (their loads mint catalog state that
    * cannot stage — same rule as any grouped load).
    */
  def overwrite(db: String, table: String, df: DataFrame,
                partitions: Seq[String] = Nil): RowsetMeta = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val g = newLoadGroup()
    try {
      // pin the input when a scope guard will read it: the guard and the
      // ingest must observe the SAME rows — a non-deterministic source
      // query could otherwise pass the guard, then route different rows at
      // ingest, landing outside the masked partitions (exactly the silent
      // half-insert the guard exists to prevent)
      val pinned = if (partitions.isEmpty) df else df.localCheckpoint(true)
      if (partitions.isEmpty) {
        stageMask(db, table, "true", None, g)
      } else {
        val specs = partitions.map(n => td.partitions.find(_.name == n)
          .getOrElse(throw new NoSuchElementException(
            s"no partition $n in ${td.qualified}")))
        // every incoming row must land INSIDE the overwrite scope: a row
        // routed to an unnamed partition would survive beside the mask as
        // a silent half-insert — refuse the whole statement instead. The
        // guard routes on the GENERATED fills (the values the write will
        // actually route on — a forged derived value must not pass here
        // and then route elsewhere after ingest recomputes it). Auto-inc
        // ids are not filled for the guard: an auto-inc-derived partition
        // key would route its NULLs loudly unroutable, never silently.
        val outside = applyGenerated(td, pinned)
          .withColumn("__graft_ow_part", partitionNameCol(td))
          .filter(!col("__graft_ow_part").isin(partitions: _*))
        require(outside.isEmpty,
          s"INSERT OVERWRITE ${td.qualified} PARTITION " +
            s"(${partitions.mkString(", ")}): input rows route outside the " +
            "named partitions — name them too, or fix the data")
        specs.foreach(spec =>
          stageMask(db, table, partitionMaskPred(td, spec), Some(spec.name), g))
      }
      val staged = ingest(db, table, pinned, group = Some(g))
      commitGroup(g)
      // the staged meta's version was provisional; return the activated one
      manifest(db, table).visibleRowsets.find(_.rowsetId == staged.rowsetId)
        .getOrElse(staged)
    } catch {
      // abort ONLY an uncommitted group: a failure inside/after commitGroup
      // (e.g. activation racing a non-group publish) must propagate ITS
      // error, not abortGroup's already-committed refusal masking it
      case e: Throwable =>
        if (!groupLedger.isCommitted(g)) abortGroup(g)
        throw e
    }
  }

  /** Stage a delete/truncate mask under a load group (overwrite's first
    * half): [[truncatePartition]]'s marker shape, pending until the group
    * commits.
    */
  private def stageMask(db: String, table: String, pred: String,
                        partName: Option[String], group: String): RowsetMeta = {
    val m = manifest(db, table)
    val rowsetId = m.nextRowsetId
    val meta = RowsetMeta(rowsetId, Version(m.maxVersion + 1, m.maxVersion + 1),
      relDir = s"d$rowsetId", numRows = 0L,
      createdMs = System.currentTimeMillis(),
      deletePredicate = Some(pred), deletePartition = partName,
      pendingGroup = Some(group))
    m.publish(meta)
    meta
  }

  /** UPDATE for the Unique model (Doris `UPDATE tbl SET ... WHERE ...`):
    * read-modify-write expressed in the engine's own MVCC vocabulary. The
    * matching rows are resolved from the CURRENT merged snapshot (so the
    * predicate may reference ANY declared column — unlike [[deleteWhere]]'s
    * per-rowset markers, which evaluate pre-merge and are therefore
    * key-only on merge models), every SET right-hand side is evaluated
    * against the OLD row (standard UPDATE semantics: `SET a = b, b = a`
    * swaps), and the result writes back as ONE ordinary upsert rowset —
    * MVCC, time travel, incremental reads, merge-on-write and compaction
    * all compose because an update is just another load.
    *
    * Concurrency is optimistic and LOUD: the snapshot version is captured
    * first and the upsert publishes at exactly snapshot+1, so a concurrent
    * writer landing in between trips the manifest's visible-version
    * collision guard — the update fails (caller retries on a fresh
    * snapshot) instead of silently writing rows computed from a stale read
    * (the lost-update anomaly). Doris takes a table lock for the same
    * reason; optimistic-with-loud-failure is the shared-nothing analogue.
    *
    * SET targets must be declared VALUE columns: key updates are
    * delete+insert by definition (Doris refuses them too), and the
    * sequence column is refused because rewriting the arbiter of
    * "latest" mid-history can silently resurrect older records. The
    * updated rows CARRY their stored sequence values, so on a
    * sequence-column table the update ties on sequence and wins on
    * version — an out-of-order late arrival still loses to it only if
    * its sequence is genuinely newer.
    *
    * Cost shape at 100 TB: O(matching rows) read + write, never a table
    * rewrite — pair it with a partition-pruned predicate and the scan
    * side touches only the qualifying rowsets (the transparent prune
    * rules apply to the snapshot read like any other).
    */
  def updateWhere(db: String, table: String, sets: Seq[(String, String)],
                  predicateSql: String): RowsetMeta = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    require(td.schema.keysType == KeysType.Unique,
      s"UPDATE is only defined for Unique tables; ${td.qualified} is " +
        td.schema.keysType.name)
    require(sets.nonEmpty, s"UPDATE ${td.qualified} needs at least one SET")
    val dup = sets.groupBy(_._1).collect { case (n, vs) if vs.size > 1 => n }
    require(dup.isEmpty,
      s"UPDATE ${td.qualified} sets column(s) twice: ${dup.mkString(", ")}")
    val declared = td.schema.columns.map(_.name)
    val parser = spark.sessionState.sqlParser
    def refsOf(sql: String): Seq[String] =
      parser.parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      }.distinct
    sets.foreach { case (name, rhs) =>
      require(td.schema.valueNames.contains(name),
        s"UPDATE ${td.qualified}: '$name' is not a value column (key " +
          "updates are delete+insert; unknown columns are typos)")
      require(!td.sequenceColumn.contains(name),
        s"UPDATE ${td.qualified}: refusing to rewrite sequence column " +
          s"'$name' (it arbitrates latest-wins; rewriting it mid-history " +
          "can resurrect older records)")
      require(!td.generatedColumns.contains(name),
        s"UPDATE ${td.qualified}: '$name' is generated — it recomputes " +
          "from its source columns; SET those instead")
      val unknown = refsOf(rhs).filterNot(declared.contains)
      require(unknown.isEmpty,
        s"UPDATE ${td.qualified}: SET $name references unknown columns: " +
          unknown.mkString(", "))
    }
    val unknownPred = refsOf(predicateSql).filterNot(declared.contains)
    require(unknownPred.isEmpty,
      s"UPDATE ${td.qualified}: predicate references unknown columns: " +
        unknownPred.mkString(", "))
    val m = manifest(db, table)
    val v0 = m.maxVersion
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    val setMap = sets.toMap
    // one projection evaluates every RHS against the OLD attributes
    val updated = snapshot(db, table, lo, v0)
      .filter(expr(predicateSql))
      .select(td.schema.columns.map { c =>
        setMap.get(c.name)
          .map(rhs => expr(rhs).cast(c.dataType).as(c.name))
          .getOrElse(col(c.name))
      }: _*)
    ingest(db, table, updated, Some(Version(v0 + 1, v0 + 1)))
  }

  /** DELETE WHERE (the Doris/StarRocks delete-predicate pattern,
    * `delete_predicates` in rowset meta): publish a METADATA-ONLY version
    * carrying a SQL predicate. No data file is touched — reads mask matching
    * rows of every rowset OLDER than the delete version (rows loaded after it
    * are unaffected), and a full [[compact]] makes the delete physical and
    * retires the marker. Cost of deleting a billion rows: one manifest write.
    *
    * Model rule (exactly Doris's): on Unique/Aggregate tables the predicate
    * may reference KEY columns only — value-column predicates could remove
    * one version of a key mid-history and resurrect an older value at merge
    * time. Duplicate tables may delete by any column.
    */
  def deleteWhere(db: String, table: String, predicateSql: String,
                  version: Option[Version] = None,
                  group: Option[String] = None): RowsetMeta = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val parsed = spark.sessionState.sqlParser.parseExpression(predicateSql)
    val refs = parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
    }.distinct
    val unknown = refs.filterNot(td.schema.columns.map(_.name).contains)
    require(unknown.isEmpty,
      s"delete predicate references unknown columns: ${unknown.mkString(", ")}")
    if (td.schema.keysType != KeysType.Duplicate) {
      val nonKey = refs.filterNot(td.schema.keyNames.contains)
      require(nonKey.isEmpty,
        s"${td.schema.keysType.name} table delete predicates may only reference " +
          s"key columns; got: ${nonKey.mkString(", ")}")
    }
    val m = manifest(db, table)
    val v = version.getOrElse(Version(m.maxVersion + 1, m.maxVersion + 1))
    val rowsetId = m.nextRowsetId
    val meta = RowsetMeta(rowsetId, v, relDir = s"d$rowsetId", numRows = 0L,
      createdMs = System.currentTimeMillis(),
      deletePredicate = Some(predicateSql), pendingGroup = group)
    m.publish(meta)
    meta
  }

  /** Project a frame to the declared schema, casting ONLY the columns whose
    * physical type differs (rowsets written before a widening
    * [[modifyColumnType]]). Unchanged columns stay bare attributes so the
    * materialized-rewrite rules' Project-of-attributes matching still holds.
    */
  private def projectDeclared(td: TableDef)(df: DataFrame): DataFrame =
    df.select(td.schema.columns.map { c =>
      if (df.schema(c.name).dataType == c.dataType) col(c.name)
      else col(c.name).cast(c.dataType).as(c.name)
    }: _*)

  // --- read path -------------------------------------------------------------

  /** Raw union of the rowsets covering [lo,hi], with `__graft_version` stamped
    * per rowset (reference read path: src/tablet.rs:131-144 → union of
    * segment scans). Delete-predicate markers in the range scan nothing;
    * their predicates mask matching rows of older rowsets. The mask condition
    * references the per-rowset `__graft_version` literal, so Catalyst's
    * pushdown-through-union constant-folds it away for rowsets newer than the
    * delete and pushes `NOT pred` into the parquet scan of older ones.
    */
  private def rawSnapshot(db: String, table: String, lo: Long, hi: Long): DataFrame =
    rawFromRowsets(db, table, manifest(db, table).captureConsistentVersions(lo, hi))

  /** Raw union over an EXPLICIT rowset set — the shared body of version-range
    * snapshots and wall-clock as-of reads (whose set may include retained
    * stale rowsets a visible-graph resolution can't reach).
    */
  private def rawFromRowsets(db: String, table: String,
                             rowsets: Seq[RowsetMeta]): DataFrame = {
    val (markers, allData) = rowsets.partition(_.isDeleteMarker)
    // zero-row rowsets (empty loads) hold their version range in the graph
    // but have no files to scan — reading their dir would fail schema
    // inference, and they contribute nothing to the union anyway
    val data = allData.filter(_.numRows > 0)
    val root = tableRoot(db, table)
    if (data.isEmpty) {
      val td = catalog.getTable(db, table).get
      // the layout columns a parquet read infers from the hive dirs, so
      // bucket and partition filters resolve on an empty table too
      val st = td.schema.toStructType.add(VersionCol, "long").add(SeqCol, "long")
        .add(PartCol, "string").add(BucketCol, "int")
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    }
    // renameColumn history: map each rowset's PHYSICAL former names to the
    // current declared names BEFORE the union — unionByName would otherwise
    // treat old-name and new-name rowsets as having disjoint columns and
    // null-fill both sides. Guarded per rowset (old present, new absent) so
    // a pathological stale rowset from a freed-then-reused name era can
    // never be silently mis-mapped.
    // ONE catalog snapshot for the whole union: per-branch lookups would
    // both repeat the fetch O(rowsets) times and let an ALTER landing
    // mid-loop hand different branches different schema/default views
    val td0 = catalog.getTable(db, table).get
    val renames = td0.renamedColumns
    val unioned = data.map { r =>
      // ignoreMissingFiles pinned false PER READ: the constructor guard
      // covers engine creation, but the conf is session-mutable — the
      // GC-race contract must not depend on nobody flipping it later
      val raw = rawReaders.getOrElseUpdate(root.resolve(r.relDir).toString,
        spark.read.option("ignoreMissingFiles", "false")
          .parquet(root.resolve(r.relDir).toString))
      val renamed = renames.foldLeft(raw) { case (d, (oldName, newName)) =>
        if (d.columns.contains(oldName) && !d.columns.contains(newName))
          d.withColumnRenamed(oldName, newName)
        else d
      }
      // DEFAULT backfill is PER BRANCH: a declared column physically absent
      // from THIS rowset (written before its addColumn) reads the declared
      // default; rowsets that carry the column — including explicit NULLs
      // written after the add — are untouched. unionByName's null-fill
      // would erase that distinction.
      td0.columnDefaults.foldLeft(renamed) { case (d, (c, v)) =>
        if (d.columns.contains(c)) d
        else td0.schema.columns.find(_.name == c)
          .map(cs => d.withColumn(c, lit(v).cast(cs.dataType))).getOrElse(d)
      }.withColumn(VersionCol, lit(r.version.end))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val filled = backfillSchema(db, table, unioned)
    markers.foldLeft(filled) { (df, mk) =>
      mk.deletePartition match {
        // DROP PARTITION marker: mask by the hive partition COLUMN — the
        // version guard constant-folds per union branch, leaving a plain
        // `__graft_part != name` that prunes whole directories at the scan
        case Some(p) =>
          df.filter(!(col(PartCol) === lit(p) &&
            col(VersionCol) < lit(mk.version.start)))
        case None =>
          df.filter(!(coalesce(expr(mk.deletePredicate.get), lit(false)) &&
            col(VersionCol) < lit(mk.version.start)))
      }
    }
  }

  /** Null-backfill schema columns absent from every scanned rowset (rowsets
    * written before an [[addColumn]]); `unionByName(allowMissingColumns)`
    * already handles columns present in SOME rowsets.
    */
  private def backfillSchema(db: String, table: String, df: DataFrame): DataFrame = {
    val td = catalog.getTable(db, table).get
    td.schema.columns.filterNot(c => df.columns.contains(c.name))
      .foldLeft(df)((acc, c) => acc.withColumn(c.name,
        lit(td.columnDefaults.get(c.name).orNull).cast(c.dataType)))
  }

  /** Unique-model UNMERGED-serve guard: every covering data rowset provably
    * holds at most one record per key ([[graft.manifest.RowsetMeta
    * .keyUnique]] — merge-on-write loads and compaction outputs), none
    * holds a tombstone (the op column's own zone map, [[noTombstones]]),
    * and the rowsets' LEADING-key zone maps are pairwise STRICTLY disjoint
    * — disjoint leading-key ranges separate full key tuples, so no key can
    * live in two rowsets. Under those proofs merge-on-read is the identity
    * and the scan serves as a plain union: no key shuffle, no aggregate —
    * on a compacted Unique table, or a merge-on-write table loaded in key
    * bands (the time-series ingest shape), the model's whole read-time
    * merge cost disappears. A single keyUnique covering rowset serves
    * without the disjointness check. Delete-predicate markers compose:
    * their masks are row filters in the raw union, independent of merging
    * once keys are unique. Any unprovable piece ⇒ false (merge-on-read is
    * always correct).
    */
  private def unmergedServable(td: TableDef, rowsets: Seq[RowsetMeta]): Boolean = {
    if (td.schema.keysType != KeysType.Unique) return false
    val data = rowsets.filter(r => !r.isDeleteMarker && r.numRows > 0)
    if (data.isEmpty || !data.forall(_.keyUnique) || !noTombstones(data))
      return false
    if (data.size == 1) return true
    val k = td.schema.keyNames.head
    val oldNames = td.renamedColumns.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    val bounds = data.map { r =>
      r.stats.get(k).orElse(
        oldNames.getOrElse(k, Nil).flatMap(r.stats.get).headOption) match {
        case Some(s) if s.min.isDefined && s.max.isDefined =>
          (s.kind, s.min.get, s.max.get)
        case _ => return false
      }
    }
    val kind = bounds.head._1
    if (bounds.exists(_._1 != kind)) return false
    val sorted = bounds.sortWith((a, b) => ColStats.compare(kind, a._2, b._2) < 0)
    sorted.sliding(2).forall {
      case Seq((_, _, prevMax), (_, nextMin, _)) =>
        ColStats.compare(kind, prevMax, nextMin) < 0
      case _ => true
    }
  }

  /** Unique-model read: plain union when [[unmergedServable]] proves the
    * merge is the identity, else the merge-on-read aggregate.
    */
  private def mergeOrServe(td: TableDef, rowsets: Seq[RowsetMeta],
      raw: DataFrame): DataFrame =
    if (unmergedServable(td, rowsets)) raw.transform(projectDeclared(td))
    else MergeView(td, raw, VersionCol, SeqCol)

  /** Snapshot read with merge-on-read semantics (SURVEY.md §1.4). */
  def snapshot(db: String, table: String, lo: Long, hi: Long): DataFrame = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    if (manifest(db, table).captureConsistentVersions(lo, hi).isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], td.schema.toStructType)
    td.schema.keysType match {
      case KeysType.Duplicate =>
        // No merge — union the rowset scans (delete predicates applied in
        // rawSnapshot; AQE coalesces the union's partitions).
        rawSnapshot(db, table, lo, hi)
          .transform(projectDeclared(td))
      case KeysType.Unique =>
        // single capture for data + proof (see scanPartitions' race note)
        val covering = manifest(db, table).captureConsistentVersions(lo, hi)
        mergeOrServe(td, covering, rawFromRowsets(db, table, covering))
      case _ =>
        MergeView(td, rawSnapshot(db, table, lo, hi), VersionCol, SeqCol)
    }
  }

  /** Time travel: snapshot as of a wall-clock instant — exactly the rowsets
    * that were VISIBLE at `asOfMs` (published at or before it, not yet
    * retired at it). Because retired rowsets keep serving until the table's
    * [[graft.catalog.Retention]] window lets GC drop them, time travel works
    * ACROSS compactions and deletes inside the window; beyond the window
    * (anything older than the persisted GC floor) it fails loudly instead of
    * silently returning a wrong or empty snapshot. (Publication timestamps
    * complete the reference's recorded-but-unread `creation_time`,
    * src/meta.rs:95-98.)
    */
  def snapshotAsOf(db: String, table: String, asOfMs: Long): DataFrame = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val m = manifest(db, table)
    if (m.gcFloorMs >= 0 && asOfMs < m.gcFloorMs)
      throw new IllegalStateException(
        s"time travel to $asOfMs is beyond the retention window of " +
          s"$db.$table: rowsets retired before ${m.gcFloorMs} have been " +
          s"garbage-collected (retention=${td.retention})")
    val qualifying = m.rowsetsAsOf(asOfMs)
    if (qualifying.filterNot(_.isDeleteMarker).isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], td.schema.toStructType)
    val raw = rawFromRowsets(db, table, qualifying)
    td.schema.keysType match {
      case KeysType.Duplicate => raw.transform(projectDeclared(td))
      case KeysType.Unique => mergeOrServe(td, qualifying, raw)
      case _ => MergeView(td, raw, VersionCol, SeqCol)
    }
  }

  /** Full-table scan at the latest visible snapshot. */
  def scan(db: String, table: String): DataFrame = {
    val m = manifest(db, table)
    snapshot(db, table, m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L),
      m.maxVersion)
  }

  /** Scan restricted to a set of named partitions. The filter lands on the
    * hive partition column (`__graft_part`), so Spark prunes whole directory
    * subtrees before any file is opened — the read-side completion of the
    * reference's write-only `find_partition` (src/partition.rs:172-189). At
    * 100 TB this is the difference between scanning one partition and all.
    */
  def scanPartitions(db: String, table: String, partNames: Seq[String]): DataFrame = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val m = manifest(db, table)
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    val hi = m.maxVersion
    // ONE covering capture feeds both the data union and the unmerged-serve
    // proof: capturing them separately would let a compaction land between
    // the two and pair OLD raw data with the NEW set's keyUnique proof —
    // an unmerged serve over pre-merge rows
    val covering = m.captureConsistentVersions(lo, hi)
    val pruned = rawFromRowsets(db, table, covering)
      .filter(col(PartCol).isin(partNames.map(_.asInstanceOf[Any]): _*))
    td.schema.keysType match {
      case KeysType.Duplicate =>
        pruned.transform(projectDeclared(td))
      // the partition filter only removes rows — the unmerged-serve proof
      // over the full covering set still holds for any row subset
      case KeysType.Unique => mergeOrServe(td, covering, pruned)
      case _ => MergeView(td, pruned, VersionCol, SeqCol)
    }
  }

  /** Point lookup by bucket key, in three steps:
    *  1. Bucket route: the key goes to its bucket on the driver (FNV-1a,
    *     exactly like the reference's `tablet_for_row`, src/table.rs:32-41),
    *     and the scan reads only that bucket's directories.
    *  2. Candidate rowsets: of the one covering capture, the union holds
    *     every delete marker and only the data rowsets that could hold the
    *     key — the zone map, then the bloom sidecar, decide it through
    *     [[graft.plans.ScanPruneRewrite.refutes]], the predicate the
    *     optimizer rule uses (the reference's segment skipping,
    *     src/index/mod.rs:61-108, 152-211). A rowset that refutes the key
    *     is never listed, planned or opened.
    *  3. One-stage merge: on Unique and Aggregate tables the merge input is
    *     `coalesce(1)`; the key filter pins one bucket-column value, so one
    *     partition satisfies the merge's clustering and no Exchange is
    *     planned. The trade-off is that a lookup reads its candidate files
    *     in one task — the shape Doris uses for a one-tablet point read.
    *     Duplicate lookups do not merge, so their scan stays parallel.
    */
  def lookupByKey(db: String, table: String, keyValue: String): DataFrame = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val keyCol = td.bucketColumn.get
    val bucket = td.bucketType.bucketForKey(keyValue, td.numBuckets)
    val m = manifest(db, table)
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    // cast the literal (not the column) so the equality pushes down to the
    // parquet scan and hits the bloom filter / row-group stats
    val keyType = td.schema.columns.find(_.name == keyCol).get.dataType
    // single capture for data + proof (see scanPartitions' race note)
    val covering = m.captureConsistentVersions(lo, m.maxVersion)
    val root = tableRoot(db, table)
    val candidates = keyPredicate(td, keyCol, keyType, keyValue).fold(covering) { p =>
      covering.filter(r => r.isDeleteMarker || !graft.plans.ScanPruneRewrite.refutes(
        p, root.resolve(r.relDir).toAbsolutePath.normalize.toString, r))
    }
    val pruned = rawFromRowsets(db, table, candidates)
      .filter(col(BucketCol) === bucket && col(keyCol) === lit(keyValue).cast(keyType))
    td.schema.keysType match {
      case KeysType.Duplicate =>
        pruned.transform(projectDeclared(td))
      // the unmerged-serve proof takes the full covering set: a subset of
      // its rowsets only removes rows
      case KeysType.Unique => mergeOrServe(td, covering, pruned.coalesce(1))
      case _ => MergeView(td, pruned.coalesce(1), VersionCol, SeqCol)
    }
  }

  /** `keyCol = keyValue` as the expression rowset pruning reads. Stats and
    * sidecars are keyed by each rowset's physical column names, so a rowset
    * written before the key column's rename has none under the current name
    * and is kept. None (no pruning) when the current name once belonged to
    * another column, or when the value does not cast to the key type.
    */
  private def keyPredicate(td: TableDef, keyCol: String,
      keyType: org.apache.spark.sql.types.DataType,
      keyValue: String): Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, EqualTo, Literal}
    if (td.renamedColumns.contains(keyCol)) return None
    scala.util.Try(Cast(Literal(keyValue), keyType,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval()).toOption
      .map(v => EqualTo(AttributeReference(keyCol, keyType)(), Literal(v, keyType)))
  }

  /** Colocate join (Doris colocation groups): join two tables that share
    * the same hash-bucketing spec WITHOUT any shuffle — bucket i of the left
    * table joins bucket i of the right, because both sides routed their rows
    * with the same FNV-1a at write time. At 100 TB this removes the shuffle
    * of BOTH fact tables from a fact-fact join — the single largest data
    * movement Spark would otherwise plan.
    *
    * Mechanics: each side becomes an N-partition frame (partition i = the
    * merged scan of bucket i, directory-pruned) that declares
    * `HashPartitioning(bucketKey, N)` to the planner, so EnsureRequirements
    * proves co-partitioning and plans a sort-merge join with ZERO Exchange.
    * Merge-on-read models compose: key-model merges run per bucket (keys
    * never cross buckets), and those aggregations are bucket-local.
    *
    * Validation is strict — both tables must use Hash bucketing with the
    * same bucket count (the colocation-group contract). Caveat, as in any
    * engine that declares external partitioning: the RESULT still carries
    * the declared bucket partitioning of its join keys; joining it against
    * a NON-colocated large table on the same keys with exactly the same
    * partition count would wrongly skip a shuffle — `repartition()` first,
    * or join through [[scan]] instead.
    */
  def colocateJoin(leftDb: String, leftTable: String,
                   rightDb: String, rightTable: String,
                   joinType: String = "inner"): DataFrame = {
    val lt = catalog.getTable(leftDb, leftTable).getOrElse(
      throw new NoSuchElementException(s"no table $leftDb.$leftTable"))
    val rt = catalog.getTable(rightDb, rightTable).getOrElse(
      throw new NoSuchElementException(s"no table $rightDb.$rightTable"))
    require(lt.bucketType == BucketType.Hash && rt.bucketType == BucketType.Hash,
      "colocate join requires Hash bucketing on both tables")
    require(lt.bucketColumn.isDefined && rt.bucketColumn.isDefined,
      "colocate join requires declared bucket columns")
    require(lt.numBuckets == rt.numBuckets,
      s"colocate join requires equal bucket counts; " +
        s"${lt.qualified} has ${lt.numBuckets}, ${rt.qualified} has ${rt.numBuckets}")
    val n = lt.numBuckets
    // the documented trade, ENFORCED instead of remembered: a colocate join's
    // parallelism is exactly the bucket count, so an under-bucketed
    // colocation group quietly wastes the cluster
    OlapEngine.colocateParallelismWarning(n,
      spark.sparkContext.defaultParallelism,
      s"${lt.qualified} ⋈ ${rt.qualified}")
      .foreach(w => System.err.println(s"[graft] WARN $w"))
    def side(db: String, table: String, td: TableDef): DataFrame = {
      val m = manifest(db, table)
      val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
      // ONE covering capture feeds the raw union AND the unmerged-serve
      // proof (see scanPartitions' race note), and ONE raw snapshot is
      // shared by all buckets: rowset-union assembly and parquet file
      // listing happen once, not once per bucket. The bucket filter only
      // removes rows, so the proof holds per bucket — a compacted/
      // merge-on-write Unique side joins with no per-bucket merge aggregate
      val covering = m.captureConsistentVersions(lo, m.maxVersion)
      val snap = rawFromRowsets(db, table, covering)
      // Per-bucket plan compilation is independent driver work — run it on a
      // thread pool. At the parallelism warning's own recommended bucket
      // counts (>= slots/4, hundreds on a real cluster) a serial loop makes
      // plan compilation the dominant cost of the join: measured 28s for 64
      // buckets serial vs ~2s pooled (ColocateJoinScaleSpec prints both
      // tiers' build times each run).
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(n, Runtime.getRuntime.availableProcessors())))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val futs = (0 until n).map { b =>
          scala.concurrent.Future {
            val pruned = snap.filter(col(BucketCol) === b)
            val bucketDf = td.schema.keysType match {
              case KeysType.Duplicate =>
                pruned.transform(projectDeclared(td))
              case KeysType.Unique => mergeOrServe(td, covering, pruned)
              case _ => MergeView(td, pruned, VersionCol, SeqCol)
            }
            val rdd = bucketDf.queryExecution.toRdd.coalesce(1)
            if (rdd.getNumPartitions == 1) rdd
            else spark.sparkContext.parallelize(
              Seq.empty[org.apache.spark.sql.catalyst.InternalRow], 1)
          }
        }
        val rdds = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futs),
          scala.concurrent.duration.Duration.Inf)
        org.apache.spark.sql.graft.shim.partitionedFrame(spark,
          td.schema.toStructType, spark.sparkContext.union(rdds),
          Seq(td.bucketColumn.get), n)
      } finally pool.shutdown()
    }
    val l = side(leftDb, leftTable, lt)
    val r = side(rightDb, rightTable, rt)
    l.join(r, l(lt.bucketColumn.get) === r(rt.bucketColumn.get), joinType)
  }

  /** Raw physical layout view (incl. `__graft_part` / `__graft_bucket`) for
    * placement introspection — the analogue of the reference's tablet routing
    * probes (examples/basic_usage.rs:138-153).
    */
  def rawLayout(db: String, table: String): DataFrame = {
    val m = manifest(db, table)
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    rawSnapshot(db, table, lo, m.maxVersion)
  }

  def hasVersionHoles(db: String, table: String, lo: Long, hi: Long): Boolean =
    manifest(db, table).hasVersionHoles(lo, hi)

  /** Manifest introspection as a DataFrame — the operational `SHOW ROWSETS`
    * surface over what the reference keeps in `RowsetMeta`
    * (src/meta.rs:89-121): one row per visible rowset with its version range,
    * row count, file count/bytes and publication time. Metadata-only: no data
    * file is opened, so it stays O(rowsets) at any table size.
    */
  def describeRowsets(db: String, table: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val root = tableRoot(db, table)
    val rows = manifest(db, table).visibleRowsets.map { r =>
      val dir = root.resolve(r.relDir)
      val files =
        if (Files.exists(dir))
          Files.walk(dir).iterator().asScala
            .filter(_.toString.endsWith(".parquet")).toSeq
        else Nil
      (r.rowsetId, r.version.start, r.version.end, r.numRows,
        files.size.toLong, files.map(Files.size).sum,
        new java.sql.Timestamp(r.createdMs),
        // the per-rowset stat/index inventory — what the prune rules and
        // metadata serves can use, and therefore the first thing to check
        // when a serve unexpectedly fell back to a scan
        r.stats.keys.toSeq.sorted.mkString(","),
        r.bloomCols.sorted.mkString(","),
        r.ngramCols.sorted.mkString(","),
        r.ndvCols.sorted.mkString(","),
        r.sums.keys.toSeq.sorted.mkString(","),
        r.dictCols.sorted.mkString(","),
        r.keyUnique)
    }
    spark.createDataFrame(rows).toDF("rowset_id", "version_start",
      "version_end", "num_rows", "num_files", "bytes", "created",
      "stats_cols", "bloom_cols", "ngram_cols", "ndv_cols", "sum_cols",
      "dict_cols", "key_unique")
  }

  /** Metadata-only `count(*)`: for a Duplicate table the row count is the sum
    * of the covering rowsets' manifest counts — zero files opened, zero tasks
    * launched. At 100 TB this turns the most common health-check query into a
    * manifest lookup (the same trick as parquet-footer count aggregates, one
    * level up). Merge-on-read models must resolve key collisions, so they
    * fall back to counting the merged scan.
    */
  def countStar(db: String, table: String): Long = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val m = manifest(db, table)
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    val covering = m.captureConsistentVersions(lo, m.maxVersion)
    td.schema.keysType match {
      // pending delete predicates (incl. dropped partitions) mask an unknown
      // number of rows — the manifest fast path needs none in the covering set
      case KeysType.Duplicate if !covering.exists(_.isDeleteMarker) =>
        covering.map(_.numRows).sum
      case _ => scan(db, table).count()
    }
  }

  /** Footer-pass row count + zone map of a freshly written rowset dir —
    * shared by every data-writing path (ingest, compact, rebucket). Never
    * fails a load over stats: a harvest error degrades to (spark count, no
    * stats) so the rowset still publishes (unknown stats never prune).
    */
  private def harvestStats(outDir: Path)
      : (Long, Map[String, ColStats], Map[String, Long]) =
    try StatsHarvest.harvest(outDir, spark.sparkContext.hadoopConfiguration)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] WARN stats harvest failed for $outDir: $e")
        val n = try spark.read.parquet(outDir.toString).count()
          catch { case _: org.apache.spark.sql.AnalysisException => 0L }
        (n, Map.empty, Map.empty)
    }

  /** Build one [[RowsetBloom]] sidecar per declared bloom column for a
    * freshly written rowset dir (pre-publish, so the sidecars land
    * atomically with the rowset). Cost: one delta-sized Spark job per bloom
    * column over THIS load only. Returns the columns whose sidecars landed;
    * never fails a load — a bloom error degrades to no-bloom (no pruning).
    */
  private def buildBlooms(db: String, table: String, outDir: Path,
      numRows: Long): Seq[String] = {
    val td = catalog.getTable(db, table).getOrElse(return Nil)
    if (td.bloomColumns.isEmpty || numRows == 0) return Nil
    import spark.implicits._
    val df = try spark.read.parquet(outDir.toString)
      catch { case scala.util.control.NonFatal(_) => return Nil }
    td.bloomColumns.filter(df.columns.contains).flatMap { c =>
      try {
        val dt = df.schema(c).dataType
        val nLongs = RowsetBloom.sizeLongs(numRows)
        // xxhash64 (seed 42) per non-null value, OR-folded into per-partition
        // bitsets. treeAggregate so a 1000-executor load merges bitsets
        // executor-side instead of hauling every partition's array to the
        // driver; the zero value also makes an all-null column legal (an
        // empty bloom correctly excludes every probe — no non-null value
        // can equal anything).
        val or = (x: Array[Long], y: Array[Long]) => {
          var i = 0; while (i < x.length) { x(i) |= y(i); i += 1 }; x
        }
        val bits = df.filter(col(c).isNotNull)
          .select(xxhash64(col(c))).as[Long]
          .mapPartitions { it =>
            val arr = new Array[Long](nLongs)
            it.foreach(h => RowsetBloom.add(arr, h))
            Iterator.single(arr)
          }.rdd.treeAggregate(new Array[Long](nLongs))(or, or, depth = 2)
        RowsetBloom.write(outDir, c,
          new RowsetBloom(RowsetBloom.K, bits, dt.catalogString))
        Some(c)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] WARN bloom build failed for $outDir/$c: $e")
          None
      }
    }
  }

  /** Build one character-trigram [[RowsetBloom]] sidecar per declared
    * ngram_bf column (Doris's NGRAM_BF index at the rowset tier) for a
    * freshly written rowset dir. Every 3-gram of every non-null value
    * hashes into the bitset — substring predicates then prune rowsets
    * where ANY needle gram is absent ([[graft.plans.ScanPruneRewrite]]).
    * Two delta-sized passes per column over THIS load only: an exact gram
    * count (so the bitset sizes to real insert volume), then the
    * hash-and-fold. Gram slicing is Spark's own character `substring`, and
    * the probe slices needles with the SAME UTF8String character indexing +
    * the SAME Catalyst XxHash64 — false negatives impossible. Values
    * shorter than 3 chars contribute nothing, correctly: they cannot
    * contain a ≥3-char needle, so even an EMPTY bitset excludes exactly.
    * Never fails a load — an error degrades to no-index (no pruning).
    */
  private def buildNgramBlooms(db: String, table: String, outDir: Path,
      numRows: Long): Seq[String] = {
    val td = catalog.getTable(db, table).getOrElse(return Nil)
    if (td.ngramBloomColumns.isEmpty || numRows == 0) return Nil
    import spark.implicits._
    val df = try spark.read.parquet(outDir.toString)
      catch { case scala.util.control.NonFatal(_) => return Nil }
    val n = RowsetBloom.NgramSize
    td.ngramBloomColumns.filter(df.columns.contains).flatMap { c =>
      try {
        val grams = df
          .filter(col(c).isNotNull && length(col(c)) >= n)
          .select(explode(expr(
            s"transform(sequence(1, char_length(`$c`) - ${n - 1}), " +
              s"i -> substring(`$c`, i, $n))")).as("g"))
        val nGrams = grams.count()
        val nLongs = RowsetBloom.sizeLongs(nGrams)
        val or = (x: Array[Long], y: Array[Long]) => {
          var i = 0; while (i < x.length) { x(i) |= y(i); i += 1 }; x
        }
        val bits = grams.select(xxhash64(col("g"))).as[Long]
          .mapPartitions { it =>
            val arr = new Array[Long](nLongs)
            it.foreach(h => RowsetBloom.add(arr, h))
            Iterator.single(arr)
          }.rdd.treeAggregate(new Array[Long](nLongs))(or, or, depth = 2)
        RowsetBloom.write(outDir, c,
          new RowsetBloom(RowsetBloom.K, bits, s"ngram$n:string"),
          RowsetBloom.KindNgram)
        Some(c)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] WARN ngram bloom build failed for $outDir/$c: $e")
          None
      }
    }
  }

  /** Build one NDV-sketch sidecar ([[NdvSketch]]) per declared ndv column
    * for a freshly written rowset dir: ONE delta-sized Spark aggregate
    * (Spark's own `hll_sketch_agg`, lgK=12 ⇒ ~1.6% relative error) over
    * THIS load's rows, all columns in a single job. An all-null column
    * writes the EMPTY sketch (its true contribution) rather than nothing —
    * absence means un-harvested, never zero. Never fails a load.
    */
  private def buildNdvSketches(db: String, table: String, outDir: Path,
      numRows: Long): Seq[String] = {
    val td = catalog.getTable(db, table).getOrElse(return Nil)
    if (td.ndvStatsColumns.isEmpty || numRows == 0) return Nil
    val df = try spark.read.parquet(outDir.toString)
      catch { case scala.util.control.NonFatal(_) => return Nil }
    val cols = td.ndvStatsColumns.filter(df.columns.contains)
    if (cols.isEmpty) return Nil
    try {
      val aggs = cols.map(c => expr(s"hll_sketch_agg(`$c`, 12)").as(c))
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      cols.zipWithIndex.map { case (c, i) =>
        val bytes =
          if (row.isNullAt(i))
            new org.apache.datasketches.hll.HllSketch(12).toCompactByteArray
          else row.getAs[Array[Byte]](i)
        NdvSketch.write(outDir, c, bytes)
        c
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] WARN ndv sketch build failed for $outDir: $e")
        Nil
    }
  }

  /** Build one [[graft.manifest.DictStats]] VALUE HISTOGRAM sidecar per
    * declared dict column for a freshly written rowset dir — one
    * delta-sized exact groupBy-count over THIS load per column. A column
    * exceeding [[graft.manifest.DictStats.MaxDistinct]] distinct values in
    * this rowset writes NO sidecar (absent = unknown; the serve refuses
    * rather than truncating a histogram). Values store in Spark's string
    * form — injective for the admitted types — with the physical type
    * pinned so a later widen can never mis-reconstruct a group. Never
    * fails a load.
    */
  private def buildDictStats(db: String, table: String, outDir: Path,
      numRows: Long): Seq[String] = {
    import graft.manifest.DictStats
    val td = catalog.getTable(db, table).getOrElse(return Nil)
    if (td.dictStatsColumns.isEmpty || numRows == 0) return Nil
    val df = try spark.read.parquet(outDir.toString)
      catch { case scala.util.control.NonFatal(_) => return Nil }
    td.dictStatsColumns.filter(df.columns.contains).flatMap { c =>
      try {
        val dt = df.schema(c).dataType
        // cap+2 fetch detects overflow without a separate distinct count
        // (+1 for the possible null group, +1 as the overflow sentinel)
        val grouped = df.groupBy(col(c).cast("string").as("v"))
          .agg(count(lit(1)).as("n"))
          .limit(DictStats.MaxDistinct + 2).collect()
        val nulls = grouped.find(_.isNullAt(0)).map(_.getLong(1)).getOrElse(0L)
        val values = grouped.filterNot(_.isNullAt(0))
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        if (values.size > DictStats.MaxDistinct) None
        else {
          DictStats.write(outDir, c,
            DictStats.Dict(dt.catalogString, nulls, values))
          Some(c)
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] WARN dict stats build failed for $outDir/$c: $e")
          None
      }
    }
  }

  /** Exact GROUP BY counts of a declared dict column over the current
    * covering set — a driver-side Sum-fold of the per-rowset value
    * histograms ([[graft.manifest.DictStats]]), zero files opened, zero
    * tasks. Returns the declared type plus (value-string, count) cells
    * (None = the null group). At 100 TB, "how many rows per status" costs
    * a manifest fold.
    *
    * Guards (any miss ⇒ None — unknown beats wrong):
    *  - Duplicate model only (merge models collapse raw rows, so raw
    *    per-value counts over-count);
    *  - no delete markers in the covering set;
    *  - every data rowset carries a histogram for the column under its
    *    rename-era physical name, with a typeTag matching the DECLARED
    *    type (stale pre-widen sidecars refuse);
    *  - the folded mass must equal the covering row count exactly — a
    *    sidecar/manifest mismatch refuses rather than serving wrong groups;
    *  - the union stays under 100k cells (driver-memory backstop; at the
    *    per-rowset cap of 1024 this only trips on pathological drift).
    */
  def groupCounts(db: String, table: String, c: String)
      : Option[(org.apache.spark.sql.types.DataType, Seq[(Option[String], Long)])] = {
    import graft.manifest.DictStats
    val td = catalog.getTable(db, table).getOrElse(return None)
    if (td.schema.keysType != KeysType.Duplicate) return None
    val spec = td.schema.columns.find(_.name == c).getOrElse(return None)
    val m = manifest(db, table)
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    val covering = m.captureConsistentVersions(lo, m.maxVersion)
    if (covering.exists(_.isDeleteMarker)) return None
    val data = covering.filter(_.numRows > 0)
    if (data.isEmpty) return Some((spec.dataType, Nil))
    val oldNames = td.renamedColumns.collect { case (o, n) if n == c => o }.toSeq
    val root = tableRoot(db, table)
    val total = scala.collection.mutable.HashMap.empty[Option[String], Long]
    data.foreach { r =>
      val name = (c +: oldNames).find(r.dictCols.contains).getOrElse(return None)
      val dir = root.resolve(r.relDir).toAbsolutePath.normalize.toString
      val d = DictStats.load(dir, name).getOrElse(return None)
      if (d.typeTag != spec.dataType.catalogString) return None
      if (d.nulls > 0)
        total(None) = total.getOrElse(None, 0L) + d.nulls
      d.counts.foreach { case (v, n) =>
        total(Some(v)) = total.getOrElse(Some(v), 0L) + n
      }
      if (total.size > 100000) return None
    }
    if (total.values.sum != data.map(_.numRows).sum) return None
    Some((spec.dataType, total.toSeq))
  }

  /** Approximate distinct count of a declared column over the current
    * covering set — a driver-side UNION of the per-rowset NDV sketches
    * ([[NdvSketch]]), zero files opened, zero tasks. The ANALYZE statistic
    * that stays fresh by construction: every write ships its own sketch.
    * ~1.6% relative error at lgK=12 (the estimate is labeled, never sold
    * as exact).
    *
    * Guards (any miss ⇒ None — an unknown beats a wrong statistic):
    *  - Duplicate model on any column; Unique/Aggregate on KEY columns
    *    (raw key sets equal merged key sets; Unique additionally needs the
    *    tombstone-free proof — a deleted key would still count);
    *  - no delete markers in the covering set;
    *  - every data rowset carries a sketch for the column under its
    *    rename-era physical name.
    */
  def approxNdv(db: String, table: String, c: String): Option[Double] = {
    val td = catalog.getTable(db, table).getOrElse(return None)
    val m = manifest(db, table)
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    val covering = m.captureConsistentVersions(lo, m.maxVersion)
    if (covering.exists(_.isDeleteMarker)) return None
    val data = covering.filter(_.numRows > 0)
    if (data.isEmpty) return Some(0.0)
    val servable = td.schema.keysType match {
      case KeysType.Duplicate => true
      case KeysType.Unique =>
        td.schema.columns.find(_.name == c).exists(_.isKey) && noTombstones(data)
      case KeysType.Aggregate =>
        td.schema.columns.find(_.name == c).exists(_.isKey)
    }
    if (!servable) return None
    val oldNames = td.renamedColumns.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    val root = tableRoot(db, table)
    val sketches = data.map { r =>
      val name = (c +: oldNames.getOrElse(c, Nil)).find(r.ndvCols.contains)
        .getOrElse(return None)
      NdvSketch.load(root.resolve(r.relDir).toAbsolutePath.normalize.toString,
        name).getOrElse(return None)
    }
    NdvSketch.unionEstimate(sketches)
  }

  /** Exact per-column SUMs of a freshly written rowset dir, for the table's
    * declared [[graft.catalog.TableDef.sumStatsColumns]] — ONE delta-sized
    * Spark aggregate over THIS load only (all columns in a single job).
    * Sums accumulate in decimal(38,0) so the stored value is exact at any
    * magnitude; the serve side ([[sumFold]]) decides Long-range fit. An
    * all-null column stores "0" — its additive contribution — with null-ness
    * left to the zone map's nullCount. Never fails a load: an error
    * degrades to no-sums (the serve refuses, the scan answers).
    */
  private def harvestSums(db: String, table: String, outDir: Path,
      numRows: Long): Map[String, String] = {
    val td = catalog.getTable(db, table).getOrElse(return Map.empty)
    if (td.sumStatsColumns.isEmpty || numRows == 0) return Map.empty
    val df = try spark.read.parquet(outDir.toString)
      catch { case scala.util.control.NonFatal(_) => return Map.empty }
    val cols = td.sumStatsColumns.filter(df.columns.contains)
    if (cols.isEmpty) return Map.empty
    try {
      val aggs = cols.map(c => sum(col(c)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as(c))
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      cols.zipWithIndex.map { case (c, i) =>
        c -> (if (row.isNullAt(i)) "0"
          else row.getDecimal(i).toBigInteger.toString)
      }.toMap
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] WARN sum harvest failed for $outDir: $e")
        Map.empty
    }
  }

  /** Metadata SUM serve data for one declared column over the current
    * covering set: `Some((dataType, sum or None-if-all-null, nonNullCount))`
    * when provably exact, else None. The additive sibling of [[zoneFold]],
    * powering SUM/AVG in [[graft.plans.StatsAggRewrite]].
    *
    * Exactness argument: per-rowset sums are exact decimals
    * ([[harvestSums]]); their fold is exact big-integer addition; and when
    * the total fits in a signed 64-bit Long it EQUALS what Spark's
    * `sum(integral)` computes over the scan — under LEGACY eval Long
    * addition is associative modulo 2^64 (any accumulation order lands on
    * the same residue, and a residue whose true value is in Long range IS
    * that value), and under ANSI a non-overflowing total evaluates to the
    * same value (the one divergence: sign-mixed extremes whose running
    * partial overflows in some order make the ANSI scan throw
    * order-dependently — the serve returns the well-defined exact total
    * instead, which is what DuckDB/Doris compute). Guards
    * (any miss ⇒ None): Duplicate model (merge-on-read collapses rows — a
    * raw-sum would double-count); no delete markers; declared type
    * integral; every data rowset carries BOTH a sum and a zone map for the
    * column (under its rename-era physical name) with "i"-kind stats; the
    * big-integer total within Long range (beyond it Spark's own scan
    * answer is wrap-dependent — serve nothing, let the scan own it).
    */
  def sumFold(db: String, table: String, c: String)
      : Option[(org.apache.spark.sql.types.DataType, Option[Long], Long)] = {
    import org.apache.spark.sql.types._
    val td = catalog.getTable(db, table).getOrElse(return None)
    if (td.schema.keysType != KeysType.Duplicate) return None
    val dt = td.schema.columns.find(_.name == c).getOrElse(return None).dataType
    dt match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case _ => return None
    }
    val m = manifest(db, table)
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    val covering = m.captureConsistentVersions(lo, m.maxVersion)
    if (covering.exists(_.isDeleteMarker)) return None
    val data = covering.filter(_.numRows > 0)
    val oldNames = td.renamedColumns.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    def era[T](get: String => Option[T]): Option[T] =
      get(c).orElse(oldNames.getOrElse(c, Nil).flatMap(get(_)).headOption)
    val perSum = data.map(r => era(r.sums.get))
    val perStat = data.map(r => era(r.stats.get))
    if (perSum.exists(_.isEmpty) || perStat.exists(_.isEmpty)) return None
    if (perStat.flatten.exists(_.kind != "i")) return None
    val total = perSum.flatten.map(BigInt(_)).sum
    if (total < BigInt(Long.MinValue) || total > BigInt(Long.MaxValue)) return None
    val nonNull = data.map(_.numRows).sum - perStat.flatten.map(_.nullCount).sum
    Some((dt, if (nonNull == 0) None else Some(total.toLong), nonNull))
  }

  /** Metadata AVG serve for one declared integral column:
    * `Some(Some(avg))` / `Some(None)` (zero non-null rows ⇒ SQL NULL) when
    * provably bit-identical to the scanned aggregate, else None.
    *
    * Spark's `Average` over a non-decimal column accumulates partial sums
    * in DOUBLE, so serving from the exact integer sum is only legal when no
    * accumulation order can round: every partial sum's magnitude is bounded
    * by nonNull × maxAbs (maxAbs from the zone maps), and integer-valued
    * doubles up to 2^53 add exactly — so when that bound (and the count)
    * stays ≤ 2^53, Spark's double sum IS the exact sum, and both sides
    * reduce to the same single division.
    */
  def avgFold(db: String, table: String, c: String)
      : Option[(org.apache.spark.sql.types.DataType, Option[Double])] = {
    val (cdt, sumOpt, nonNull) = sumFold(db, table, c).getOrElse(return None)
    if (nonNull == 0) return Some((cdt, None))
    val exact = BigInt(1L) << 53
    if (BigInt(nonNull) > exact) return None
    // maxAbs over the covering set's zone maps (all-null rowsets bound 0)
    val td = catalog.getTable(db, table).getOrElse(return None)
    val m = manifest(db, table)
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    val data = m.captureConsistentVersions(lo, m.maxVersion).filter(_.numRows > 0)
    val oldNames = td.renamedColumns.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    val maxAbs = data.map { r =>
      r.stats.get(c).orElse(
        oldNames.getOrElse(c, Nil).flatMap(r.stats.get).headOption) match {
        case Some(s) if s.kind == "i" =>
          Seq(s.min, s.max).flatten.map(v => BigInt(v).abs)
            .maxOption.getOrElse(BigInt(0))
        case _ => return None
      }
    }.maxOption.getOrElse(BigInt(0))
    if (maxAbs * BigInt(nonNull) > exact) return None
    Some((cdt, Some(sumOpt.get.toDouble / nonNull.toDouble)))
  }

  /** Metadata-only MIN/MAX over `cols`: when every covering rowset carries a
    * usable zone map ([[StatsHarvest]]), the answer is a fold over manifest
    * entries — zero files opened, zero tasks — the metadata twin of
    * [[countStar]] and the read-side completion of the reference's
    * write-only zone maps (src/index/mod.rs:95-108). Returns
    * `(one-row DataFrame of min_<col>/max_<col>, servedFromMetadata)`.
    *
    * Serve guards (any miss ⇒ transparent fallback to the scanned
    * aggregate, which is always correct):
    *  - Duplicate model on any column; Unique model on KEY columns over a
    *    tombstone-free covering set (upserts collapse but never change a
    *    key column's value set — see [[zoneFold]]);
    *  - no delete markers in the covering set (a masked row may be the
    *    extreme);
    *  - every data rowset has stats for the column (under its era's
    *    physical name) whose kind matches the declared type's space;
    *  - string bounds shorter than 64 chars (a truncating parquet writer
    *    keeps bounds conservative — safe to PRUNE on, not to SERVE).
    */
  /** Folded zone map for one DECLARED column over the current covering set:
    * `Some((dataType, min, max, nonNullCount))` in canonical-string form
    * when metadata can serve it exactly, else None. The count is None when
    * merge-on-read makes row counts inexact (Unique — upserts collapse) even
    * though the bounds themselves are exact. Shared by [[minMaxStats]],
    * [[topKByStats]], and the transparent [[graft.plans.StatsAggRewrite]].
    * Guards (any miss ⇒ None): Duplicate model — or Unique restricted to
    * KEY columns with a provably tombstone-free covering set (merge-on-read
    * collapses upserts of a key but never changes a key column's value set,
    * and the op column's own zone map proves no key was deleted); no delete
    * markers in the covering set; every data rowset carries stats for the
    * column under its era's physical name; stats kind matches the declared
    * type's space (integral stats may serve a widened float/double column);
    * string bounds under 64 chars (a truncating writer keeps bounds
    * conservative — safe to prune on, not to serve).
    */
  def zoneFold(db: String, table: String, c: String)
      : Option[(org.apache.spark.sql.types.DataType, Option[String], Option[String], Option[Long])] = {
    import org.apache.spark.sql.types._
    val td = catalog.getTable(db, table).getOrElse(return None)
    val m = manifest(db, table)
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    val covering = m.captureConsistentVersions(lo, m.maxVersion)
    if (covering.exists(_.isDeleteMarker)) return None
    val data = covering.filter(_.numRows > 0)
    val servable = td.schema.keysType match {
      case KeysType.Duplicate => true
      case KeysType.Unique =>
        td.schema.columns.find(_.name == c).exists(_.isKey) && noTombstones(data)
      // Aggregate merges values per key but every raw key survives into the
      // merged output (and the model has no tombstones) — key bounds exact
      case KeysType.Aggregate =>
        td.schema.columns.find(_.name == c).exists(_.isKey)
    }
    if (!servable) return None
    val dt = td.schema.columns.find(_.name == c).getOrElse(return None).dataType
    val expectedKind = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType => "i"
      case FloatType | DoubleType => "f"
      case StringType => "s"
      case _ => return None
    }
    // declared name → this rowset's stats entry, reaching through rename eras
    val oldNames = td.renamedColumns.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    val perRowset = data.map(r => r.stats.get(c).orElse(
      oldNames.getOrElse(c, Nil).flatMap(r.stats.get).headOption))
    if (perRowset.exists(_.isEmpty)) return None
    val ss = perRowset.flatten
    if (ss.exists(s => s.kind != expectedKind &&
        !(expectedKind == "f" && s.kind == "i"))) return None
    if (expectedKind == "s" && ss.exists(s =>
        s.min.exists(_.length >= 64) || s.max.exists(_.length >= 64)))
      return None
    // compare in the DECLARED space: a widened int→double column may mix
    // "i"- and "f"-kind rowsets, and "i" canonical strings parse as doubles
    def fold(pickMin: Boolean): Option[String] = {
      val vals = ss.flatMap(s => if (pickMin) s.min else s.max)
      if (vals.isEmpty) None
      else Some(vals.reduce((a, b) =>
        if ((ColStats.compare(expectedKind, a, b) <= 0) == pickMin) a else b))
    }
    // exact only when nothing collapses at read time (Duplicate); Unique
    // bounds are exact but its raw counts double-count upserts
    val nonNull =
      if (td.schema.keysType == KeysType.Duplicate)
        Some(data.map(_.numRows).sum - ss.map(_.nullCount).sum)
      else None
    Some((dt, fold(pickMin = true), fold(pickMin = false), nonNull))
  }

  /** Provably no tombstoned key in any of these rowsets: the op column's own
    * zone map shows max == 0 everywhere (ingest/compaction always write the
    * column on Unique tables, so missing stats = unknown = refuse).
    */
  private def noTombstones(data: Seq[RowsetMeta]): Boolean =
    data.forall(_.stats.get(OpCol).exists(s => s.kind == "i" && s.max.contains("0")))

  def minMaxStats(db: String, table: String, cols: Seq[String]): (DataFrame, Boolean) = {
    import org.apache.spark.sql.types._
    require(catalog.getTable(db, table).isDefined, s"no table $db.$table")
    def fallback: (DataFrame, Boolean) =
      (scan(db, table).agg(
        cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
          .head, cols.flatMap(c =>
          Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))).tail: _*), false)

    val exprs = cols.map { c =>
      val (dt, mn, mx, _) = zoneFold(db, table, c).getOrElse(return fallback)
      def toLit(v: Option[String]): Column = v match {
        case None => lit(null).cast(dt)
        case Some(s) => dt match {
          case ByteType | ShortType | IntegerType | LongType =>
            lit(s.toLong).cast(dt)
          case DateType => lit(java.time.LocalDate.ofEpochDay(s.toLong))
          case TimestampType => lit(
            org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToInstant(s.toLong))
          case FloatType => lit(s.toDouble.toFloat)
          case DoubleType => lit(s.toDouble)
          case StringType => lit(s)
          case other => throw new IllegalStateException(s"unservable type $other")
        }
      }
      Seq(toLit(mn).as(s"min_$c"), toLit(mx).as(s"max_$c"))
    }
    (spark.range(1).select(exprs.flatten: _*), true)
  }

  /** Exact ORDER BY `c` LIMIT `k` with ZONE-MAP rowset selection — the
    * engine-native top-k the reference's sorted-write layout gestures at
    * (short-key ordered scan, src/index/mod.rs:6) lifted to the rowset
    * tier: instead of sorting the whole table, read only the rowsets whose
    * bounds can reach the answer. Two-phase and exact:
    *
    *  1. rank rowsets by their zone-map bound (max for desc, min for asc)
    *     and read the minimal prefix holding ≥ k rankable (non-null) rows;
    *  2. its k-th value L closes the candidate set — every other rowset
    *     whose bound can beat L joins — and the final top-k runs over the
    *     candidates only.
    *
    * On a year of daily loads this reads 1–2 rowsets instead of 365. Null
    * ordering is pinned NULLS LAST in both directions (so nulls never rank;
    * a table with fewer than k non-null values falls back to the full
    * scan). Serves Duplicate tables on any column, and Unique/Aggregate
    * tables on KEY columns (Unique additionally needs a tombstone-free
    * covering set); the subset read is then merged on read — see the
    * inline completeness argument. Fallback (full scan, always correct) on
    * anything else: non-key merge-model columns, tombstones, delete
    * markers, incomplete stats. Returns (top-k rows in declared columns,
    * rowsets read; -1 = fallback read everything).
    */
  def topKByStats(db: String, table: String, c: String, k: Int,
      desc: Boolean = true): (DataFrame, Int) = {
    import org.apache.spark.sql.types._
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val order = if (desc) col(c).desc_nulls_last else col(c).asc_nulls_last
    def fallback = (scan(db, table).orderBy(order).limit(k), -1)
    // Merge-on-read models serve too, restricted to KEY columns: upserts
    // (Unique) and partial aggregations (Aggregate) collapse at merge time
    // but never change a key column's value set, and any rowset holding a
    // row of a qualifying key has a zone-map bound at least that key — so
    // the candidate set is complete for every key that can rank (the same
    // argument zoneFold's scaladoc makes for merge-model MIN/MAX). Unique
    // additionally needs a provably tombstone-free covering set.
    val mergeModel = td.schema.keysType != KeysType.Duplicate
    if (mergeModel && !td.schema.columns.find(_.name == c).exists(_.isKey))
      return fallback
    val m = manifest(db, table)
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    val covering = m.captureConsistentVersions(lo, m.maxVersion)
    if (covering.exists(_.isDeleteMarker)) return fallback
    val data = covering.filter(_.numRows > 0)
    if (data.isEmpty) return (scan(db, table).orderBy(order).limit(k), 0)
    if (td.schema.keysType == KeysType.Unique && !noTombstones(data))
      return fallback
    val oldNames = td.renamedColumns.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    val withStats = data.map(r => r -> r.stats.get(c).orElse(
      oldNames.getOrElse(c, Nil).flatMap(r.stats.get).headOption))
    if (withStats.exists(_._2.isEmpty)) return fallback
    val ranked0 = withStats.map { case (r, s) => (r, s.get) }
    val kind = ranked0.head._2.kind
    if (ranked0.exists(_._2.kind != kind)) return fallback
    val dt = td.schema.columns.find(_.name == c).map(_.dataType).getOrElse(return fallback)
    val kindOk = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType => kind == "i"
      case FloatType | DoubleType => kind == "i" || kind == "f"
      case StringType => kind == "s"
      case _ => false
    }
    if (!kindOk) return fallback
    def bound(s: ColStats): Option[String] = if (desc) s.max else s.min
    def rankable(r: RowsetMeta, s: ColStats): Long = r.numRows - s.nullCount
    if (ranked0.map { case (r, s) => rankable(r, s) }.sum < k) return fallback

    val better: (String, String) => Boolean =
      if (desc) (a, b) => ColStats.compare(kind, a, b) > 0
      else (a, b) => ColStats.compare(kind, a, b) < 0
    val ranked = ranked0.sortWith { case ((_, a), (_, b)) =>
      (bound(a), bound(b)) match {
        case (Some(x), Some(y)) => better(x, y)
        case (Some(_), None) => true
        case _ => false
      }
    }
    val prefix0 = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(RowsetMeta, ColStats)]
      var acc = 0L
      ranked.iterator.takeWhile(_ => acc < k).foreach { rs =>
        buf += rs; acc += rankable(rs._1, rs._2)
      }
      buf.toSeq
    }
    // Merge models: raw counts double-count upserts/partials, so the
    // raw-count prefix may hold fewer than k MERGED rows — grow it until
    // the distinct count of `c` covers k (distinct raw key values ≡ merged
    // key values: key columns are immutable per key, and Unique coverings
    // are tombstone-free here). Typically zero or one extra step; each
    // probe is one distinct-count over the prefix only.
    val prefix =
      if (!mergeModel) prefix0
      else {
        def distinctN(n: Int): Long =
          rawFromRowsets(db, table, ranked.take(n).map(_._1))
            .select(col(c)).distinct().count()
        var n = prefix0.size
        var dn = distinctN(n)
        while (dn < k && n < ranked.size) { n += 1; dn = distinctN(n) }
        if (dn < k) return fallback // fewer than k keys exist: sort it all
        ranked.take(n)
      }
    // phase 1: the prefix's k-th value L (≥ k rankable rows by construction;
    // for Unique, the k-th DISTINCT value — a lower bound on the merged
    // k-th, so phase 2 can only over-include, never exclude a true answer)
    val phase1 = rawFromRowsets(db, table, prefix.map(_._1))
      .transform(projectDeclared(td))
      .filter(col(c).isNotNull).select(col(c))
    val kth = (if (mergeModel) phase1.distinct() else phase1)
      .orderBy(order).limit(k)
      .agg((if (desc) min(col(c)) else max(col(c))).as("l")).head
    if (kth.isNullAt(0)) return fallback
    val lCanon: String = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        kth.getAs[Number](0).longValue.toString
      case DateType => kth.getAs[java.sql.Date](0).toLocalDate.toEpochDay.toString
      case TimestampType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .instantToMicros(kth.getAs[java.sql.Timestamp](0).toInstant).toString
      case FloatType | DoubleType => kth.getAs[Number](0).doubleValue.toString
      case StringType => kth.getString(0)
      case _ => return fallback
    }
    // phase 2: anything whose bound can reach L competes (ties included).
    // Compare in the DECLARED space: a widened int→double column has
    // "i"-kind bounds but a double-rendered L ("123.0" breaks toLong);
    // "i" canonical strings parse as doubles, so "f" covers both.
    val cmpKind = dt match {
      case FloatType | DoubleType => "f"
      case _ => kind
    }
    val canBeat: String => Boolean =
      if (desc) b => ColStats.compare(cmpKind, b, lCanon) >= 0
      else b => ColStats.compare(cmpKind, b, lCanon) <= 0
    val prefixIds = prefix.map(_._1.rowsetId).toSet
    val candidates = ranked.filter { case (r, s) =>
      prefixIds.contains(r.rowsetId) || bound(s).exists(canBeat)
    }
    val rawOut = rawFromRowsets(db, table, candidates.map(_._1))
    // Unique: merge-on-read over the candidate subset is complete for every
    // key ≥ L (all of a qualifying key's rowsets are candidates — bound
    // argument above), and ≥ k such keys exist in the prefix, so keys below
    // L (whose subset-merge could be stale) can never reach the top k
    val out =
      if (mergeModel) MergeView(td, rawOut, VersionCol, SeqCol).orderBy(order).limit(k)
      else rawOut.transform(projectDeclared(td)).orderBy(order).limit(k)
    (out, candidates.size)
  }

  /** EXPLAIN PRUNE: the per-rowset decision the transparent scan-prune rule
    * would make for `scan(db,table).filter(cond)` — one row per covering
    * data rowset with `decision` ∈ scanned | zone-map | bloom | ngram. The
    * plan is optimized with the rule EXCLUDED so the pruned branches still
    * exist to be inspected with their Catalyst-normalized per-branch
    * conditions (exactly what the enabled rule sees). The exclusion is
    * session-scoped: a query racing an explain on the SAME session merely
    * loses pruning for that one plan — never correctness — and other
    * sessions keep the rule. Operator tool: answers "why does this point
    * lookup read N rowsets" without tracing the optimizer.
    */
  def explainPrune(db: String, table: String, cond: Column): DataFrame = {
    val m = manifest(db, table)
    val covering = m.captureConsistentVersions(
      m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L), m.maxVersion)
    val root = tableRoot(db, table)
    val byDir = covering.filter(r => !r.isDeleteMarker && r.numRows > 0)
      .map(r => root.resolve(r.relDir).toAbsolutePath.normalize.toString -> r).toMap
    val decided = graft.GraftExtensions.withoutRules(spark, graft.plans.ScanPruneRewrite) {
      graft.plans.ScanPruneRewrite.explain(
        scan(db, table).filter(cond).queryExecution.optimizedPlan)
    }.toMap
    val rows = byDir.toSeq.map { case (dir, r) =>
      (r.rowsetId, r.version.start, r.version.end, r.numRows,
        decided.get(dir).flatten.getOrElse("scanned"))
    }.sortBy(_._1)
    import spark.implicits._
    rows.toDF("rowset_id", "version_start", "version_end", "num_rows", "decision")
  }

  /** Per-column zone-map introspection (`SHOW STATS FOR db.t`): one row per
    * declared column with the covering set's folded min/max/null-count and
    * how many of its rowsets carry stats for it — the operator's view of
    * what [[minMaxStats]] and the rowset prune can serve.
    */
  def describeStats(db: String, table: String): DataFrame = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val m = manifest(db, table)
    val data = m.visibleRowsets.filter(r => !r.isDeleteMarker && r.numRows > 0)
    val oldNames = td.renamedColumns.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    val rows = td.schema.columns.map { cs =>
      val entries = data.flatMap(r => r.stats.get(cs.name).orElse(
        oldNames.getOrElse(cs.name, Nil).flatMap(r.stats.get).headOption))
      // a widened int→double column mixes "i" and "f" rowsets; "i" strings
      // parse as doubles, so fold mixed kinds in the "f" space
      val foldKind = entries.map(_.kind).distinct match {
        case Seq(k) => k
        case ks if ks.forall(k => k == "i" || k == "f") => "f"
        case _ => "s"
      }
      val mn = entries.flatMap(_.min).reduceOption((a, b) =>
        if (ColStats.compare(foldKind, a, b) <= 0) a else b)
      val mx = entries.flatMap(_.max).reduceOption((a, b) =>
        if (ColStats.compare(foldKind, a, b) >= 0) a else b)
      // folded exact sum (sum_stats_columns): shown only when EVERY data
      // rowset carries it AND the fold is honest — Duplicate model with no
      // delete markers (merge-on-read would double-count upserted keys, a
      // marker masks rows already inside the per-rowset sums); the same
      // guards sumFold serves under
      val sums = data.flatMap(r => r.sums.get(cs.name).orElse(
        oldNames.getOrElse(cs.name, Nil).flatMap(r.sums.get).headOption))
      val sumServable = td.schema.keysType == KeysType.Duplicate &&
        !m.visibleRowsets.exists(_.isDeleteMarker)
      val sumStr =
        if (sumServable && data.nonEmpty && sums.size == data.size)
          sums.map(BigInt(_)).sum.toString
        else null
      val ndvCover = data.count(r =>
        (cs.name +: oldNames.getOrElse(cs.name, Nil)).exists(r.ndvCols.contains))
      (cs.name, mn.orNull, mx.orNull,
        entries.map(_.nullCount).sum, entries.size.toLong, data.size.toLong,
        data.count(_.bloomCols.contains(cs.name)).toLong,
        sumStr, sums.size.toLong,
        approxNdv(db, table, cs.name).map(java.lang.Double.valueOf).orNull,
        ndvCover.toLong)
    }
    import spark.implicits._
    rows.toDF("column", "min", "max", "null_count", "rowsets_with_stats",
      "data_rowsets", "bloom_rowsets", "sum", "sum_rowsets", "ndv",
      "ndv_rowsets")
  }

  /** Metadata-only per-partition row counts over the current covering set —
    * the partition-grain sibling of [[countStar]], folded from the
    * [[graft.manifest.RowsetMeta.partRows]] each footer harvest recorded.
    * `Some(partitionName -> rows)` only when provably exact: Duplicate
    * model (merge-on-read collapses rows elsewhere), no delete markers (a
    * mask hides an unknown count), every data rowset carries a partition
    * attribution covering ALL its rows. None ⇒ the caller scans (or shows
    * unknown). Powers SHOW PARTITIONS row counts: at 100 TB "how big is
    * each day" becomes a manifest fold, zero tasks.
    */
  def partitionRowCounts(db: String, table: String): Option[Map[String, Long]] = {
    val td = catalog.getTable(db, table).getOrElse(return None)
    if (td.schema.keysType != KeysType.Duplicate) return None
    val m = manifest(db, table)
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    val covering = m.captureConsistentVersions(lo, m.maxVersion)
    if (covering.exists(_.isDeleteMarker)) return None
    val data = covering.filter(_.numRows > 0)
    // every row must be attributed, or the fold under-counts silently
    if (data.exists(r => r.partRows.values.sum != r.numRows)) return None
    Some(data.flatMap(_.partRows.toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _))
  }

  /** Route one key pair to its (partition, bucket) — the reference's
    * `tablet_for_row` (src/table.rs:32-41).
    */
  def routeRow(db: String, table: String, partitionKey: String, bucketKey: String): (String, Int) =
    catalog.getTable(db, table).get.route(partitionKey, bucketKey)

  // --- compaction ------------------------------------------------------------

  /** Compaction score = visible rowset count (reference: src/tablet.rs:147-152). */
  def compactionScore(db: String, table: String): Double =
    manifest(db, table).compactionScore

  /** Typed overload mirroring the reference signature
    * `compute_compaction_score(CompactionType)` — the reference scores Base
    * and Cumulative identically (ctype is accepted and ignored,
    * src/tablet.rs:147-152); we reproduce that contract and keep the tiers
    * distinct at EXECUTION time instead ([[compact]] vs [[compactCumulative]]).
    */
  def compactionScore(db: String, table: String, ctype: CompactionType): Double =
    compactionScore(db, table)

  /** Top-N candidates by score across registered tables
    * (reference: src/tablet.rs:223-236 + src/storage.rs:92-99, batch of 10).
    */
  def scheduleCompaction(topN: Int = 10): Seq[(String, Double)] =
    manifests.keys.toSeq.sorted
      .map(k => k -> manifests(k).compactionScore)
      .sortBy(-_._2)
      .take(topN)

  /** Execute the schedule: compact every top-N candidate whose score clears
    * `minScore` (score = visible rowset count, so the default 2 means "has
    * fragments to merge" — a single-rowset table never rewrites). This is
    * the ONE maintenance entry point the index fixtures call after folds
    * (cluster_reps, ivf_assign, inv_postings, the LM count tables): the
    * same C1-C3 scoring loop a production engine owner schedules, rather
    * than per-module ad-hoc compact calls. Serve cost of a fold-maintained
    * table is dominated by how many rowset fragments merge-on-read unions
    * (measured on the text index: 3.4 s → 0.8 s at factor 100), so this
    * loop — not the serve code — is what keeps probes flat as folds pile
    * up. Answer-neutral by compaction's contract (spec-pinned per index).
    * Returns the compacted `db.table` keys.
    */
  def runScheduledCompaction(minScore: Double = 2.0, topN: Int = 10): Seq[String] = {
    // group hygiene rides the same maintenance tick: heal committed stages,
    // retire fully-activated ledger ids, reap abandoned (post-grace) stages
    sweepGroups()
    val compacted = scheduleCompaction(topN)
      .filter { case (k, score) =>
        score >= minScore &&
          manifests(k).visibleRowsets.exists(!_.isDeleteMarker)
      }
      .map { case (k, _) =>
        val Array(db, table) = k.split("\\.", 2)
        compact(db, table)
        k
      }
    // materializations ride the same tick: any rollup/MV lagging its base
    // re-serves from the next query on (transparent rewrites refuse stale
    // reads, so the lag only ever cost the speedup)
    refreshMaterialized(): Unit
    compacted
  }

  /** Refresh every registered rollup and join-MV whose stored version lags
    * its base table's manifest — the maintenance half of Doris's
    * always-synchronous rollups. Our transparent rewrites already refuse to
    * serve a stale materialization (correctness never depended on this);
    * what lags is the SPEEDUP: after a load, every matching aggregate falls
    * back to the base scan until someone refreshes. Riding this sweep on
    * the same scheduled tick as compaction closes that window without
    * taxing the ingest path. Incremental where the delta is clean (cost =
    * one delta aggregation + a rollup-sized merge — see
    * [[RollupManager.refreshIncremental]]), full rebuild where it is not.
    * Returns the refreshed `db.t/name` keys.
    */
  def refreshMaterialized(): Seq[String] = {
    val tables = catalog.listDatabases.flatMap(db =>
      catalog.listTables(db).map(t => (db, t)))
    // per-entry isolation: one failing refresh must not abort the tick or
    // starve the remaining materializations — degrade with a WARN, exactly
    // like every write-side harvest (stats/blooms/sums/ndv)
    def tryRefresh(key: String)(body: => Unit): Option[String] =
      try { body; Some(key) }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] WARN materialization refresh failed for $key: $e")
          None
      }
    val ru = tables.flatMap { case (db, t) =>
      rollups.list(db, t).collect {
        case (rd, v) if v != manifest(db, t).maxVersion =>
          tryRefresh(s"$db.$t/${rd.name}")(
            rollups.refreshIncremental(db, t, rd.name))
      }.flatten
    }
    val mu = tables.flatMap { case (db, t) =>
      mvs.list(db, t).collect {
        case (d, fv, dv) if fv != manifest(d.factDb, d.factTable).maxVersion ||
            dv != manifest(d.dimDb, d.dimTable).maxVersion =>
          tryRefresh(s"$db.$t/${d.name}")(
            mvs.refreshIncremental(db, t, d.name))
      }.flatten
    }
    ru ++ mu
  }

  /** TIERED maintenance tick — the reference's declared Base/Cumulative
    * split (src/common.rs:62-63, scored-but-never-executed) turned into the
    * POLICY a 100 TB owner actually needs: a routine tick must cost
    * O(new data), not O(table), so the scheduler only rewrites the base
    * when delete debt demands it. Per top-N candidate (ranked by the C1
    * score, group hygiene riding the tick like [[runScheduledCompaction]]):
    *
    *  - DELETE DEBT — visible delete-predicate markers, or a Unique table
    *    whose op-column zone maps cannot prove tombstone-freedom — → FULL
    *    [[compact]]: only base compaction makes deletes physical;
    *  - else a fragmented BASE tier (more than one rowset at or below the
    *    largest rowset's version span) → FULL compact once, consolidating
    *    early-life fragments into a single base;
    *  - else a DELTA tier of ≥ `minDelta` rowsets above the base →
    *    [[compactCumulative]] of the delta ONLY — the base is never read,
    *    never rewritten, and the tick's cost tracks delta volume;
    *  - else healthy (one base + at most one merged delta): no action —
    *    the steady state a daily-load table converges to, where each tick
    *    folds the day's loads and the base rests.
    *
    * Answer-neutral by both tiers' contracts. Returns the executed
    * (db.table, "full" | "cumulative") pairs.
    */
  def runTieredCompaction(minDelta: Int = 2, topN: Int = 10): Seq[(String, String)] = {
    sweepGroups()
    val out = scheduleCompaction(topN).flatMap { case (k, _) =>
      val Array(db, table) = k.split("\\.", 2)
      val m = manifests(k)
      val vis = m.visibleRowsets
      val data = vis.filter(r => !r.isDeleteMarker && r.numRows > 0)
      catalog.getTable(db, table) match {
        case None => None
        case Some(_) if !vis.exists(!_.isDeleteMarker) => None
        case Some(td) =>
          val deleteDebt = vis.exists(_.isDeleteMarker) ||
            (td.schema.keysType == KeysType.Unique &&
              data.nonEmpty && !noTombstones(data))
          val base = vis.filter(!_.isDeleteMarker).maxBy(_.numRows)
          val delta = vis.filter(_.version.start > base.version.end)
          val baseTier = vis.size - delta.size
          if (deleteDebt && vis.size >= 2) {
            compact(db, table); Some(k -> "full")
          } else if (!deleteDebt && baseTier > 1) {
            compact(db, table); Some(k -> "full")
          } else if (!deleteDebt && delta.size >= minDelta &&
              !m.hasVersionHoles(base.version.end + 1, m.maxVersion)) {
            compactCumulative(db, table, base.version.end + 1)
            Some(k -> "cumulative")
          } else None
      }
    }
    refreshMaterialized(): Unit
    out
  }

  /** Merge all visible rowsets into one (filling the reference's declared-but-
    * absent C4 merge, SURVEY.md §2.6): read covering set → apply the key-model
    * merge → write a single replacement rowset spanning the full version
    * range → mark inputs stale. At scale each (partition, bucket) dir merges
    * independently inside the one Spark job — no cross-bucket shuffle for
    * Duplicate tables, and key-hash shuffle bounded per bucket otherwise.
    */
  def compact(db: String, table: String): RowsetMeta = {
    val td = catalog.getTable(db, table).get
    val m = manifest(db, table)
    val inputs = m.visibleRowsets
    require(inputs.exists(!_.isDeleteMarker), s"nothing to compact in $db.$table")
    val lo = inputs.map(_.version.start).min
    val hi = inputs.map(_.version.end).max
    val merged = snapshot(db, table, lo, hi)
    val rowsetId = m.nextRowsetId
    val relDir = s"r$rowsetId"
    val outDir = tableRoot(db, table).resolve(relDir)

    var out = merged
      .withColumn(PartCol, partitionNameCol(td))
      .withColumn(BucketCol, bucketIdxCol(td))
    if (td.schema.keysType != KeysType.Duplicate)
      out = out.withColumn(SeqCol, monotonically_increasing_id())
    // merge-on-read already dropped tombstoned keys; the survivors are plain
    // upserts — compaction is where deletes become physical
    if (td.schema.keysType == KeysType.Unique)
      out = out.withColumn(OpCol, lit(0))
    out.repartition(col(PartCol), col(BucketCol))
      .sortWithinPartitions(Seq(PartCol, BucketCol).map(col) ++ clusterCols(td): _*)
      .write.mode("errorifexists").partitionBy(PartCol, BucketCol)
      .parquet(outDir.toString)

    // all-rows-tombstoned compactions legitimately produce zero rows;
    // the footer harvest yields (0, empty) for the file-less dir — publish
    // the empty replacement (version continuity) instead of dying
    val (numRows, colStats, partRows) = harvestStats(outDir)
    val blooms = buildBlooms(db, table, outDir, numRows)
    val ngrams = buildNgramBlooms(db, table, outDir, numRows)
    val sums = harvestSums(db, table, outDir, numRows)
    val ndvs = buildNdvSketches(db, table, outDir, numRows)
    val dicts = buildDictStats(db, table, outDir, numRows)
    m.markStaleAll(inputs.map(_.rowsetId))
    val meta = RowsetMeta(rowsetId, Version(lo, hi), relDir, numRows,
      createdMs = System.currentTimeMillis(), stats = colStats,
      bloomCols = blooms, sums = sums, ngramCols = ngrams,
      // the merge grouped by key: merge-model outputs hold one record/key
      keyUnique = td.schema.keysType != KeysType.Duplicate,
      ndvCols = ndvs, partRows = partRows, dictCols = dicts)
    m.publish(meta)
    // the rewrite ran under the current schema: dropped columns are now
    // physically gone from every live rowset, so their names free up
    if (td.droppedColumns.nonEmpty)
      catalog.alterTable(catalog.getTable(db, table).get.copy(droppedColumns = Nil))
    autoGc(db, table)
    meta
  }

  /** RE-BUCKETING — the Doris schema-change job this engine's ALTER surface
    * was missing: re-distribute a table into a new hash-bucket count (and
    * optionally a new bucket column) as ONE full merged rewrite, exactly
    * [[compact]]'s shape with the NEW layout's routing. The bucket count
    * chosen at CREATE is the one physical dial that data growth invalidates
    * (a 4-bucket table at 100 TB has 25 TB buckets — no parallelism, no
    * useful pruning); without an online rebucket the only cure is a manual
    * copy-table migration.
    *
    * MVCC semantics match compaction: the rewrite publishes one rowset
    * covering the full version range, inputs retire to Stale (time travel
    * inside retention still reads the OLD layout — correctly unpruned, see
    * below), merge-on-read tombstones become physical. Ordering within the
    * swap: catalog update FIRST, then the manifest swap — a reader in the
    * window resolves the old covering set under the new routing, which is
    * exactly the case the prune rule's layout floor
    * ([[graft.catalog.TableDef.bucketLayoutFloor]]) makes safe: relations
    * reading any pre-rebucket rowset are never pruned (unpruned is always
    * correct), and the first post-publish reader prunes
    * with the new layout. Future ingests route with the new layout from the
    * catalog.
    */
  def rebucket(db: String, table: String, newBuckets: Int,
               newBucketColumn: Option[String] = None): RowsetMeta = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    require(newBuckets >= 1, s"need at least 1 bucket, got $newBuckets")
    require(td.bucketType == BucketType.Hash,
      s"rebucket is defined for hash-bucketed tables; ${td.qualified} is ${td.bucketType}")
    val bcol = newBucketColumn.orElse(td.bucketColumn).getOrElse(
      throw new IllegalArgumentException(s"${td.qualified} has no bucket column"))
    require(td.schema.columns.exists(_.name == bcol),
      s"bucket column $bcol is not a column of ${td.qualified}")
    if (td.schema.keysType != KeysType.Duplicate)
      require(td.schema.keyNames.contains(bcol),
        s"${td.schema.keysType.name} tables must bucket on a key column; $bcol is not")
    val m = manifest(db, table)
    val inputs = m.visibleRowsets
    require(inputs.exists(!_.isDeleteMarker), s"nothing to rebucket in $db.$table")
    val lo = inputs.map(_.version.start).min
    val hi = inputs.map(_.version.end).max
    val merged = snapshot(db, table, lo, hi)
    val rowsetId = m.nextRowsetId
    val newTd = td.copy(bucketColumn = Some(bcol), numBuckets = newBuckets,
      partitions = td.partitions.map(_.copy(numBuckets = newBuckets)),
      // the layout floor persists with the catalog, so a RESTARTED engine
      // keeps the prune rule's old-rowsets-never-pruned guard
      bucketLayoutFloor = rowsetId)
    val relDir = s"r$rowsetId"
    val outDir = tableRoot(db, table).resolve(relDir)
    var out = merged
      .withColumn(PartCol, partitionNameCol(newTd))
      .withColumn(BucketCol, bucketIdxCol(newTd))
    if (td.schema.keysType != KeysType.Duplicate)
      out = out.withColumn(SeqCol, monotonically_increasing_id())
    if (td.schema.keysType == KeysType.Unique)
      out = out.withColumn(OpCol, lit(0))
    out.repartition(col(PartCol), col(BucketCol))
      .sortWithinPartitions(Seq(PartCol, BucketCol).map(col) ++ clusterCols(newTd): _*)
      .write.mode("errorifexists").partitionBy(PartCol, BucketCol)
      .parquet(outDir.toString)
    val (numRows, colStats, partRows) = harvestStats(outDir)
    val blooms = buildBlooms(db, table, outDir, numRows)
    val ngrams = buildNgramBlooms(db, table, outDir, numRows)
    val sums = harvestSums(db, table, outDir, numRows)
    val ndvs = buildNdvSketches(db, table, outDir, numRows)
    val dicts = buildDictStats(db, table, outDir, numRows)
    // routing swap before the manifest swap (see scaladoc ordering argument)
    catalog.alterTable(newTd)
    m.markStaleAll(inputs.map(_.rowsetId))
    val meta = RowsetMeta(rowsetId, Version(lo, hi), relDir, numRows,
      createdMs = System.currentTimeMillis(), stats = colStats,
      bloomCols = blooms, sums = sums, ngramCols = ngrams,
      // the merge grouped by key: merge-model outputs hold one record/key
      keyUnique = td.schema.keysType != KeysType.Duplicate,
      ndvCols = ndvs, partRows = partRows, dictCols = dicts)
    m.publish(meta)
    autoGc(db, table)
    meta
  }

  /** Cumulative compaction (the reference declares the Base/Cumulative split
    * and a `cumulative_layer_point` but implements neither —
    * src/common.rs:62-63, src/meta.rs:137-138): merge ONLY the delta rowsets
    * at or above `layerPoint` into one, leaving the base rowset(s) untouched.
    * This is the cheap, frequent compaction tier: it never rewrites the big
    * base, so its cost tracks delta volume, not table size — at 100 TB the
    * difference between compacting gigabytes and compacting everything.
    *
    * Correctness hinges on tombstone RETENTION: a delete marker in the delta
    * range must survive (the base below the layer point still holds the row),
    * so the merge keeps each key's winning op instead of dropping dead keys —
    * only full [[compact]] makes deletes physical. Sum/Min/Max partials
    * compose associatively, so an Aggregate-model suffix merge is exact.
    */
  def compactCumulative(db: String, table: String, layerPoint: Long): RowsetMeta = {
    val td = catalog.getTable(db, table).get
    val m = manifest(db, table)
    val suffix = m.visibleRowsets.filter(_.version.start >= layerPoint)
    require(suffix.size >= 2,
      s"cumulative compaction needs >=2 rowsets at or above version $layerPoint")
    // A delete marker in the delta tier masks rows BELOW the layer point; a
    // suffix merge would retire the marker while the base rows it masks
    // survive. Doris keeps delete predicates until base compaction — so do
    // we: pick a layer point above the newest delete, or run full compact.
    require(suffix.forall(!_.isDeleteMarker),
      s"delete predicates at or above version $layerPoint must be compacted " +
        "by full compaction (they mask rows below the layer point)")
    val lo = suffix.map(_.version.start).min
    val hi = suffix.map(_.version.end).max
    // the merged rowset will claim [lo,hi]; refuse to fabricate coverage
    // over a version hole in the delta tier
    require(!m.hasVersionHoles(lo, hi),
      s"delta tier [$lo,$hi] of ${td.qualified} has version holes; cannot merge")
    val root = tableRoot(db, table)
    // zero-row rowsets hold their version range but have no files to read
    val scannable = suffix.filter(_.numRows > 0)
    val raw =
      if (scannable.isEmpty) {
        val st = td.schema.toStructType.add(VersionCol, "long").add(SeqCol, "long")
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
      } else backfillSchema(db, table, scannable.map { r =>
        spark.read.parquet(root.resolve(r.relDir).toString)
          .withColumn(VersionCol, lit(r.version.end))
      }.reduce(_.unionByName(_, allowMissingColumns = true)))
    val merged = td.schema.keysType match {
      case KeysType.Duplicate =>
        raw.transform(projectDeclared(td))
      case _ => MergeView.compacting(td, raw, VersionCol, SeqCol)
    }

    val rowsetId = m.nextRowsetId
    val relDir = s"r$rowsetId"
    val outDir = root.resolve(relDir)
    var out = merged
      .withColumn(PartCol, partitionNameCol(td))
      .withColumn(BucketCol, bucketIdxCol(td))
    if (td.schema.keysType != KeysType.Duplicate)
      out = out.withColumn(SeqCol, monotonically_increasing_id())
    if (td.schema.keysType == KeysType.Unique && !out.columns.contains(OpCol))
      out = out.withColumn(OpCol, lit(0))
    out.repartition(col(PartCol), col(BucketCol))
      .sortWithinPartitions(Seq(PartCol, BucketCol).map(col) ++ clusterCols(td): _*)
      .write.mode("errorifexists").partitionBy(PartCol, BucketCol)
      .parquet(outDir.toString)

    // all-rows-tombstoned compactions legitimately produce zero rows;
    // the footer harvest yields (0, empty) for the file-less dir — publish
    // the empty replacement (version continuity) instead of dying
    val (numRows, colStats, partRows) = harvestStats(outDir)
    val blooms = buildBlooms(db, table, outDir, numRows)
    val ngrams = buildNgramBlooms(db, table, outDir, numRows)
    val sums = harvestSums(db, table, outDir, numRows)
    val ndvs = buildNdvSketches(db, table, outDir, numRows)
    val dicts = buildDictStats(db, table, outDir, numRows)
    m.markStaleAll(suffix.map(_.rowsetId))
    val meta = RowsetMeta(rowsetId, Version(lo, hi), relDir, numRows,
      createdMs = System.currentTimeMillis(), stats = colStats,
      bloomCols = blooms, sums = sums, ngramCols = ngrams,
      // the merge grouped by key: merge-model outputs hold one record/key
      keyUnique = td.schema.keysType != KeysType.Duplicate,
      ndvCols = ndvs, partRows = partRows, dictCols = dicts)
    m.publish(meta)
    autoGc(db, table)
    meta
  }

  /** Physically delete stale rowsets the table's retention policy allows
    * (deferred GC, reference V6 prep src/tablet.rs:155-165 — improved: the
    * reference defers physical delete forever). `nowMs` is injectable so
    * specs can step the clock past a window deterministically.
    *  - Manual: delete all stale (pre-policy semantics).
    *  - Forever: delete nothing.
    *  - KeepMs(t): delete stale retired more than `t` ms before `nowMs`.
    *  - KeepVersions(n): delete stale whose version range fell out of the
    *    last `n` published versions.
    */
  def gc(db: String, table: String,
         nowMs: Long = System.currentTimeMillis()): Seq[Long] = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val m = manifest(db, table)
    // a rowset borrowed by a live shallow clone is never deletable here,
    // whatever the retention policy says — the clone reads those files
    val unborrowed: RowsetMeta => Boolean = {
      val pinned = cloneProtectedIds(db, table)
      r => !pinned.contains(r.rowsetId)
    }
    td.retention match {
      case Retention.Manual          => m.gc(unborrowed)
      case Retention.Forever         => Nil
      case Retention.KeepMs(t)       =>
        m.gc(r => unborrowed(r) && r.staleMs.exists(_ <= nowMs - t))
      case Retention.KeepVersions(n) =>
        val floor = m.maxVersion - n + 1
        m.gc(r => unborrowed(r) && r.version.end < floor)
    }
  }

  /** Automated retention policies enforce themselves wherever rowsets get
    * retired — the operator never has to remember to call gc().
    */
  private def autoGc(db: String, table: String): Unit =
    catalog.getTable(db, table).foreach { td =>
      if (td.retention.automated) gc(db, table): Unit
    }

  // --- restore to version ----------------------------------------------------

  /** RESTORE TABLE TO VERSION (Delta `RESTORE`, Doris has nothing —
    * operator rollback after a bad load is the missing half of MVCC): make
    * the snapshot at version `v` the new head, METADATA-ONLY. No data
    * moves: every rowset newer than `v` (loads, delete markers, compaction
    * outputs) is retired to Stale, and an EMPTY rowset bridges
    * `(v, maxVersion+1]` so the head version still resolves a covering
    * path. A restore is an event in the version history, not an erasure —
    * the pre-restore head stays wall-clock time-travelable
    * ([[snapshotAsOf]]) until retention lets GC drop it, exactly like a
    * compaction's inputs. Publish-the-bridge-then-retire ordering makes
    * the operation crash-safe: after the bridge lands, BOTH covering paths
    * resolve the restored content at head; the retire step then removes
    * the dead branch in one manifest rewrite.
    *
    * Scope note (differs from Delta): restore governs the DATA version
    * history; catalog state (schema evolution, partition ladder) keeps its
    * current definition — a dropped partition stays dropped.
    */
  def restoreToVersion(db: String, table: String, v: Long): Unit = {
    val m = manifest(db, table)
    val head = m.maxVersion
    require(v < head, s"restore target $v is not before the head $head")
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    m.captureConsistentVersions(lo, v) // fails loudly if v is not coverable
    val rid = m.nextRowsetId
    m.publish(RowsetMeta(rid, Version(v + 1, head + 1), relDir = s"d$rid",
      numRows = 0L, createdMs = System.currentTimeMillis()))
    m.markStaleAll(
      m.visibleRowsets.filter(r => r.version.start > v && r.rowsetId != rid)
        .map(_.rowsetId))
    autoGc(db, table)
  }

  // --- shallow clone ---------------------------------------------------------

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE`, Iceberg
    * snapshot-ref semantics): a new table whose manifest REFERENCES the
    * source's rowset files instead of copying them — the zero-copy sibling
    * of [[backup]]/[[restore]]. Metadata-only and O(rowsets) regardless of
    * table size: at 100 TB a clone of a PB-scale table is one manifest
    * write, which is what makes dev snapshots, experiment branches, and
    * audit pins viable at all.
    *
    * Mechanics: borrowed entries carry the source rowset dir as an
    * ABSOLUTE path ([[TableManifest]] resolves relative entries against
    * the table root and absolute ones as-is), keeping their version
    * ranges, delete markers and timestamps — so MVCC reads, time travel
    * and key-model merge-on-read behave in the clone exactly as in the
    * source at clone time. Both tables then diverge freely: new loads land
    * under each table's own root with fresh rowset ids.
    *
    * Safety contract (spec-pinned, `CloneSpec`):
    *  - the source's [[gc]] consults the clone registry (`_clones.json`
    *    under the source root) and never physically deletes a rowset a
    *    LIVE clone borrows — so compacting the source cannot break clones
    *    (registry entries of dropped clones are pruned on the next gc);
    *  - the clone's own gc drops borrowed entries from its manifest but
    *    never deletes their files ([[TableManifest.gc]] treats an absolute
    *    relDir as not-owned), so a compacted clone releases, not destroys,
    *    its references.
    *
    * `upToVersion` clones the snapshot as of that version instead of the
    * head — the time-travel clone (`VERSION AS OF`).
    */
  def cloneTable(srcDb: String, srcTable: String,
                 dstDb: String, dstTable: String,
                 upToVersion: Option[Long] = None): TableDef = {
    val td = catalog.getTable(srcDb, srcTable).getOrElse(
      throw new NoSuchElementException(s"no table $srcDb.$srcTable"))
    val m = manifest(srcDb, srcTable)
    val rowsets = upToVersion match {
      case Some(v) =>
        val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
        m.captureConsistentVersions(lo, v)
      case None => m.visibleRowsets
    }
    val cloneTd = td.copy(db = dstDb, name = dstTable)
    createTable(cloneTd)
    val srcRoot = tableRoot(srcDb, srcTable)
    manifest(dstDb, dstTable).publishAll(rowsets.map { r =>
      // markers and empty loads own no files; their relDir is never read
      if (r.isDeleteMarker || r.numRows == 0) r
      else r.copy(relDir =
        srcRoot.resolve(r.relDir).toAbsolutePath.normalize.toString)
    })
    registerClone(srcDb, srcTable, dstDb, dstTable, rowsets.map(_.rowsetId))
    cloneTd
  }

  /** The source-side clone registry: which of this table's rowset ids are
    * borrowed by which clone. Stored beside the manifest; consulted (and
    * pruned of dropped clones) by [[gc]].
    */
  private def clonesPath(db: String, table: String): Path =
    tableRoot(db, table).resolve("_clones.json")

  /** Registered shallow clones OF `db.table`: (clone db, clone table,
    * borrowed rowset ids) — the SHOW CLONES introspection surface, read
    * from the source-side clone registry GC consults.
    */
  def clonesOf(db: String, table: String): Seq[(String, String, Seq[Long])] =
    readClones(db, table)

  private def readClones(db: String, table: String): Seq[(String, String, Seq[Long])] = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val p = clonesPath(db, table)
    if (!Files.exists(p)) Nil
    else org.json4s.jackson.JsonMethods.parse(Files.readString(p))
      .extract[List[JValue]].map { j =>
        ((j \ "db").extract[String], (j \ "table").extract[String],
          (j \ "rowsetIds").extract[List[Long]].toSeq)
      }
  }

  private def writeClones(db: String, table: String,
                          entries: Seq[(String, String, Seq[Long])]): Unit = {
    import org.json4s._
    val doc = JArray(entries.toList.map { case (cdb, ctbl, ids) =>
      JObject("db" -> JString(cdb), "table" -> JString(ctbl),
        "rowsetIds" -> JArray(ids.toList.map(JLong(_): JValue)))
    })
    val tmp = clonesPath(db, table)
      .resolveSibling(s"_clones.json.tmp${Thread.currentThread().getId}")
    Files.writeString(tmp, org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(doc)))
    Files.move(tmp, clonesPath(db, table),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def registerClone(srcDb: String, srcTable: String,
                            dstDb: String, dstTable: String,
                            ids: Seq[Long]): Unit = synchronized {
    writeClones(srcDb, srcTable,
      readClones(srcDb, srcTable) :+ ((dstDb, dstTable, ids)))
  }

  /** Rowset ids a LIVE clone still borrows — never physically deletable
    * here. Entries whose clone table no longer exists are pruned (a clone
    * that compacted away its borrowed entries keeps them protected until
    * it is dropped: conservative, metadata-sized).
    */
  private def cloneProtectedIds(db: String, table: String): Set[Long] =
    synchronized {
      val all = readClones(db, table)
      val live = all.filter { case (cdb, ctbl, _) =>
        catalog.getTable(cdb, ctbl).isDefined
      }
      if (live.size != all.size) writeClones(db, table, live)
      live.flatMap(_._3).toSet
    }

  // --- backup / restore ------------------------------------------------------

  private def copyDir(from: Path, to: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(from).iterator().asScala.foreach { p =>
      val dest = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else { Files.createDirectories(dest.getParent); Files.copy(p, dest) }
    }
  }

  /** BACKUP (Doris `BACKUP SNAPSHOT`): copy the CURRENT covering rowset
    * set — files plus manifest entries (including delete-predicate markers
    * and version ranges) — into `destDir`. The backup is a consistent
    * snapshot because rowsets are immutable: once the covering set is
    * pinned, concurrent loads publish NEW rowsets and touch nothing copied.
    * Metadata volume is O(rowsets); data volume is the table.
    */
  def backup(db: String, table: String, destDir: Path): Seq[Long] = {
    val m = manifest(db, table)
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    val covering = m.captureConsistentVersions(lo, m.maxVersion)
    Files.createDirectories(destDir)
    val out = new TableManifest(destDir)
    covering.foreach { r =>
      if (!r.isDeleteMarker)
        copyDir(tableRoot(db, table).resolve(r.relDir), destDir.resolve(r.relDir))
      out.publish(r)
    }
    covering.map(_.rowsetId)
  }

  /** RESTORE (Doris `RESTORE SNAPSHOT`): load a [[backup]] into an existing
    * EMPTY table of the same schema — rowset files are copied back and every
    * manifest entry (versions, delete predicates, timestamps) republishes,
    * so MVCC snapshot reads and time travel behave exactly as at backup
    * time. Restoring over existing data is refused (version ranges would
    * collide).
    */
  def restore(db: String, table: String, srcDir: Path): Seq[Long] = {
    val td = catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    val m = manifest(db, table)
    require(m.visibleRowsets.isEmpty,
      s"restore target ${td.qualified} must be empty")
    val src = new TableManifest(srcDir)
    val lo = src.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    val entries = src.captureConsistentVersions(lo, src.maxVersion)
    entries.foreach { r =>
      if (!r.isDeleteMarker)
        copyDir(srcDir.resolve(r.relDir), tableRoot(db, table).resolve(r.relDir))
      m.publish(r)
    }
    entries.map(_.rowsetId)
  }
}

object OlapEngine {
  /** A colocate join runs at EXACTLY bucket-count parallelism (that is the
    * deal: zero shuffle, bucket-local tasks). When the colocation group was
    * bucketed far below the cluster's slot count, most of the cluster idles
    * — and nothing in the plan looks wrong. Warn when buckets < slots/4 so
    * the trade is enforced rather than remembered; the fix is re-bucketing
    * the group at CREATE TABLE time (bucket count is a write-layout
    * property, not a query-time knob) or joining through `scan` to let the
    * shuffle join use every slot.
    */
  def colocateParallelismWarning(numBuckets: Int, clusterSlots: Int,
                                 what: String): Option[String] =
    if (numBuckets < clusterSlots / 4)
      Some(s"colocate join $what runs $numBuckets-way (its bucket count) on " +
        s"a $clusterSlots-slot cluster; re-bucket the colocation group to " +
        s">= ${clusterSlots / 4} buckets or use a shuffle join via scan()")
    else None
}

/** Compaction tier (reference `CompactionType`, src/common.rs:62-63): Base
  * rewrites everything ([[OlapEngine.compact]]), Cumulative merges only the
  * delta tier above the layer point ([[OlapEngine.compactCumulative]]).
  */
sealed trait CompactionType
object CompactionType {
  case object Base extends CompactionType
  case object Cumulative extends CompactionType
}

/** Key-model merge-on-read views (SURVEY.md §1.4; reference declares the
  * semantics in src/common.rs:36-57 but ships no merge execution).
  *
  * Determinism contract: "latest version wins" uses (version, seq) where
  * `seq` is the persisted per-rowset load-order id — ties inside one load are
  * resolved by load order, documented here because the reference leaves it
  * undefined (src/common.rs:40-41).
  *
  * Scale: both Unique and Aggregate merge compile to a single hash aggregate
  * with map-side partial aggregation (one shuffle on the key columns) —
  * deliberately `groupBy().agg(max_by/sum/min/max)` rather than a window
  * (`row_number over partitionBy`), which would sort every partition and
  * cannot partial-aggregate map-side.
  */
object MergeView {
  /** Query-time merge: tombstoned keys are dropped. */
  def apply(td: TableDef, raw: DataFrame, versionCol: String, seqCol: String): DataFrame =
    merged(td, raw, versionCol, seqCol, dropTombstones = true)

  /** Cumulative-compaction merge: identical key resolution, but each key's
    * winning op SURVIVES in `__graft_op` (a delete marker must keep masking
    * base rows below the layer point — see
    * [[graft.engine.OlapEngine.compactCumulative]]).
    */
  def compacting(td: TableDef, raw: DataFrame, versionCol: String, seqCol: String): DataFrame =
    merged(td, raw, versionCol, seqCol, dropTombstones = false)

  private val OpCol = "__graft_op"

  private def merged(td: TableDef, raw: DataFrame, versionCol: String,
                     seqCol: String, dropTombstones: Boolean): DataFrame = {
    val schema = td.schema
    val keys = schema.keyNames.map(col)
    // with a declared sequence column the DATA decides "latest" (Doris
    // sequence_col: out-of-order arrivals resolve by value, not load order);
    // (version, seq) stays as the deterministic tiebreak
    val ord = td.sequenceColumn match {
      case Some(sc) => struct(col(sc), col(versionCol), col(seqCol))
      case None => struct(col(versionCol), col(seqCol))
    }
    // project to the DECLARED schema, casting only where the physical type
    // differs (rowsets older than a widening modifyColumnType) — unchanged
    // columns stay bare attributes so rewrite-rule plan matching holds
    def outCols(df: DataFrame, extra: Seq[Column] = Nil): Seq[Column] =
      schema.columns.map { c =>
        if (df.schema(c.name).dataType == c.dataType) col(c.name)
        else col(c.name).cast(c.dataType).as(c.name)
      } ++ extra
    val hasOp = raw.columns.contains(OpCol)
    def finish(g: DataFrame): DataFrame =
      if (!hasOp) g.select(outCols(g): _*)
      else if (dropTombstones) g.filter(col(OpCol) === 0).select(outCols(g): _*)
      else g.select(outCols(g, Seq(col(OpCol))): _*)
    schema.keysType match {
      case KeysType.Duplicate =>
        raw.select(outCols(raw): _*)
      case KeysType.Unique if td.partialUpdate =>
        // Column-level latest-wins: each value column resolves independently
        // to the newest record that actually SET it (NULL = "not set", per the
        // TableDef.partialUpdate contract). Gating the max_by ordering on
        // column presence makes the aggregate skip non-setting records —
        // still one hash aggregate, one shuffle on the keys. Tombstones keep
        // row-level semantics (latest op wins); pre-delete column values
        // remain visible to a later partial update of the same key, so pair
        // deletes with full (not partial) re-inserts.
        val perCol = schema.valueNames.map(n =>
          max_by(col(n), when(col(n).isNotNull, ord)).as(n))
        val opAgg = if (hasOp) Seq(max_by(col(OpCol), ord).as(OpCol)) else Nil
        val aggCols = perCol ++ opAgg
        finish(raw.groupBy(keys: _*).agg(aggCols.head, aggCols.tail: _*))
      case KeysType.Unique =>
        // latest (version, seq) wins per key: single hash-agg via max_by.
        // The op flag rides inside the payload so the delete decision is made
        // by the SAME winner that supplies the values — a tombstone only
        // deletes if nothing newer re-inserted the key.
        val payloadNames = schema.valueNames ++ (if (hasOp) Seq(OpCol) else Nil)
        val payload = struct(payloadNames.map(col): _*)
        val winners = raw.groupBy(keys: _*)
          .agg(max_by(payload, ord).as("__graft_payload"))
          .select(schema.keyNames.map(col) ++
            payloadNames.map(n => col(s"__graft_payload.$n").as(n)): _*)
        finish(winners)
      case KeysType.Aggregate =>
        val aggs = schema.valueColumns.map { c =>
          val fn = c.agg match {
            case AggType.Sum => sum(col(c.name))
            case AggType.Min => min(col(c.name))
            case AggType.Max => max(col(c.name))
            // None on a value column of an Aggregate table behaves as Replace.
            case AggType.Replace | AggType.None => max_by(col(c.name), ord)
            // latest NON-NULL wins: gating the ordering on presence makes
            // max_by skip records that did not set the column (same agg
            // shape as the partialUpdate merge — still one hash aggregate)
            case AggType.ReplaceIfNotNull =>
              max_by(col(c.name), when(col(c.name).isNotNull, ord))
            // stored per-rowset sketches union associatively
            case AggType.HllUnion => expr(s"hll_union_agg(${c.name})")
          }
          fn.as(c.name)
        }
        val g = raw.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
        g.select(outCols(g): _*)
    }
  }
}
