package graft.catalog

import scala.collection.concurrent.TrieMap
import graft.model.TableSchema

/** FNV-1a 64-bit hash, the reference's bucket-routing hash
  * (reference: src/partition.rs:30-38). Kept byte-compatible so routing is
  * reproducible; the distributed form is [[graft.functions.FnvHash64]].
  */
object Fnv {
  val Offset: Long = 0xcbf29ce484222325L
  val Prime: Long = 0x100000001b3L
  def hash64(bytes: Array[Byte]): Long = {
    var h = Offset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= Prime
      i += 1
    }
    h
  }
  def hash64(s: String): Long = hash64(s.getBytes("UTF-8"))
}

/** Bucketing policy (reference: src/partition.rs:8-17). */
sealed trait BucketType {
  /** bucket index in [0, numBuckets) for a key string
    * (reference: src/partition.rs:28-47).
    */
  def bucketForKey(key: String, numBuckets: Int): Int
}
object BucketType {
  /** FNV-1a(key) mod n (reference: src/partition.rs:30-38). */
  case object Hash extends BucketType {
    def bucketForKey(key: String, numBuckets: Int): Int =
      // Rust `u64 % n` is unsigned; Long.remainderUnsigned matches it exactly.
      java.lang.Long.remainderUnsigned(Fnv.hash64(key), numBuckets.toLong).toInt
  }
  /** Reference uses subsecond-nanos (src/partition.rs:39-45); we keep it
    * deterministic per-row at query time via a round-robin on a caller seed.
    */
  case object Random extends BucketType {
    def bucketForKey(key: String, numBuckets: Int): Int =
      math.floorMod(key.hashCode, numBuckets)
  }
}

/** A range partition's exclusive string upper bound
  * (reference: src/partition.rs:113-118). Keys compare as strings — correct
  * for ISO dates, validated for other shapes by the caller.
  */
final case class RangeBound(upperExclusive: String)
object RangeBound {
  /** Max-value sentinel (reference: src/partition.rs:110). */
  val MaxValue: String = "￿" * 64
}

/** One declared partition: name + policy payload + bucket count. */
final case class PartitionSpec(
    name: String,
    upperExclusive: Option[String] = None,  // Range
    listValues: Seq[String] = Nil,          // List
    numBuckets: Int = 1)

/** Partition policy (reference: src/partition.rs:122-127). */
sealed trait PartitionPolicy {
  /** Resolve the partition owning `key` (reference: src/partition.rs:172-189). */
  def findPartition(specs: Seq[PartitionSpec], key: String): Option[PartitionSpec]
}
object PartitionPolicy {
  /** First partition (in bound order) with key < upper bound
    * (reference: src/partition.rs:180-184).
    */
  case object Range extends PartitionPolicy {
    def findPartition(specs: Seq[PartitionSpec], key: String): Option[PartitionSpec] =
      specs.sortBy(_.upperExclusive.getOrElse(RangeBound.MaxValue))
        .find(s => key < s.upperExclusive.getOrElse(RangeBound.MaxValue))
  }
  /** Exact value match (reference: src/partition.rs:176-178). */
  case object List extends PartitionPolicy {
    def findPartition(specs: Seq[PartitionSpec], key: String): Option[PartitionSpec] =
      specs.find(_.listValues.contains(key))
  }
  case object Unpartitioned extends PartitionPolicy {
    def findPartition(specs: Seq[PartitionSpec], key: String): Option[PartitionSpec] =
      specs.headOption
  }
}

/** Stale-rowset retention policy: how long superseded rowsets (retired by
  * compaction / DELETE) stay on disk serving wall-clock time travel before
  * GC may physically delete them. The reference marks rowsets stale but
  * defers physical delete FOREVER (src/tablet.rs:155-165) — at 100 TB that
  * is an unbounded-disk bug an operator has to remember to fix by hand;
  * a declared window makes the trade explicit and self-enforcing (automated
  * policies GC opportunistically after each compaction/delete).
  */
sealed trait Retention {
  /** Automated policies enforce themselves after every compaction/delete;
    * Manual/Forever only act when the operator calls gc().
    */
  def automated: Boolean = false
}
object Retention {
  /** Current-behavior default: gc() on demand deletes ALL stale rowsets
    * (no time-travel guarantee once called).
    */
  case object Manual extends Retention
  /** Never physically delete — the reference's (bug-shaped) behavior,
    * available where an external vacuum owns deletion.
    */
  case object Forever extends Retention
  /** Keep retired rowsets for `ms` wall-clock milliseconds past retirement;
    * time travel inside the window is guaranteed, beyond it fails loudly.
    */
  final case class KeepMs(ms: Long) extends Retention {
    require(ms >= 0, s"retention window must be >= 0 ms, got $ms")
    override def automated: Boolean = true
  }
  /** Keep retired rowsets still inside the last `n` published versions;
    * older history is GC-eligible.
    */
  final case class KeepVersions(n: Int) extends Retention {
    require(n >= 1, s"retention must keep >= 1 version, got $n")
    override def automated: Boolean = true
  }

  /** The property-bag spelling (`manual|forever|keep_versions:N|keep_ms:N`)
    * — shared by CREATE TABLE properties and ALTER TABLE SET.
    */
  def fromString(s: String): Retention = s.toLowerCase match {
    case "manual"  => Manual
    case "forever" => Forever
    case kv if kv.startsWith("keep_versions:") =>
      KeepVersions(kv.stripPrefix("keep_versions:").toInt)
    case km if km.startsWith("keep_ms:") =>
      KeepMs(km.stripPrefix("keep_ms:").toLong)
    case other => throw new IllegalArgumentException(
      s"unknown retention '$other' (manual|forever|keep_versions:N|keep_ms:N)")
  }
}

/** Dynamic-partition unit (Doris `dynamic_partition`): a Range table with
  * this set EXTENDS ITSELF at ingest — loads whose partition key lands past
  * the highest declared bound create the covering per-unit partitions
  * instead of failing unroutable. At 100 TB with daily loads this is the
  * difference between self-serve ingest and paging an operator to run
  * ADD PARTITION before midnight.
  */
sealed trait AutoPartitionUnit
object AutoPartitionUnit {
  case object Day extends AutoPartitionUnit
  case object Month extends AutoPartitionUnit
}

/** What ingest does with a string value longer than its column's declared
  * `ColumnSpec.maxLength` (characters). The reference stores the length
  * (src/meta.rs:20-21) but never checks it — `Ignore` is that parity
  * default; the other two are Doris's `strict_mode` load dial, which the
  * parity behavior is wrong to omit (a declared bound that silently doesn't
  * bind corrupts downstream size assumptions).
  */
sealed trait VarcharMode
object VarcharMode {
  /** Reference parity: the declared length is metadata only. */
  case object Ignore extends VarcharMode
  /** Non-strict load: over-length values are truncated to the bound. */
  case object Truncate extends VarcharMode
  /** Strict load: an over-length value fails the WHOLE load loudly (inside
    * the write projection — per-row, codegen'd, no extra pass; the manifest
    * never publishes, so a failed load is invisible, not partial).
    */
  case object Strict extends VarcharMode
}

/** Full table definition: schema + placement
  * (reference: src/table.rs:11-16 + src/partition.rs:71-79).
  *
  * `partialUpdate` (Unique model only): loads may carry a SUBSET of the value
  * columns, and merge-on-read resolves each value column independently to the
  * latest version that actually set it (the StarRocks/Doris partial-update
  * load mode — column-level rather than row-level latest-wins). Contract: in
  * a partial-update table NULL means "not set" — a load cannot set a column
  * to NULL, it can only leave it alone.
  */
/** Types the rowset bloom index supports: anything [[graft.manifest
  * .RowsetBloom]] can hash identically on both the build side (xxhash64 over
  * the column) and the probe side (XxHash64 of a pushed-down literal).
  */
object RowsetBloomTypes {
  import org.apache.spark.sql.types._
  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | FloatType | DoubleType | StringType => true
    case _ => false
  }
}

final case class TableDef(
    db: String,
    name: String,
    schema: TableSchema,
    policy: PartitionPolicy = PartitionPolicy.Unpartitioned,
    partitionColumn: Option[String] = None,
    partitions: Seq[PartitionSpec] = Seq(PartitionSpec("p0")),
    bucketType: BucketType = BucketType.Hash,
    bucketColumn: Option[String] = None,
    numBuckets: Int = 1,
    // reference src/storage.rs:10-15,53: create_table_with_partitions(...,
    // replication) records a per-tablet replication_factor. Carried here as
    // declared metadata ONLY — in the Spark world physical redundancy is
    // owned by the storage layer under the warehouse path (HDFS replication
    // / S3 durability), and the reference itself stores but never acts on
    // the field either. Kept so a reference user's table declarations
    // round-trip losslessly.
    replication: Int = 1,
    // stale-rowset retention window for wall-clock time travel (see
    // [[Retention]]); Manual preserves the pre-policy gc() semantics
    retention: Retention = Retention.Manual,
    // over-length varchar handling at ingest (see [[VarcharMode]]);
    // Ignore preserves reference parity
    varcharMode: VarcharMode = VarcharMode.Ignore,
    // Range-table self-extension at ingest (see [[AutoPartitionUnit]]);
    // None preserves the loud-unroutable default
    autoPartition: Option[AutoPartitionUnit] = None,
    // the expiry side of the dynamic-partition lifecycle (Doris
    // dynamic_partition.start): after each load, only the newest N declared
    // partitions stay live — older ones are dropped through dropPartition,
    // i.e. as delete-predicate VERSIONS (time-travel safe inside retention),
    // never silent file deletion. Requires autoPartition.
    autoExpireKeep: Option[Int] = None,
    partialUpdate: Boolean = false,
    // Doris sequence column (Unique model): "latest wins" is decided by THIS
    // data column first (then load order as the tiebreak), so out-of-order
    // arrivals — a CDC feed replayed, a late partition — resolve to the
    // record with the highest sequence value, not the one that happened to
    // load last
    sequenceColumn: Option[String] = None,
    zorderColumns: Option[(String, String)] = None,
    // names retired by dropColumn whose data may still exist physically in
    // old rowsets; cleared by full compaction (guards addColumn re-use —
    // the reference family solves the same aliasing with column unique ids)
    droppedColumns: Seq[String] = Nil,
    // partitions retired by dropPartition: reads mask their rows (compaction
    // makes the drop physical) and their key ranges/values stay UNROUTABLE —
    // a load into a dropped partition fails loudly instead of silently
    // widening the neighboring range (Doris DROP PARTITION = metadata now,
    // async delete later)
    droppedPartitions: Seq[PartitionSpec] = Nil,
    // Late-data policy for EXPIRED ranges (the q188/q192 lifecycle): default
    // false = a load carrying a key in a dropped partition's range fails the
    // WHOLE load loudly (no partial publish — the posture that makes expiry
    // visible to the producer). Opt-in true = such rows are QUARANTINED into
    // a companion dead-letter table (`<name>__dead_letter`, Duplicate,
    // unpartitioned) in the same load, and the main load publishes the
    // routable rows; quarantined rows are NOT served by scans of the main
    // table — an operator inspects/reprocesses them via
    // OlapEngine.deadLetterScan. This is the DLQ posture, deliberately NOT
    // a catch-all partition: a catch-all would feed late rows back into
    // query results that partition pruning has already promised exclude the
    // expired range.
    expiredToDeadLetter: Boolean = false,
    // physical-name history from renameColumn: OLD physical column name →
    // CURRENT declared name. The read path renames each rowset's frame
    // before the union, so files written under any former name serve under
    // the current one; new loads write the current name. The map is tiny
    // (bounded by schema churn) and deliberately NOT cleared by compaction:
    // stale pre-rename rowsets stay wall-clock time-travelable inside
    // retention, and they need the mapping for as long as they serve.
    renamedColumns: Map[String, String] = Map.empty,
    // first rowset id written under the CURRENT bucket layout (0 = the
    // create-time layout, never rebucketted). Set by OlapEngine.rebucket and
    // persisted with the catalog, so a restarted engine re-arms the bucket
    // prune rule with the same safety floor: rowsets BELOW the floor were
    // written under an older layout and must never be pruned by the new
    // routing (unpruned is always correct; a new-count route against
    // old-layout dirs would silently drop rows).
    bucketLayoutFloor: Long = 0L,
    // columns carrying a rowset-level BLOOM skipping index
    // ([[graft.manifest.RowsetBloom]]): each data write also builds one
    // bloom sidecar per listed column, and equality/IN point lookups prune
    // rowsets whose bloom excludes the key — the high-cardinality complement
    // of the zone maps (Doris's bloom_filter_columns table property)
    bloomColumns: Seq[String] = Nil,
    // integral columns carrying exact per-rowset SUM stats: each data write
    // also runs one delta-sized aggregate over its OWN rows and stores the
    // exact (decimal) sum in the manifest, so a group-less SUM/AVG over the
    // full snapshot answers from metadata alone (OlapEngine.sumFold +
    // plans.StatsAggRewrite) — the additive sibling of the zone-map
    // MIN/MAX/COUNT serves. Integral-only by design: float sums are
    // order-dependent, so a metadata fold could differ from a scan in the
    // last ulp — never provably exact
    sumStatsColumns: Seq[String] = Nil,
    // string columns carrying a rowset-level character-TRIGRAM bloom index
    // (Doris's NGRAM_BF index, lifted to the rowset tier): each data write
    // hashes every 3-gram of every value into a [[graft.manifest
    // .RowsetBloom]] sidecar, and substring predicates — LIKE '%needle%'
    // (Contains), prefix/suffix/equality — prune rowsets where ANY of the
    // needle's 3-grams is absent. The full-text complement of bloomColumns:
    // equality blooms can never answer "does any value CONTAIN x"
    ngramBloomColumns: Seq[String] = Nil,
    // Unique-model MERGE-ON-WRITE (Doris enable_unique_key_merge_on_write):
    // each load pre-merges ITS OWN rows per key before writing (one extra
    // key shuffle at write time), so every rowset holds at most one record
    // per key. Combined with the manifest's leading-key zone maps, the read
    // path can then PROVE key-disjointness across the covering set and
    // serve scans with NO merge aggregate at all — pay at write, skip the
    // per-query shuffle at read (see OlapEngine's unmerged-serve guards).
    // Incompatible with partialUpdate: partial loads resolve column-wise
    // ACROSS loads, which no within-load merge can express.
    mergeOnWrite: Boolean = false,
    // integral/string/float columns carrying per-rowset NDV sketches
    // (DataSketches HLL, the same family Spark's hll_sketch_agg uses):
    // each data write runs one delta-sized sketch aggregate over its OWN
    // rows and stores a ~4 KB sidecar per column; sketches union across the
    // covering set, so table-level approximate distinct counts
    // (OlapEngine.approxNdv, SHOW STATS ndv) cost a driver-side fold —
    // ANALYZE-grade statistics that stay fresh with every load instead of
    // going stale between ANALYZE runs
    ndvStatsColumns: Seq[String] = Nil,
    // LOW-CARDINALITY columns carrying a per-rowset VALUE HISTOGRAM sidecar
    // ([[graft.manifest.DictStats]]): each data write runs one delta-sized
    // exact groupBy-count over its OWN rows and stores the (value → count)
    // map (refused past 1024 distinct values — absent, never truncated), so
    // a plain `GROUP BY c, count(*)` over the full snapshot answers from a
    // driver-side fold with ZERO files read (OlapEngine.groupCounts +
    // StatsAggRewrite's grouped path). The grouped completion of the
    // metadata-serve family beside zone maps (MIN/MAX), sum stats
    // (SUM/AVG), and row counts (COUNT). String/integral/date/boolean only:
    // the sidecar stores values in Spark's string form, which must be
    // injective to reconstruct groups exactly.
    dictStatsColumns: Seq[String] = Nil,
    // GENERATED columns (Doris `col TYPE AS (expr)`): declared columns whose
    // value is a pure function of the OTHER columns, computed by the engine
    // at every write — ingest drops any supplied value and recomputes (the
    // definition is the truth; derived state is engine-owned, so an UPDATE
    // to a source column automatically refreshes it, and a stale or forged
    // value can never be loaded). The expression may reference only
    // non-generated declared columns and must be deterministic (validated
    // at createTable by analyzing it against the declared schema). Fills
    // happen BEFORE routing, so a generated column works as the partition
    // or bucket key — derive the day from a timestamp and partition on it.
    // Incompatible with partialUpdate (omitted source columns would
    // recompute from "not set" NULLs and silently overwrite).
    generatedColumns: Map[String, String] = Map.empty,
    // AUTO_INCREMENT column (Doris `BIGINT ... AUTO_INCREMENT`): rows that
    // arrive with the column NULL (or absent) get unique increasing ids
    // allocated from a per-table counter persisted in the manifest —
    // reservation-before-use, so restarts and crashed loads can burn a
    // block but never re-issue an id. Rows that SUPPLY a value keep it
    // (the Doris partial-specify contract; uniqueness of supplied values
    // is the caller's business, as in Doris). BIGINT only; incompatible
    // with partialUpdate (an omitted column there means "not set", which
    // a fill would destroy) and with the sequence column (its ordering
    // role would silently change merge results).
    autoIncrementColumn: Option[String] = None,
    // column DEFAULT values (literal string form, cast to the declared type
    // at read): ADD COLUMN ... DEFAULT backfills rows of rowsets written
    // BEFORE the column existed at READ time — metadata-only schema
    // evolution, like renameColumn; no data rewrite. Loads that omit a
    // defaulted column also fill it at ingest (the Doris DEFAULT-on-load
    // contract); full compaction materializes the fill. An explicit NULL in
    // a newer rowset stays NULL — the default applies only where the
    // column physically does not exist.
    columnDefaults: Map[String, String] = Map.empty) {
  require(replication >= 1, s"replication must be >= 1; $db.$name declared $replication")
  require(bloomColumns.forall(c => schema.columns.exists(_.name == c)),
    s"bloom_filter_columns names unknown columns on $db.$name: " +
      bloomColumns.filterNot(c => schema.columns.exists(_.name == c)).mkString(", "))
  require(bloomColumns.forall(c => schema.columns.find(_.name == c).forall(s =>
    RowsetBloomTypes.supported(s.dataType))),
    s"bloom_filter_columns must be integral/float/string/date/timestamp on $db.$name")
  require(sumStatsColumns.forall(c => schema.columns.exists(_.name == c)),
    s"sum_stats_columns names unknown columns on $db.$name: " +
      sumStatsColumns.filterNot(c => schema.columns.exists(_.name == c)).mkString(", "))
  require(sumStatsColumns.forall(c => schema.columns.find(_.name == c).forall(s =>
    s.dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    })),
    s"sum_stats_columns must be integral (exactness contract) on $db.$name")
  require(ngramBloomColumns.forall(c => schema.columns.find(_.name == c).forall(
      _.dataType == org.apache.spark.sql.types.StringType)),
    s"ngram_bf_columns must be string columns on $db.$name")
  require(ngramBloomColumns.forall(c => schema.columns.exists(_.name == c)),
    s"ngram_bf_columns names unknown columns on $db.$name: " +
      ngramBloomColumns.filterNot(c => schema.columns.exists(_.name == c)).mkString(", "))
  require(!mergeOnWrite || schema.keysType == graft.model.KeysType.Unique,
    s"enable_unique_key_merge_on_write is only defined for Unique tables; " +
      s"$db.$name is ${schema.keysType.name}")
  require(!(mergeOnWrite && partialUpdate),
    s"merge-on-write and partial_update are incompatible on $db.$name: " +
      "partial loads resolve column-wise across loads")
  require(ndvStatsColumns.forall(c => schema.columns.exists(_.name == c)),
    s"ndv_stats_columns names unknown columns on $db.$name: " +
      ndvStatsColumns.filterNot(c => schema.columns.exists(_.name == c)).mkString(", "))
  require(dictStatsColumns.forall(c => schema.columns.exists(_.name == c)),
    s"dict_stats_columns names unknown columns on $db.$name: " +
      dictStatsColumns.filterNot(c => schema.columns.exists(_.name == c)).mkString(", "))
  require(dictStatsColumns.forall(c => schema.columns.find(_.name == c).forall(s =>
    s.dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.BooleanType => true
      case _ => false
    })),
    s"dict_stats_columns must be string/integral/date/boolean on $db.$name " +
      "(the histogram's string form must reconstruct values exactly)")
  require(bucketType != BucketType.Hash || numBuckets == 1 ||
      bucketColumn.isDefined,
    s"$db.$name declares $numBuckets hash buckets with no bucket column — " +
      "DISTRIBUTED BY HASH needs a key, or use RANDOM / a single bucket")
  require(dictStatsColumns.isEmpty ||
      schema.keysType == graft.model.KeysType.Duplicate,
    s"dict_stats_columns is only defined for Duplicate tables; $db.$name is " +
      s"${schema.keysType.name} — merge models collapse raw rows, so raw " +
      "per-value counts can never serve")
  require(generatedColumns.keySet.forall(c => schema.columns.exists(_.name == c)),
    s"generated columns name unknown columns on $db.$name: " +
      generatedColumns.keySet.filterNot(c => schema.columns.exists(_.name == c))
        .mkString(", "))
  require(!(generatedColumns.nonEmpty && partialUpdate),
    s"generated columns and partial_update cannot combine on $db.$name: " +
      "partial loads' omitted source columns would recompute from NULL")
  require(generatedColumns.keySet.forall(c => !sequenceColumn.contains(c)),
    s"the sequence column cannot be generated on $db.$name")
  require(generatedColumns.keySet.forall(c => !autoIncrementColumn.contains(c)),
    s"an AUTO_INCREMENT column cannot also be generated on $db.$name")
  require(generatedColumns.keySet.forall(c => !columnDefaults.contains(c)),
    s"a generated column cannot carry a DEFAULT on $db.$name " +
      "(the expression always computes it)")
  autoIncrementColumn.foreach { c =>
    val spec = schema.columns.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"auto-increment column $c is not declared on $db.$name"))
    require(spec.dataType == org.apache.spark.sql.types.LongType,
      s"auto-increment column $c on $db.$name must be BIGINT; " +
        s"got ${spec.dataType.simpleString}")
    require(!partialUpdate,
      s"auto-increment and partial_update cannot combine on $db.$name: " +
        "a partial load's omitted column means \"not set\", which an " +
        "id fill would destroy")
    require(!sequenceColumn.contains(c),
      s"auto-increment column $c on $db.$name is also the sequence " +
        "column — filling it would silently reorder merge resolution")
  }
  require(columnDefaults.keySet.forall(c => schema.columns.exists(_.name == c)),
    s"column defaults name unknown columns on $db.$name: " +
      columnDefaults.keySet.filterNot(c => schema.columns.exists(_.name == c)).mkString(", "))
  require(autoExpireKeep.forall(_ >= 1),
    s"autoExpireKeep must keep >= 1 partition; $db.$name declared $autoExpireKeep")
  require(autoExpireKeep.isEmpty || autoPartition.isDefined,
    s"autoExpireKeep needs autoPartition on $db.$name (it is the expiry half " +
      "of the dynamic-partition lifecycle)")
  require(!expiredToDeadLetter || partitionColumn.isDefined,
    s"expiredToDeadLetter quarantines late rows of EXPIRED partitions; " +
      s"$db.$name declares no partition column")
  require(!partialUpdate || schema.keysType == graft.model.KeysType.Unique,
    s"partialUpdate is only defined for Unique tables; $db.$name is ${schema.keysType.name}")
  sequenceColumn.foreach { sc =>
    require(schema.keysType == graft.model.KeysType.Unique,
      s"sequenceColumn is only defined for Unique tables; $db.$name is ${schema.keysType.name}")
    require(schema.valueNames.contains(sc),
      s"sequenceColumn $sc must be a declared value column of $db.$name")
    require(!partialUpdate,
      s"sequenceColumn and partialUpdate cannot combine on $db.$name " +
        "(column-level resolution has no single record to take the sequence from)")
  }
  zorderColumns.foreach { case (x, y) =>
    val names = schema.columns.map(_.name)
    require(names.contains(x) && names.contains(y),
      s"zorderColumns ($x, $y) must be declared columns of $db.$name")
  }
  def qualified: String = s"$db.$name"

  /** Route a row's (partitionKey, bucketKey) to (partitionName, bucketIdx)
    * (reference: src/table.rs:32-41 end-to-end routing).
    */
  def route(partitionKey: String, bucketKey: String): (String, Int) = {
    val p = policy.findPartition(partitions, partitionKey).getOrElse(
      throw new NoSuchElementException(s"no partition for key '$partitionKey' in $qualified"))
    (p.name, bucketType.bucketForKey(bucketKey, bucketsOf(p)))
  }

  /** Number of distinct (partitionName, bucketIdx) pairs [[route]] can give. */
  def routeCount: Int = partitions.map(bucketsOf).sum

  private def bucketsOf(p: PartitionSpec): Int = p.numBuckets.max(numBuckets)
}

/** Lossless TableDef ↔ JSON codec — what makes the warehouse
  * SELF-DESCRIBING: the catalog persists beside the manifests, so opening
  * an engine over an existing warehouse needs no DDL replay (the restart
  * posture every other piece of engine state — manifests, the group
  * ledger, index tables, trained models — already had). Deliberately NOT
  * the SHOW CREATE TABLE DDL text: that renders the DECLARATION, while a
  * restart needs the full lifecycle state (dropped columns/partitions,
  * rename history) or old rowsets stop being readable.
  */
object CatalogStore {
  import org.json4s._
  import graft.model.{AggType, ColumnSpec, KeysType, TableSchema}

  private def jOpt(o: Option[String]): JValue = o.fold(JNothing: JValue)(JString(_))

  private def partJson(p: PartitionSpec): JValue = JObject(
    "name" -> JString(p.name),
    "upperExclusive" -> jOpt(p.upperExclusive),
    "listValues" -> JArray(p.listValues.toList.map(JString(_): JValue)),
    "numBuckets" -> JInt(p.numBuckets))

  private def partFrom(j: JValue)(implicit f: Formats): PartitionSpec =
    PartitionSpec(
      (j \ "name").extract[String],
      (j \ "upperExclusive").extractOpt[String],
      (j \ "listValues").extract[List[String]],
      (j \ "numBuckets").extract[Int])

  def toJson(td: TableDef): JValue = {
    val cols = td.schema.columns.toList.map { c =>
      JObject("name" -> JString(c.name),
        // Spark DDL text round-trips every type the engine declares
        "type" -> JString(c.dataType.sql),
        "isKey" -> JBool(c.isKey), "nullable" -> JBool(c.nullable),
        "agg" -> JString(c.agg.name), "maxLength" -> JInt(c.maxLength)): JValue
    }
    val retention: JValue = td.retention match {
      case Retention.Manual => JString("manual")
      case Retention.Forever => JString("forever")
      case Retention.KeepMs(ms) => JString(s"keep_ms:$ms")
      case Retention.KeepVersions(n) => JString(s"keep_versions:$n")
    }
    JObject(
      "db" -> JString(td.db), "name" -> JString(td.name),
      "keysType" -> JString(td.schema.keysType.name),
      "columns" -> JArray(cols),
      "policy" -> JString(td.policy match {
        case PartitionPolicy.Range => "RANGE"
        case PartitionPolicy.List => "LIST"
        case PartitionPolicy.Unpartitioned => "UNPARTITIONED"
      }),
      "partitionColumn" -> jOpt(td.partitionColumn),
      "partitions" -> JArray(td.partitions.toList.map(partJson)),
      "bucketType" -> JString(if (td.bucketType == BucketType.Random) "RANDOM" else "HASH"),
      "bucketColumn" -> jOpt(td.bucketColumn),
      "numBuckets" -> JInt(td.numBuckets),
      "replication" -> JInt(td.replication),
      "retention" -> retention,
      "varcharMode" -> JString(td.varcharMode match {
        case VarcharMode.Ignore => "ignore"
        case VarcharMode.Truncate => "truncate"
        case VarcharMode.Strict => "strict"
      }),
      "autoPartition" -> td.autoPartition.fold(JNothing: JValue)(u =>
        JString(u.toString.toLowerCase)),
      "autoExpireKeep" -> td.autoExpireKeep.fold(JNothing: JValue)(n => JInt(n)),
      "partialUpdate" -> JBool(td.partialUpdate),
      "sequenceColumn" -> jOpt(td.sequenceColumn),
      "zorderColumns" -> td.zorderColumns.fold(JNothing: JValue) { case (x, y) =>
        JArray(List(JString(x), JString(y))) },
      "droppedColumns" -> JArray(td.droppedColumns.toList.map(JString(_): JValue)),
      "droppedPartitions" -> JArray(td.droppedPartitions.toList.map(partJson)),
      "expiredToDeadLetter" -> JBool(td.expiredToDeadLetter),
      "renamedColumns" -> JObject(td.renamedColumns.toList.map {
        case (o, n) => o -> (JString(n): JValue) }),
      "bucketLayoutFloor" -> JInt(td.bucketLayoutFloor),
      "bloomColumns" -> (if (td.bloomColumns.isEmpty) JNothing
        else JArray(td.bloomColumns.toList.map(JString(_): JValue))),
      "sumStatsColumns" -> (if (td.sumStatsColumns.isEmpty) JNothing
        else JArray(td.sumStatsColumns.toList.map(JString(_): JValue))),
      "ngramBloomColumns" -> (if (td.ngramBloomColumns.isEmpty) JNothing
        else JArray(td.ngramBloomColumns.toList.map(JString(_): JValue))),
      "mergeOnWrite" -> (if (td.mergeOnWrite) JBool(true) else JNothing),
      "ndvStatsColumns" -> (if (td.ndvStatsColumns.isEmpty) JNothing
        else JArray(td.ndvStatsColumns.toList.map(JString(_): JValue))),
      "columnDefaults" -> (if (td.columnDefaults.isEmpty) JNothing
        else JObject(td.columnDefaults.toList.sortBy(_._1).map {
          case (c, v) => c -> (JString(v): JValue) })),
      "dictStatsColumns" -> (if (td.dictStatsColumns.isEmpty) JNothing
        else JArray(td.dictStatsColumns.toList.map(JString(_): JValue))),
      "autoIncrementColumn" -> jOpt(td.autoIncrementColumn),
      "generatedColumns" -> (if (td.generatedColumns.isEmpty) JNothing
        else JObject(td.generatedColumns.toList.sortBy(_._1).map {
          case (c, e) => c -> (JString(e): JValue) })))
  }

  def fromJson(j: JValue): TableDef = {
    implicit val formats: Formats = DefaultFormats
    val cols = (j \ "columns").extract[List[JValue]].map { c =>
      ColumnSpec(
        (c \ "name").extract[String],
        org.apache.spark.sql.types.DataType.fromDDL((c \ "type").extract[String]),
        (c \ "isKey").extract[Boolean],
        (c \ "nullable").extract[Boolean],
        AggType.fromName((c \ "agg").extract[String]),
        (c \ "maxLength").extract[Int])
    }
    TableDef(
      db = (j \ "db").extract[String],
      name = (j \ "name").extract[String],
      schema = TableSchema(
        KeysType.fromName((j \ "keysType").extract[String]), cols),
      policy = (j \ "policy").extract[String] match {
        case "RANGE" => PartitionPolicy.Range
        case "LIST" => PartitionPolicy.List
        case _ => PartitionPolicy.Unpartitioned
      },
      partitionColumn = (j \ "partitionColumn").extractOpt[String],
      partitions = (j \ "partitions").extract[List[JValue]].map(partFrom),
      bucketType = if ((j \ "bucketType").extract[String] == "RANDOM")
        BucketType.Random else BucketType.Hash,
      bucketColumn = (j \ "bucketColumn").extractOpt[String],
      numBuckets = (j \ "numBuckets").extract[Int],
      replication = (j \ "replication").extract[Int],
      retention = (j \ "retention").extract[String] match {
        case "manual" => Retention.Manual
        case "forever" => Retention.Forever
        case s if s.startsWith("keep_ms:") =>
          Retention.KeepMs(s.stripPrefix("keep_ms:").toLong)
        case s if s.startsWith("keep_versions:") =>
          Retention.KeepVersions(s.stripPrefix("keep_versions:").toInt)
      },
      varcharMode = (j \ "varcharMode").extract[String] match {
        case "truncate" => VarcharMode.Truncate
        case "strict" => VarcharMode.Strict
        case _ => VarcharMode.Ignore
      },
      autoPartition = (j \ "autoPartition").extractOpt[String].map {
        case "day" => AutoPartitionUnit.Day
        case "month" => AutoPartitionUnit.Month
      },
      autoExpireKeep = (j \ "autoExpireKeep").extractOpt[Int],
      partialUpdate = (j \ "partialUpdate").extract[Boolean],
      sequenceColumn = (j \ "sequenceColumn").extractOpt[String],
      // explicit match: extractOpt[List[...]] of JNothing is Some(Nil)
      zorderColumns = (j \ "zorderColumns") match {
        case JArray(List(JString(x), JString(y))) => Some((x, y))
        case _ => scala.None
      },
      droppedColumns = (j \ "droppedColumns").extract[List[String]],
      droppedPartitions =
        (j \ "droppedPartitions").extract[List[JValue]].map(partFrom),
      expiredToDeadLetter = (j \ "expiredToDeadLetter").extract[Boolean],
      renamedColumns = (j \ "renamedColumns") match {
        case JObject(fs) => fs.map { case (k, v) =>
          k -> v.asInstanceOf[JString].s }.toMap
        case _ => Map.empty
      },
      bucketLayoutFloor = (j \ "bucketLayoutFloor").extractOpt[Long].getOrElse(0L),
      bloomColumns = (j \ "bloomColumns") match {
        case JArray(vs) => vs.collect { case JString(c) => c }
        case _ => Nil
      },
      sumStatsColumns = (j \ "sumStatsColumns") match {
        case JArray(vs) => vs.collect { case JString(c) => c }
        case _ => Nil
      },
      ngramBloomColumns = (j \ "ngramBloomColumns") match {
        case JArray(vs) => vs.collect { case JString(c) => c }
        case _ => Nil
      },
      mergeOnWrite = (j \ "mergeOnWrite").extractOpt[Boolean].getOrElse(false),
      ndvStatsColumns = (j \ "ndvStatsColumns") match {
        case JArray(vs) => vs.collect { case JString(c) => c }
        case _ => Nil
      },
      columnDefaults = (j \ "columnDefaults") match {
        case JObject(fs) => fs.collect { case (c, JString(v)) => c -> v }.toMap
        case _ => Map.empty
      },
      dictStatsColumns = (j \ "dictStatsColumns") match {
        case JArray(vs) => vs.collect { case JString(c) => c }
        case _ => Nil
      },
      autoIncrementColumn = (j \ "autoIncrementColumn").extractOpt[String],
      generatedColumns = (j \ "generatedColumns") match {
        case JObject(fs) => fs.collect { case (c, JString(e)) => c -> e }.toMap
        case _ => Map.empty
      })
  }
}

/** Database/table registry (reference: src/table.rs:46-97,
  * src/storage.rs:35-60). Driver-side only; thread-safe via TrieMap instead of
  * the reference's RwLock shards — executors scale instead of lock shards
  * (SURVEY.md §2.7 D4).
  *
  * With `store = Some(path)` (how [[graft.engine.OlapEngine]] constructs it)
  * the catalog is DURABLE: every mutation rewrites the JSON atomically
  * (tmp + rename, the manifest discipline) and construction reloads it —
  * opening an engine over an existing warehouse needs no DDL replay.
  * Persist cost is O(tables) per DDL statement; DDL rate is human-scale, so
  * a single file holds to ~1e4 tables before the per-db sharding the layout
  * already permits would be worth it. Replayed identical CREATEs are
  * idempotent no-ops (so bootstrap scripts stay runnable); a CREATE whose
  * definition DIFFERS from the stored one still fails loudly.
  */
final class CatalogManager(store: Option[java.nio.file.Path] = None) {
  private val dbs = TrieMap.empty[String, Unit]
  private val tables = TrieMap.empty[String, TableDef]

  locally {
    store.foreach { p =>
      if (java.nio.file.Files.exists(p)) {
        implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
        val doc = org.json4s.jackson.JsonMethods.parse(
          java.nio.file.Files.readString(p))
        (doc \ "databases").extract[List[String]].foreach(dbs.put(_, ()))
        (doc \ "tables").extract[List[org.json4s.JValue]].foreach { j =>
          val td = CatalogStore.fromJson(j)
          tables.put(td.qualified, td)
        }
      }
    }
  }

  private def persist(): Unit = store.foreach { p =>
    import org.json4s._
    val doc = JObject(
      "databases" -> JArray(dbs.keys.toList.sorted.map(JString(_): JValue)),
      "tables" -> JArray(tables.values.toList.sortBy(_.qualified)
        .map(CatalogStore.toJson)))
    java.nio.file.Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(
      s"${p.getFileName}.tmp${Thread.currentThread().getId}")
    java.nio.file.Files.writeString(tmp,
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(doc)))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def createDatabase(name: String): Unit =
    if (dbs.putIfAbsent(name, ()).isEmpty) persist()
  def databaseExists(name: String): Boolean = dbs.contains(name)
  def listDatabases: Seq[String] = dbs.keys.toSeq.sorted

  def createTable(td: TableDef): TableDef = {
    require(dbs.contains(td.db), s"database ${td.db} does not exist")
    tables.putIfAbsent(td.qualified, td) match {
      case scala.None => persist(); td
      // an IDENTICAL replayed CREATE is a no-op (bootstrap scripts rerun
      // over a persisted catalog); a different definition fails loudly
      case Some(existing) if existing == td => td
      case Some(_) =>
        throw new IllegalArgumentException(
          s"table ${td.qualified} exists with a different definition")
    }
  }

  /** Replace an existing table's definition (schema evolution). */
  def alterTable(td: TableDef): TableDef = {
    require(tables.contains(td.qualified), s"table ${td.qualified} does not exist")
    tables.put(td.qualified, td)
    persist()
    td
  }
  def getTable(db: String, name: String): Option[TableDef] = tables.get(s"$db.$name")
  def dropTable(db: String, name: String): Boolean = {
    val dropped = tables.remove(s"$db.$name").isDefined
    if (dropped) persist()
    dropped
  }
  def listTables(db: String): Seq[String] =
    tables.values.filter(_.db == db).map(_.name).toSeq.sorted
}
