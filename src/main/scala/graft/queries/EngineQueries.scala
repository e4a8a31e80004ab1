package graft.queries

import java.nio.file.Files
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog._
import graft.engine.OlapEngine
import graft.manifest.Version
import graft.model._

/** Engine fixture: one [[OlapEngine]] per (JVM, sfDir), with the reference's
  * canonical table shapes (FIXTURES.md §1 mapped onto the driver's tables):
  *
  *  - `orders_dup`   Duplicate model, RANGE-partitioned on o_orderdate with 4
  *                   FNV-1a hash buckets on o_orderkey, loaded as two rowsets
  *                   v[0,1] (even keys) and v[2,3] (odd keys) — mirrors the
  *                   reference's two-rowset snapshot fixture
  *                   (examples/basic_usage.rs:222-249).
  *  - `events_unique` Unique model keyed by event_id; base load v[1,1] plus an
  *                   update load v[2,2] (every 10th event re-sent with
  *                   value+1000) — latest version must win.
  *  - `sales_agg`    Aggregate model keyed by l_orderkey with Sum/Max/Min
  *                   value columns, loaded as two overlapping rowsets.
  *  - `sales_agg_c`  Same, then compacted to a single rowset at build time
  *                   (fills the reference's declared-but-absent merge, C4).
  */
object EngineFixture {
  private val cache = TrieMap.empty[String, OlapEngine]

  def get(spark: SparkSession, sfDir: String): OlapEngine =
    cache.getOrElseUpdate(sfDir, build(spark, sfDir))

  private def build(spark: SparkSession, sfDir: String): OlapEngine = {
    val wh = graft.FastTmp.newDir("graft-warehouse-")
    val eng = new OlapEngine(spark, wh)
    eng.createDatabase("graft")

    // --- orders_dup: Duplicate + RANGE partitions + hash buckets ------------
    val ordersSchema = TableSchema(KeysType.Duplicate, Seq(
      ColumnSpec.key("o_orderkey", LongType),
      ColumnSpec.value("o_custkey", LongType),
      ColumnSpec.value("o_orderstatus", StringType),
      ColumnSpec.value("o_totalprice", DoubleType),
      // decimal shadow of totalprice: exact re-aggregable money column used
      // by the materialized rollup (double sums are order-dependent)
      ColumnSpec.value("price_c", DecimalType(18, 2)),
      ColumnSpec.value("o_orderdate", TimestampType),
      ColumnSpec.value("o_orderpriority", StringType)))
    eng.createTable(TableDef(
      db = "graft", name = "orders_dup", schema = ordersSchema,
      policy = PartitionPolicy.Range,
      partitionColumn = Some("o_orderdate"),
      partitions = Seq(
        PartitionSpec("p0", upperExclusive = Some("1997-01-01"), numBuckets = 4),
        PartitionSpec("p1", upperExclusive = Some("2000-01-01"), numBuckets = 4),
        PartitionSpec("pmax", upperExclusive = None, numBuckets = 4)),
      bucketColumn = Some("o_orderkey"),
      numBuckets = 4))
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("price_c", col("o_totalprice").cast("decimal(18,2)"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "price_c", "o_orderdate", "o_orderpriority")
    eng.ingest("graft", "orders_dup", orders.filter(col("o_orderkey") % 2 === 0),
      Some(Version(0, 1)))
    eng.ingest("graft", "orders_dup", orders.filter(col("o_orderkey") % 2 === 1),
      Some(Version(2, 3)))

    // --- events_unique: Unique model, latest version wins -------------------
    val eventsSchema = TableSchema(KeysType.Unique, Seq(
      ColumnSpec.key("event_id", LongType),
      ColumnSpec.value("user_id", LongType),
      ColumnSpec.value("event_type", StringType),
      ColumnSpec.value("value", DoubleType)))
    eng.createTable(TableDef(
      db = "graft", name = "events_unique", schema = eventsSchema,
      bucketColumn = Some("event_id"), numBuckets = 4))
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    eng.ingest("graft", "events_unique", events, Some(Version(1, 1)))
    eng.ingest("graft", "events_unique",
      events.filter(col("event_id") % 10 === 0)
        .withColumn("value", col("value") + 1000.0),
      Some(Version(2, 2)))


    // --- events_del: Unique model with delete tombstones --------------------
    // base load v1, tombstone every 7th event at v2, re-insert every 14th
    // with value+5000 at v3: a deleted key stays gone unless a NEWER load
    // re-inserts it.
    eng.createTable(TableDef(
      db = "graft", name = "events_del", schema = eventsSchema,
      bucketColumn = Some("event_id"), numBuckets = 4))
    eng.ingest("graft", "events_del", events, Some(Version(1, 1)))
    eng.ingestDeletes("graft", "events_del",
      events.filter(col("event_id") % 7 === 0).select("event_id"),
      Some(Version(2, 2)))
    eng.ingest("graft", "events_del",
      events.filter(col("event_id") % 14 === 0)
        .withColumn("value", col("value") + 5000.0),
      Some(Version(3, 3)))

    // --- events_seg: RANGE-SPLIT loads → rowset zone maps prune reads -------
    // Three MVCC loads over disjoint event_id thirds (the natural shape of
    // time-keyed ingest). q224 filters above the top boundary and REQUIRES
    // the plan to scan exactly one rowset: the manifest zone maps
    // (StatsHarvest → ScanPruneRewrite) drop the other two branches at
    // optimization time — no listing, no footer read, no task.
    val segSchema = TableSchema(KeysType.Duplicate, Seq(
      ColumnSpec.key("event_id", LongType),
      ColumnSpec.value("user_id", LongType),
      ColumnSpec.value("value", DoubleType)))
    eng.createTable(TableDef(
      db = "graft", name = "events_seg", schema = segSchema,
      bucketColumn = Some("event_id"), numBuckets = 2,
      // exact per-rowset SUMs for the integral columns: each of the three
      // loads below also harvests its own sum, so q235's group-less
      // SUM/AVG/COUNT answers from the manifest fold alone
      sumStatsColumns = Seq("event_id", "user_id"),
      // per-rowset NDV sketches: q240 folds table-level approximate
      // distinct counts from the three loads' sidecars, zero tasks
      ndvStatsColumns = Seq("event_id", "user_id")))
    val segEv = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    val segMax = segEv.agg(max(col("event_id"))).head.getLong(0)
    val (segK1, segK2) = (segMax / 3, (2 * segMax) / 3)
    eng.ingest("graft", "events_seg", segEv.filter(col("event_id") <= segK1),
      Some(Version(1, 1)))
    eng.ingest("graft", "events_seg",
      segEv.filter(col("event_id") > segK1 && col("event_id") <= segK2),
      Some(Version(2, 2)))
    eng.ingest("graft", "events_seg", segEv.filter(col("event_id") > segK2),
      Some(Version(3, 3)))

    // --- events_ai: AUTO_INCREMENT fill across two loads ---------------------
    // Neither load supplies `row_id`; each fills from the manifest counter
    // (reservation-before-use), so ids are dense 1..n overall and load 2's
    // block sits strictly above load 1's. q245 pins those contracts.
    eng.createTable(TableDef(
      db = "graft", name = "events_ai", schema = TableSchema(KeysType.Duplicate,
        Seq(ColumnSpec.key("event_id", LongType),
          ColumnSpec.value("row_id", LongType),
          ColumnSpec.value("batch", LongType),
          ColumnSpec.value("value", DoubleType))),
      bucketColumn = Some("event_id"), numBuckets = 2,
      autoIncrementColumn = Some("row_id")))
    val aiEv = Tables.events(spark, sfDir)
      .select(col("event_id"), col("value"))
    val aiMax = aiEv.agg(max(col("event_id"))).head.getLong(0)
    eng.ingest("graft", "events_ai",
      aiEv.filter(col("event_id") <= aiMax / 2).withColumn("batch", lit(1L)),
      Some(Version(1, 1)))
    eng.ingest("graft", "events_ai",
      aiEv.filter(col("event_id") > aiMax / 2).withColumn("batch", lit(2L)),
      Some(Version(2, 2)))

    // --- events_dict: VALUE HISTOGRAM sidecars → metadata-served GROUP BY ---
    // Two parity-split loads, each building an exact (event_type → count)
    // histogram sidecar at write time; q247's plain groupBy-count is
    // REQUIREd to serve from the driver-side fold with ZERO relations in
    // the plan (StatsAggRewrite's grouped path).
    eng.createTable(TableDef(
      db = "graft", name = "events_dict", schema = TableSchema(KeysType.Duplicate,
        Seq(ColumnSpec.key("event_id", LongType),
          ColumnSpec.value("event_type", StringType),
          ColumnSpec.value("value", DoubleType))),
      bucketColumn = Some("event_id"), numBuckets = 2,
      dictStatsColumns = Seq("event_type")))
    val dictEv = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    eng.ingest("graft", "events_dict", dictEv.filter(col("event_id") % 2 === 0),
      Some(Version(1, 1)))
    eng.ingest("graft", "events_dict", dictEv.filter(col("event_id") % 2 === 1),
      Some(Version(2, 2)))

    // --- orders_dd: DATE dict column → metadata-served "rows per month" -----
    // The time-series dashboard shape: a GENERATED month column (derived at
    // ingest, so the load supplies only raw orders) declared as a dict
    // column; q254's GROUP BY month serves from the folded histograms with
    // zero relations, exercising the DateType value-reconstruction path.
    eng.createTable(TableDef(
      db = "graft", name = "orders_dd", schema = TableSchema(KeysType.Duplicate,
        Seq(ColumnSpec.key("o_orderkey", LongType),
          ColumnSpec.value("o_orderdate", TimestampType),
          ColumnSpec.value("month", DateType),
          ColumnSpec.value("o_totalprice", DoubleType))),
      bucketColumn = Some("o_orderkey"), numBuckets = 2,
      dictStatsColumns = Seq("month"),
      generatedColumns = Map(
        "month" -> "CAST(date_trunc('month', o_orderdate) AS DATE)")))
    val ddOrders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    eng.ingest("graft", "orders_dd",
      ddOrders.filter(col("o_orderkey") % 2 === 0), Some(Version(1, 1)))
    eng.ingest("graft", "orders_dd",
      ddOrders.filter(col("o_orderkey") % 2 === 1), Some(Version(2, 2)))

    // --- events_gen: GENERATED columns, created through the SQL face --------
    // Both derived columns are engine-computed at ingest (the load supplies
    // only event_id/value); q246's oracle recomputes the expressions from
    // raw rows, so a skipped fill, a wrong cast, or a loaded forged value
    // all flip the digest.
    graft.sql.GraftSql.exec(spark, eng, graft.sql.GraftSqlParser.parse(
      """CREATE TABLE graft.events_gen (
        |  event_id BIGINT, value DOUBLE,
        |  vclass VARCHAR(8) AS (CASE WHEN value < 50 THEN 'low'
        |                             WHEN value < 100 THEN 'mid'
        |                             ELSE 'high' END),
        |  vbucket BIGINT AS (CAST(floor(value / 50.0) AS BIGINT))
        |) DUPLICATE KEY (event_id)
        |DISTRIBUTED BY HASH(event_id) BUCKETS 2""".stripMargin).get).collect()
    eng.ingest("graft", "events_gen",
      Tables.events(spark, sfDir).select(col("event_id"), col("value")),
      Some(Version(1, 1)))

    // --- events_bloom: INTERLEAVED loads → rowset BLOOM prunes point reads --
    // Three MVCC loads split by event_id % 3, so every load spans the whole
    // id range — zone maps overlap completely and can never separate them.
    // The declared bloom_filter_columns build one RowsetBloom sidecar per
    // load at ingest; q230's equality lookup REQUIRES the plan to read
    // exactly one rowset: the other two branches drop because their blooms
    // exclude the key (high-cardinality complement of q224's zone maps).
    eng.createTable(TableDef(
      db = "graft", name = "events_bloom", schema = segSchema,
      bucketColumn = Some("event_id"), numBuckets = 2,
      bloomColumns = Seq("event_id")))
    (0 until 3).foreach { r =>
      eng.ingest("graft", "events_bloom",
        segEv.filter(col("event_id") % 3 === r), Some(Version(r + 1L, r + 1L)))
    }

    // --- events_ngram: TRIGRAM bloom prunes substring (LIKE '%x%') reads ----
    // Three interleaved loads (event_id % 3) with a per-load marker embedded
    // MID-string in `tag` ("<id>at<r>z"): zone maps can never refute a
    // Contains predicate, but each load's trigram sidecar proves which
    // rowsets can hold the needle's grams — q236's substring scan is
    // REQUIREd to read exactly one of the three rowsets.
    val ngSchema = TableSchema(KeysType.Duplicate, Seq(
      ColumnSpec.key("event_id", LongType),
      ColumnSpec.value("tag", StringType),
      ColumnSpec.value("value", DoubleType)))
    eng.createTable(TableDef(
      db = "graft", name = "events_ngram", schema = ngSchema,
      bucketColumn = Some("event_id"), numBuckets = 2,
      ngramBloomColumns = Seq("tag")))
    val ngEv = Tables.events(spark, sfDir).select(col("event_id"),
      concat(col("event_id").cast("string"), lit("at"),
        (col("event_id") % 3).cast("string"), lit("z")).as("tag"),
      col("value"))
    (0 until 3).foreach { r =>
      eng.ingest("graft", "events_ngram",
        ngEv.filter(col("event_id") % 3 === r), Some(Version(r + 1L, r + 1L)))
    }

    // --- events_cd: ADD COLUMN ... DEFAULT backfill --------------------------
    // Created WITHOUT `lang`, loaded (lower id third), then ALTERed with
    // DEFAULT 'en', then loaded again WITH lang (evens 'fr', odds NULL).
    // q239's digest proves pre-add rows read the default while post-add
    // NULLs stay NULL — per-branch backfill, not union null-fill.
    eng.createTable(TableDef(
      db = "graft", name = "events_cd", schema = TableSchema(KeysType.Duplicate,
        Seq(ColumnSpec.key("event_id", LongType),
          ColumnSpec.value("value", DoubleType))),
      bucketColumn = Some("event_id"), numBuckets = 2))
    eng.ingest("graft", "events_cd",
      segEv.filter(col("event_id") <= segK1).select("event_id", "value"),
      Some(Version(1, 1)))
    eng.addColumn("graft", "events_cd",
      ColumnSpec.value("lang", StringType), Some("en"))
    eng.ingest("graft", "events_cd",
      segEv.filter(col("event_id") > segK1).select(col("event_id"), col("value"),
        when(col("event_id") % 2 === 0, "fr").as("lang")),
      Some(Version(2, 2)))

    // --- events_useg: UNIQUE model, banded loads + an upsert load -----------
    // Two range-disjoint halves (v1/v2) plus a v3 upsert of every 10th key
    // in the UPPER half (value+1000). q231's zone-map top-k must read the
    // upper band and the upsert rowset (2 of 3 — the lower band prunes) and
    // its merged rows must show the upserts; q232 serves key MIN/MAX from
    // metadata, exact because the covering set is provably tombstone-free.
    val usegSchema = TableSchema(KeysType.Unique, Seq(
      ColumnSpec.key("event_id", LongType),
      ColumnSpec.value("user_id", LongType),
      ColumnSpec.value("value", DoubleType)))
    eng.createTable(TableDef(
      db = "graft", name = "events_useg", schema = usegSchema,
      bucketColumn = Some("event_id"), numBuckets = 2))
    val usegMid = segMax / 2
    eng.ingest("graft", "events_useg", segEv.filter(col("event_id") <= usegMid),
      Some(Version(1, 1)))
    eng.ingest("graft", "events_useg", segEv.filter(col("event_id") > usegMid),
      Some(Version(2, 2)))
    eng.ingest("graft", "events_useg",
      segEv.filter(col("event_id") > usegMid && col("event_id") % 10 === 0)
        .withColumn("value", col("value") + 1000.0),
      Some(Version(3, 3)))

    // --- events_mow: Unique MERGE-ON-WRITE, key-banded loads ----------------
    // Load v1 = the lower id half, deliberately carrying WITHIN-LOAD
    // duplicates (every 10th key re-sent with value+1000, later-in-load
    // wins); v2 = the upper half. Merge-on-write pre-merges each load per
    // key, so both rowsets are keyUnique with disjoint leading-key ranges —
    // q237's scan is REQUIREd to contain NO merge aggregate at all.
    eng.createTable(TableDef(
      db = "graft", name = "events_mow", schema = usegSchema,
      bucketColumn = Some("event_id"), numBuckets = 2, mergeOnWrite = true))
    val mowLower = segEv.filter(col("event_id") <= usegMid)
    eng.ingest("graft", "events_mow",
      mowLower.unionAll(mowLower.filter(col("event_id") % 10 === 0)
        .withColumn("value", col("value") + 1000.0)),
      Some(Version(1, 1)))
    eng.ingest("graft", "events_mow", segEv.filter(col("event_id") > usegMid),
      Some(Version(2, 2)))

    // --- events_upd: Unique model mutated through SQL UPDATE ----------------
    // Base load v1, then the Doris UPDATE verb end-to-end through the SQL
    // front door (parser → executor → OlapEngine.updateWhere): every row
    // whose user_id % 5 = 0 gets value+100 and an upper-cased event_type,
    // written back as ONE upsert rowset at v2. Both SET right-hand sides
    // evaluate against the OLD row; q243's oracle replays exactly that.
    eng.createTable(TableDef(
      db = "graft", name = "events_upd", schema = eventsSchema,
      bucketColumn = Some("event_id"), numBuckets = 2))
    eng.ingest("graft", "events_upd", events, Some(Version(1, 1)))
    graft.sql.GraftSql.exec(spark, eng, graft.sql.GraftSqlParser.parse(
      "UPDATE graft.events_upd SET value = value + 100.0, " +
        "event_type = upper(event_type) WHERE user_id % 5 = 0").get).collect()

    // --- orders_ow: Range table mutated through SQL INSERT OVERWRITE --------
    // Full load v1, then INSERT OVERWRITE PARTITION (p0) through the SQL
    // front door: p0's content (orders before 1997) is atomically replaced
    // by only the %3==0 orders with +1,000,000 price — one directory mask +
    // one data rowset committed as a single load group. p1/pmax untouched.
    val owSchema = TableSchema(KeysType.Duplicate, Seq(
      ColumnSpec.key("o_orderkey", LongType),
      ColumnSpec.value("o_orderdate", TimestampType),
      ColumnSpec.value("o_orderstatus", StringType),
      ColumnSpec.value("o_totalprice", DoubleType)))
    eng.createTable(TableDef(
      db = "graft", name = "orders_ow", schema = owSchema,
      policy = PartitionPolicy.Range,
      partitionColumn = Some("o_orderdate"),
      partitions = Seq(
        PartitionSpec("p0", upperExclusive = Some("1997-01-01"), numBuckets = 2),
        PartitionSpec("p1", upperExclusive = Some("2000-01-01"), numBuckets = 2),
        PartitionSpec("pmax", upperExclusive = None, numBuckets = 2)),
      bucketColumn = Some("o_orderkey"), numBuckets = 2))
    val owOrders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice")
    eng.ingest("graft", "orders_ow", owOrders, Some(Version(1, 1)))
    owOrders
      .filter(col("o_orderdate") < "1997-01-01" && col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000000.0)
      .createOrReplaceTempView("graft_q244_repl")
    graft.sql.GraftSql.exec(spark, eng, graft.sql.GraftSqlParser.parse(
      "INSERT OVERWRITE graft.orders_ow PARTITION (p0) " +
        "SELECT * FROM graft_q244_repl").get).collect()

    // --- orders_ctas: CREATE TABLE AS SELECT through the SQL face -----------
    // Schema derives from the query output (o_custkey flagged as the key),
    // created and loaded in ONE statement; q253 digests the stored rows and
    // the oracle recomputes the same per-customer aggregate from raw orders.
    spark.read.parquet(s"$sfDir/orders.parquet")
      .createOrReplaceTempView("graft_q253_src")
    graft.sql.GraftSql.exec(spark, eng, graft.sql.GraftSqlParser.parse(
      "CREATE TABLE graft.orders_ctas DUPLICATE KEY (o_custkey) " +
        "DISTRIBUTED BY HASH(o_custkey) BUCKETS 2 AS " +
        "SELECT o_custkey, count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM graft_q253_src GROUP BY o_custkey").get).collect()

    // --- events_hll: Aggregate model with an HLL_UNION column ---------------
    // Doris's HLL column type: loads carry RAW user ids; ingest pre-aggregates
    // them into per-key sketches, merge-on-read unions sketches across the
    // two rowsets. Distinct users per event type ≈ hll_sketch_estimate.
    val hllSchema = TableSchema(KeysType.Aggregate, Seq(
      ColumnSpec.key("event_type", StringType),
      ColumnSpec.value("n", LongType, AggType.Sum),
      ColumnSpec.value("hll_users", BinaryType, AggType.HllUnion)))
    eng.createTable(TableDef(
      db = "graft", name = "events_hll", schema = hllSchema,
      bucketColumn = Some("event_type"), numBuckets = 2))
    val evRaw = Tables.events(spark, sfDir)
    def hllLoad(pred: org.apache.spark.sql.Column) = evRaw.filter(pred)
      .select(col("event_type"), lit(1L).as("n"), col("user_id").as("hll_users"))
    eng.ingest("graft", "events_hll", hllLoad(col("event_id") % 2 === 0),
      Some(Version(1, 1)))
    eng.ingest("graft", "events_hll", hllLoad(col("event_id") % 2 === 1),
      Some(Version(2, 2)))

    // --- orders_delw: Duplicate model with a DELETE-WHERE predicate ---------
    // even keys at v1, DELETE WHERE o_orderstatus='F' at v2 (metadata-only),
    // odd keys at v3: 'F' rows from v1 are masked, 'F' rows from v3 survive
    // (the delete only applies to rowsets older than its version).
    val delwSchema = TableSchema(KeysType.Duplicate, Seq(
      ColumnSpec.key("o_orderkey", LongType),
      ColumnSpec.value("o_orderstatus", StringType),
      ColumnSpec.value("o_totalprice", DoubleType)))
    eng.createTable(TableDef(
      db = "graft", name = "orders_delw", schema = delwSchema,
      bucketColumn = Some("o_orderkey"), numBuckets = 4))
    val delwOrders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    eng.ingest("graft", "orders_delw",
      delwOrders.filter(col("o_orderkey") % 2 === 0), Some(Version(1, 1)))
    eng.deleteWhere("graft", "orders_delw", "o_orderstatus = 'F'",
      Some(Version(2, 2)))
    eng.ingest("graft", "orders_delw",
      delwOrders.filter(col("o_orderkey") % 2 === 1), Some(Version(3, 3)))

    // --- orders_partial: Unique model with partial-update loads -------------
    // base load v1 (full rows), then two partial loads: v2 sets ONLY
    // o_orderstatus ('X') for every 5th key, v3 sets ONLY o_totalprice
    // (+100000) for every 7th key. Merge-on-read must resolve each column
    // independently: a %35 key shows v2's status AND v3's price while
    // o_orderpriority stays from v1.
    val partialSchema = TableSchema(KeysType.Unique, Seq(
      ColumnSpec.key("o_orderkey", LongType),
      ColumnSpec.value("o_orderstatus", StringType),
      ColumnSpec.value("o_totalprice", DoubleType),
      ColumnSpec.value("o_orderpriority", StringType)))
    eng.createTable(TableDef(
      db = "graft", name = "orders_partial", schema = partialSchema,
      bucketColumn = Some("o_orderkey"), numBuckets = 4, partialUpdate = true))
    val po = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    eng.ingest("graft", "orders_partial", po, Some(Version(1, 1)))
    eng.ingestPartial("graft", "orders_partial",
      po.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit("X").as("o_orderstatus")),
      Some(Version(2, 2)))
    eng.ingestPartial("graft", "orders_partial",
      po.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 100000.0).as("o_totalprice")),
      Some(Version(3, 3)))

    // --- sales_agg: Aggregate model (Sum/Max/Min) ---------------------------
    val salesSchema = TableSchema(KeysType.Aggregate, Seq(
      ColumnSpec.key("l_orderkey", LongType),
      ColumnSpec.value("qty", DoubleType, AggType.Sum),
      ColumnSpec.value("max_price", DoubleType, AggType.Max),
      ColumnSpec.value("min_disc", DoubleType, AggType.Min)))
    def salesDf = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity").as("qty"),
        col("l_extendedprice").as("max_price"), col("l_discount").as("min_disc"))
    for (tbl <- Seq("sales_agg", "sales_agg_c")) {
      eng.createTable(TableDef(
        db = "graft", name = tbl, schema = salesSchema,
        bucketColumn = Some("l_orderkey"), numBuckets = 4))
      val df = salesDf
      eng.ingest("graft", tbl, df.filter(col("l_orderkey") % 2 === 0), Some(Version(1, 1)))
      eng.ingest("graft", tbl, df.filter(col("l_orderkey") % 2 === 1), Some(Version(2, 2)))
    }
    // compact the _c variant now so its query is pure read (and repeatable)
    eng.compact("graft", "sales_agg_c")
    eng.gc("graft", "sales_agg_c")

    // materialized rollup on orders_dup: by status, Sum(totalprice)+Max(totalprice)
    eng.rollups.materialize("graft", "orders_dup", graft.engine.RollupDef(
      name = "by_status",
      groupCols = Seq("o_orderstatus"),
      aggs = Seq(
        ("sum_price_c", "price_c", AggType.Sum),
        ("max_price", "o_totalprice", AggType.Max)),
      countCol = Some("n_rows"),
      bitmapCol = Some(("bm_cust", "o_custkey")),
      hllCol = Some(("hll_cust", "o_custkey"))))

    // --- customer_dim + join MV -------------------------------------------
    // Dimension table for the async materialized view: Duplicate model,
    // single load. The MV pre-joins orders_dup⋈customer_dim and
    // pre-aggregates by (c_mktsegment, o_orderpriority); queries grouping by
    // a subset of those dims rewrite to it transparently (JoinMvRewrite).
    val custSchema = TableSchema(KeysType.Duplicate, Seq(
      ColumnSpec.key("c_custkey", LongType),
      ColumnSpec.value("c_name", StringType),
      ColumnSpec.value("c_nationkey", IntegerType),
      ColumnSpec.value("c_acctbal", DoubleType),
      ColumnSpec.value("c_mktsegment", StringType)))
    eng.createTable(TableDef(
      db = "graft", name = "customer_dim", schema = custSchema,
      bucketColumn = Some("c_custkey"), numBuckets = 4))
    eng.ingest("graft", "customer_dim",
      spark.read.parquet(s"$sfDir/customer.parquet"), Some(Version(1, 1)))
    eng.mvs.materialize(graft.engine.MvJoinDef(
      name = "sales_by_segment",
      factDb = "graft", factTable = "orders_dup",
      dimDb = "graft", dimTable = "customer_dim",
      factKey = "o_custkey", dimKey = "c_custkey",
      groupCols = Seq("c_mktsegment", "o_orderpriority"),
      aggs = Seq(
        ("sum_price_c", "price_c", AggType.Sum),
        ("max_price", "o_totalprice", AggType.Max)),
      countCol = Some("n_rows")))

    // --- cms_agg: a Count-Min sketch AS an Aggregate-model table ----------
    // CMS cells are counts, so the matrix of a corpus = Sum-merge of its
    // loads' matrices: each load carries the d×w partial of ITS documents
    // (2048 rows, never the token stream), and merge-on-read (or a
    // compaction) produces the full-corpus matrix — incremental sketch
    // maintenance through plain MVCC loads, no streaming state needed.
    val cmsSchema = TableSchema(KeysType.Aggregate, Seq(
      ColumnSpec.key("i", LongType),
      ColumnSpec.key("bucket", LongType),
      ColumnSpec.value("cell", LongType, AggType.Sum)))
    eng.createTable(TableDef(
      db = "graft", name = "cms_agg", schema = cmsSchema,
      bucketColumn = Some("bucket"), numBuckets = 2))
    def cmsLoad(pred: org.apache.spark.sql.Column) =
      graft.pipeline.Frequency.cmsCells(
        spark.read.parquet(s"$sfDir/documents.parquet").filter(pred)
          .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word")),
        d = 4, w = 512)
    eng.ingest("graft", "cms_agg", cmsLoad(col("doc_id") % 2 === 0), Some(Version(1, 1)))
    eng.ingest("graft", "cms_agg", cmsLoad(col("doc_id") % 2 === 1), Some(Version(2, 2)))

    // --- hist_agg: a QUANTILE HISTOGRAM as an Aggregate-model table --------
    // The missing sketch beside CMS/HLL/bitmap: fixed-boundary bin counts
    // are Sum-mergeable, so each load carries the partial histogram of ITS
    // rows (bins-sized, never the values) and merge-on-read IS the sketch
    // union. q226 serves percentiles from the merged cells (error ≤ width);
    // q227 is the streaming twin over the same oracle.
    val histSchema = TableSchema(KeysType.Aggregate, Seq(
      ColumnSpec.key("bin", LongType),
      ColumnSpec.value("n", LongType, AggType.Sum)))
    eng.createTable(TableDef(
      db = "graft", name = "hist_agg", schema = histSchema,
      bucketColumn = Some("bin"), numBuckets = 2))
    def histLoad(pred: org.apache.spark.sql.Column) =
      graft.pipeline.Quantile.histCells(
        Tables.events(spark, sfDir).filter(pred), "value", lo = 0.0, width = 5.0)
    eng.ingest("graft", "hist_agg", histLoad(col("event_id") % 2 === 0),
      Some(Version(1, 1)))
    eng.ingest("graft", "hist_agg", histLoad(col("event_id") % 2 === 1),
      Some(Version(2, 2)))

    // --- orders_auto: dynamic partitioning (Doris dynamic_partition) -------
    // one declared month; the load self-extends the Range ladder to cover
    // the full o_orderdate span, one partition per month
    eng.createTable(TableDef(
      db = "graft", name = "orders_auto",
      schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("o_orderkey", LongType),
        ColumnSpec.value("o_orderdate", TimestampType))),
      policy = PartitionPolicy.Range,
      partitionColumn = Some("o_orderdate"),
      partitions = Seq(PartitionSpec("p0", Some("1992-02-01"), numBuckets = 2)),
      bucketColumn = Some("o_orderkey"), numBuckets = 2,
      autoPartition = Some(AutoPartitionUnit.Month)))
    eng.ingest("graft", "orders_auto",
      spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_orderdate"),
      Some(Version(1, 1)))

    // --- orders_dyn: full dynamic-partition lifecycle (extend + EXPIRE) ----
    // the ingest self-extends per month, then retires everything older than
    // the newest 12 partitions as delete-predicate versions (q188)
    eng.createTable(TableDef(
      db = "graft", name = "orders_dyn",
      schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("o_orderkey", LongType),
        ColumnSpec.value("o_orderdate", TimestampType))),
      policy = PartitionPolicy.Range,
      partitionColumn = Some("o_orderdate"),
      partitions = Seq(PartitionSpec("p0", Some("2000-01-01"), numBuckets = 2)),
      bucketColumn = Some("o_orderkey"), numBuckets = 2,
      autoPartition = Some(AutoPartitionUnit.Month),
      autoExpireKeep = Some(12)))
    eng.ingest("graft", "orders_dyn",
      spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_orderdate")
        .filter(col("o_orderdate") >= "1999-12-01"),
      Some(Version(1, 1)))

    // --- orders_dlq: q188's lifecycle + the opt-in dead-letter policy ------
    // load 1 extends + expires (newest 12 rungs survive); load 2 is LATE
    // data entirely inside the expired range — with expiredToDeadLetter it
    // quarantines into graft.orders_dlq__dead_letter instead of failing the
    // load (q199 pins the quarantine content against the oracle)
    eng.createTable(TableDef(
      db = "graft", name = "orders_dlq",
      schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("o_orderkey", LongType),
        ColumnSpec.value("o_orderdate", TimestampType))),
      policy = PartitionPolicy.Range,
      partitionColumn = Some("o_orderdate"),
      partitions = Seq(PartitionSpec("p0", Some("2000-01-01"), numBuckets = 2)),
      bucketColumn = Some("o_orderkey"), numBuckets = 2,
      autoPartition = Some(AutoPartitionUnit.Month),
      autoExpireKeep = Some(12),
      expiredToDeadLetter = true))
    val ordersAll = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderdate")
    // versions are engine-allocated here: load 1's partition EXPIRY mints
    // delete-marker versions of its own (one per dropped rung), so an
    // explicit Version(2,2) on load 2 would collide with the first marker —
    // the exact mistake TableManifest's visible-version guard now refuses
    eng.ingest("graft", "orders_dlq",
      ordersAll.filter(col("o_orderdate") >= "1999-12-01"))
    eng.ingest("graft", "orders_dlq",
      ordersAll.filter(col("o_orderdate") >= "1999-06-01" &&
        col("o_orderdate") < "1999-12-01"))

    // --- orders_clone: zero-copy SHALLOW CLONE of orders_dup + divergence --
    // the clone borrows orders_dup's two rowsets (no file is copied), then
    // receives its OWN load — every 100th key re-ingested. q204 pins that
    // the clone serves source-at-clone-time content plus exactly its
    // divergent rows; orders_dup itself stays untouched (q20/q21 keep
    // hashing the unmodified source through the same fixture)
    eng.cloneTable("graft", "orders_dup", "graft", "orders_clone")
    eng.ingest("graft", "orders_clone",
      orders.filter(col("o_orderkey") % 100 === 0), Some(Version(4, 4)))

    // --- orders_restore: RESTORE TO VERSION (bad-load rollback) ------------
    // load1 (keys %3=0) at v1; load2 (%3=1 — "the bad load") at v2; restore
    // to v1 (metadata-only: an empty rowset bridges (1,3], load2 retires to
    // Stale); load3 (%3=2) then lands on the restored head. q209 pins that
    // the head serves load1 + load3 with load2 fully rolled back — and that
    // post-restore ingest works (the bridge keeps the version graph whole)
    eng.createTable(TableDef(
      db = "graft", name = "orders_restore", schema = ordersSchema,
      bucketColumn = Some("o_orderkey"), numBuckets = 4))
    eng.ingest("graft", "orders_restore",
      orders.filter(col("o_orderkey") % 3 === 0), Some(Version(1, 1)))
    eng.ingest("graft", "orders_restore",
      orders.filter(col("o_orderkey") % 3 === 1), Some(Version(2, 2)))
    eng.restoreToVersion("graft", "orders_restore", 1)
    eng.ingest("graft", "orders_restore",
      orders.filter(col("o_orderkey") % 3 === 2), Some(Version(4, 4)))

    // --- orders_sql: built ENTIRELY through the SQL front door (q210) ------
    // The same DDL/DML/lifecycle a Doris-lineage user would type, via
    // GraftSql: create, two loads (v0 good, v1 bad), RESTORE rolls the bad
    // load back (bridge v2), a DELETE that SURVIVES at head (v3), and a
    // post-restore load (v4). One head aggregate discriminates all three
    // lifecycle facts: the bad load contributes nothing, the delete holds,
    // the late load landed.
    graft.sql.GraftSql.bind(spark, eng)
    orders.createOrReplaceTempView("graft_orders_raw_sql")
    def sql(s: String): Unit = graft.sql.GraftSql.sql(spark, s).collect(): Unit
    sql("""CREATE TABLE graft.orders_sql (
          |  o_orderkey BIGINT, o_orderdate TIMESTAMP, price_c DECIMAL(18, 2)
          |) DUPLICATE KEY (o_orderkey)
          |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin)
    sql("INSERT INTO graft.orders_sql SELECT o_orderkey, o_orderdate, price_c " +
      "FROM graft_orders_raw_sql WHERE o_orderkey % 3 = 0")
    sql("INSERT INTO graft.orders_sql SELECT o_orderkey, o_orderdate, price_c " +
      "FROM graft_orders_raw_sql WHERE o_orderkey % 3 = 1")
    sql("RESTORE TABLE graft.orders_sql TO VERSION 0")
    sql("DELETE FROM graft.orders_sql WHERE o_orderkey % 6 = 0")
    sql("INSERT INTO graft.orders_sql SELECT o_orderkey, o_orderdate, price_c " +
      "FROM graft_orders_raw_sql WHERE o_orderkey % 3 = 2")

    // --- orders_rb: the online re-bucketing schema-change job (q216) -------
    // A Unique table with real lifecycle (two loads, an upsert band, a
    // key-ranged delete) that then changes its physical layout 2 → 7
    // buckets THROUGH THE SQL FACE of OlapEngine.rebucket. The q216 hash
    // pins that the merged content survived the full layout rewrite —
    // upserts still winning, deletes still absent — and later loads route
    // with the new bucket count into the same serving table.
    sql("""CREATE TABLE graft.orders_rb (
          |  o_orderkey BIGINT, o_orderdate TIMESTAMP, price_c DECIMAL(18, 2)
          |) UNIQUE KEY (o_orderkey)
          |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 2""".stripMargin)
    sql("INSERT INTO graft.orders_rb SELECT o_orderkey, o_orderdate, price_c " +
      "FROM graft_orders_raw_sql WHERE o_orderkey % 2 = 0")
    // upsert band: even keys divisible by 10 get a doubled price
    sql("INSERT INTO graft.orders_rb SELECT o_orderkey, o_orderdate, " +
      "CAST(price_c * 2 AS DECIMAL(18,2)) FROM graft_orders_raw_sql " +
      "WHERE o_orderkey % 10 = 0")
    sql("DELETE FROM graft.orders_rb WHERE o_orderkey % 14 = 0")
    sql("ALTER TABLE graft.orders_rb DISTRIBUTED BY HASH(o_orderkey) BUCKETS 7")
    // a post-rebucket load routes with the new layout
    sql("INSERT INTO graft.orders_rb SELECT o_orderkey, o_orderdate, price_c " +
      "FROM graft_orders_raw_sql WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0")

    // --- orders_rn: RENAME COLUMN mid-lifecycle (q217) ----------------------
    // Loads land in three naming eras (price_c; price_r; price_r +
    // renamed key ok_id), with an upsert band CROSSING the first rename —
    // latest-wins must resolve across physically-differently-named rowsets.
    // Metadata-only: no rewrite happens; the read path maps old physical
    // names per rowset.
    sql("""CREATE TABLE graft.orders_rn (
          |  o_orderkey BIGINT, o_orderdate TIMESTAMP, price_c DECIMAL(18, 2)
          |) UNIQUE KEY (o_orderkey)
          |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin)
    sql("INSERT INTO graft.orders_rn SELECT o_orderkey, o_orderdate, price_c " +
      "FROM graft_orders_raw_sql WHERE o_orderkey % 4 IN (0, 1)")
    sql("ALTER TABLE graft.orders_rn RENAME COLUMN price_c TO price_r")
    sql("INSERT INTO graft.orders_rn SELECT o_orderkey, o_orderdate, price_c " +
      "FROM graft_orders_raw_sql WHERE o_orderkey % 4 = 2")
    // upsert band across the rename: keys loaded in the price_c era get a
    // doubled price written in the price_r era — the newer rowset must win
    sql("INSERT INTO graft.orders_rn SELECT o_orderkey, o_orderdate, " +
      "CAST(price_c * 2 AS DECIMAL(18,2)) FROM graft_orders_raw_sql " +
      "WHERE o_orderkey % 8 = 0")
    sql("ALTER TABLE graft.orders_rn RENAME COLUMN o_orderkey TO ok_id")
    sql("INSERT INTO graft.orders_rn SELECT o_orderkey, o_orderdate, price_c " +
      "FROM graft_orders_raw_sql WHERE o_orderkey % 4 = 3")

    // --- orders_rr: a ROLLUP that survives RENAME COLUMN (q220) -------------
    // The rollup is added through the SQL face, THEN its source column is
    // renamed: the engine rewrites the registered definition and
    // re-materializes in place (OlapEngine.renameColumn → rollups
    // .renameColumn), so the aggregate phrased in the NEW name keeps being
    // served from the rollup instead of the rollup silently standing down.
    // q220's query asserts the plan reads the rollup files AND hash-checks
    // the values.
    sql("""CREATE TABLE graft.orders_rr (
          |  o_orderkey BIGINT, o_orderstatus VARCHAR(1), price_c DECIMAL(18, 2)
          |) DUPLICATE KEY (o_orderkey)
          |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin)
    sql("INSERT INTO graft.orders_rr SELECT o_orderkey, o_orderstatus, price_c " +
      "FROM graft_orders_raw_sql")
    sql("ALTER TABLE graft.orders_rr ADD ROLLUP rr_status (o_orderstatus) " +
      "AGG (SUM(price_c) AS sum_price, COUNT(*) AS n)")
    sql("ALTER TABLE graft.orders_rr RENAME COLUMN price_c TO amount_c")
    eng
  }
}

/** Queries exercising the OLAP-engine semantics themselves: model merges,
  * MVCC snapshot reads, partition pruning, FNV bucket routing, compaction.
  */
object EngineQueries {

  private def dec(name: String) = col(name).cast("decimal(18,2)")

  /** Exact decimal sum surfaced as double: DECIMAL keeps the aggregation
    * order-independent across engines; the final correctly-rounded cast to
    * DOUBLE keeps the output representation identical between Spark and the
    * DuckDB oracle (decimal trailing zeros normalize differently).
    */
  private def decSumAsDouble(c: org.apache.spark.sql.Column) = c.cast("double")

  /** Full scan of the Duplicate-model table (two rowsets union-read). */
  def dupScan(spark: SparkSession, dir: String): DataFrame =
    EngineFixture.get(spark, dir).scan("graft", "orders_dup")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))

  /** Snapshot [0,1]: only the first rowset (even order keys) must be visible
    * (reference snapshot semantics, src/tablet.rs:131-144).
    */
  def snapshotV1(spark: SparkSession, dir: String): DataFrame =
    EngineFixture.get(spark, dir).snapshot("graft", "orders_dup", 0, 1)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** Unique-model merge-on-read: every 10th event must show its v2 value. */
  def uniqueMerge(spark: SparkSession, dir: String): DataFrame =
    EngineFixture.get(spark, dir).scan("graft", "events_unique")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  /** Aggregate-model merge-on-read: Sum/Max/Min across two rowsets. */
  def aggModelMerge(spark: SparkSession, dir: String): DataFrame =
    EngineFixture.get(spark, dir).scan("graft", "sales_agg")
      .select(col("l_orderkey"), decSumAsDouble(dec("qty")).as("qty"),
        col("max_price"), col("min_disc"))

  /** Same result after physical compaction — merge must be idempotent. */
  def compactedScan(spark: SparkSession, dir: String): DataFrame =
    EngineFixture.get(spark, dir).scan("graft", "sales_agg_c")
      .select(col("l_orderkey"), decSumAsDouble(dec("qty")).as("qty"),
        col("max_price"), col("min_disc"))

  /** Partition-pruned scan: only partition p0 (o_orderdate < 1997-01-01) is
    * read — directory-level pruning via the hive partition column, the
    * read-side completion of the reference's write-only `find_partition`
    * (src/partition.rs:172-189).
    */
  def partitionPrune(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.scanPartitions("graft", "orders_dup", Seq("p0"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
  }

  /** Bucket routing visibility: rows per (partition, bucket). FNV-1a fidelity
    * is covered by unit tests AND by the driver oracle: DuckDB rebuilds the
    * identical FNV-1a over UTF-8 bytes via a per-character HUGEINT fold (see
    * the q26 oracle in `oracles` below; BASELINE.md round-2 notes), so this is
    * a full hash-verified row — not rows-only.
    */
  def bucketLayout(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.rawLayout("graft", "orders_dup")
      .groupBy(col(eng.PartCol).as("part"), col(eng.BucketCol).as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Point lookup: driver-side FNV routing -> single-bucket scan + parquet
    * bloom pruning (reference read path B1/R4 at query time).
    */
  def pointLookup(spark: SparkSession, dir: String): DataFrame =
    EngineFixture.get(spark, dir).lookupByKey("graft", "orders_dup", "123")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** Aggregation answered from the materialized rollup (fresh + matching
    * grouping) — the reference's declared-but-empty rollup_indexes
    * (src/partition.rs:74-75) implemented and selected at query time.
    */
  def rollupAggregate(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.rollups.aggregate("graft", "orders_dup",
      groupCols = Seq("o_orderstatus"),
      aggs = Seq(
        ("sum_price_c", "price_c", AggType.Sum),
        ("max_price", "o_totalprice", AggType.Max)))
      .withColumn("sum_price_c", decSumAsDouble(col("sum_price_c")))
  }

  /** Transparent rollup selection: the SAME aggregation as q49, but written
    * against the BASE table scan — no engine aggregate API. The
    * [[graft.plans.RollupRewrite]] optimizer rule (registered via
    * [[graft.GraftExtensions]]) recognizes that the fresh `by_status` rollup
    * covers it and swaps the fact scan for the rollup parquet. The oracle
    * computes the aggregation over the raw data, so a mis-rewrite (missed OR
    * wrong) is caught either way; RollupRewriteSpec asserts the plan actually
    * reads the rollup files.
    */
  def rollupTransparent(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.GraftExtensions.register(spark)
    eng.scan("graft", "orders_dup")
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("price_c")).as("sum_price_c"),
        max(col("o_totalprice")).as("max_price"),
        count(lit(1)).as("n_orders"))
      .withColumn("sum_price_c", decSumAsDouble(col("sum_price_c")))
  }

  /** COUNT(DISTINCT) answered from the rollup's BITMAP column — Doris's
    * bitmap-rollup pattern: the stored rollup keeps one bitmap of customer
    * ids per (status, 32k-bucket); the optimizer rewrites the distinct count
    * to OR-merge + cardinality-sum over those bitmaps. Exact (oracle is
    * plain COUNT(DISTINCT)); at 100 TB the distinct count reads bitmap rows
    * instead of every order.
    */
  def rollupCountDistinct(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.GraftExtensions.register(spark)
    eng.scan("graft", "orders_dup")
      .groupBy(col("o_orderstatus"))
      .agg(count_distinct(col("o_custkey")).as("ndv_cust"),
        count(lit(1)).as("n_orders"))
  }

  /** Transparent join-MV selection: the user writes the full
    * fact⋈dim + GROUP BY against the BASE engine tables; the
    * [[graft.plans.JoinMvRewrite]] optimizer rule recognizes the fresh
    * `sales_by_segment` MV covers it (grouping by a SUBSET of the MV's dims —
    * re-aggregation over the stored partials) and replaces the entire
    * join+aggregate with a scan of the MV parquet: no fact scan, no shuffle,
    * no join. The oracle computes the same answer from the raw tables, so a
    * missed OR wrong rewrite both fail; JoinMvRewriteSpec asserts the plan
    * actually reads MV files and falls back when either table moves.
    */
  def joinMvTransparent(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.GraftExtensions.register(spark)
    eng.scan("graft", "orders_dup")
      .join(eng.scan("graft", "customer_dim"),
        col("o_custkey") === col("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("price_c")).as("sum_price_c"),
        max(col("o_totalprice")).as("max_price"),
        count(lit(1)).as("n_orders"))
      .withColumn("sum_price_c", decSumAsDouble(col("sum_price_c")))
  }

  /** Wall-clock time travel: snapshot as of the instant the FIRST rowset was
    * published — the second load (odd order keys, published strictly later)
    * must be invisible. The as-of instant is read from the live manifest's
    * publication timestamps, so the query is deterministic for any fixture
    * build. Completes the reference's recorded-but-unread `creation_time`
    * (src/meta.rs:95-98) with a read path.
    */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    val t1 = eng.manifest("graft", "orders_dup").visibleRowsets
      .map(_.createdMs).min
    eng.snapshotAsOf("graft", "orders_dup", t1)
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  /** q259: SNAPSHOT DIFF — the corpus-revision compare MVCC makes free: the
    * same table read at two versions (v1 base load vs the latest snapshot,
    * after the delete-tombstone and re-insert loads), full-outer-joined on
    * the key and classified added / removed / updated / unchanged with
    * per-class counts and id bounds. The "what changed between dataset
    * revisions" audit every pipeline release wants, served from ONE table's
    * version history — no second copy of the data exists anywhere.
    *
    * Scale shape: two snapshot reads of the same rowsets (shared files,
    * different version masks), one key-partitioned full-outer join, a
    * 4-row grouped rollup. At 100 TB the diff costs one co-partitioned
    * join — not a cross-revision export.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    val v1 = eng.snapshot("graft", "events_del", 1, 1)
      .select(col("event_id"), col("value").as("value_v1"))
    val now = eng.scan("graft", "events_del")
      .select(col("event_id"), col("value").as("value_now"))
    v1.join(now, Seq("event_id"), "full_outer")
      .select(col("event_id"),
        when(col("value_v1").isNull, "added")
          .when(col("value_now").isNull, "removed")
          .when(col("value_v1") =!= col("value_now"), "updated")
          .otherwise("unchanged").as("change"))
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("change"))
  }

  /** Unique-model delete tombstones: deleted keys vanish from the latest
    * snapshot unless a newer load re-inserted them (see the events_del
    * fixture loads).
    */
  def deleteTombstones(spark: SparkSession, dir: String): DataFrame =
    EngineFixture.get(spark, dir).scan("graft", "events_del")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  /** DELETE WHERE: the predicate is a metadata-only version — matching rows
    * of OLDER rowsets are masked at read time (rows loaded after the delete
    * survive), and full compaction makes it physical. Deleting by predicate
    * never rewrites data; at 100 TB that is one manifest write vs a table
    * rewrite (Doris delete_predicate semantics).
    */
  def deleteWhereScan(spark: SparkSession, dir: String): DataFrame =
    EngineFixture.get(spark, dir).scan("graft", "orders_delw")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  /** HLL COLUMN type (Doris `HLL` with `HLL_UNION`, distinct from the q131
    * rollup sketch): the Aggregate-model table stores one sketch per event
    * type; two rowsets with overlapping users union at merge-on-read and the
    * estimate reads KB of sketches, never the raw events. The driver-hashable
    * form is an accuracy VERDICT: the exact per-type NDV (DuckDB-reproducible)
    * plus a boolean pinning the merged-sketch estimate within 5%. The exact
    * scan exists only for the oracle — Bench times [[hllColumnSketchOnly]].
    */
  /** The ONE estimate read both q134 forms share: merged-sketch NDV from the
    * stored HLL column (verdict form wraps it in an accuracy verdict; Bench
    * times it bare — same expression by construction, see BenchVariantSpec).
    */
  private def hllUsersScan(spark: SparkSession, dir: String): DataFrame =
    EngineFixture.get(spark, dir).scan("graft", "events_hll")
      .select(col("event_type"), col("n"),
        expr("hll_sketch_estimate(hll_users)").as("__ndv_est"))

  def hllColumn(spark: SparkSession, dir: String): DataFrame = {
    val est = hllUsersScan(spark, dir)
    // exact per-type distinct users from the raw stream the fixture loaded;
    // the merged-sketch estimate must land within 5% (DataSketches lgK=12
    // is ~1.6% rse — 5% is a 3-sigma bound) for the oracle-pinned verdict
    val exact = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("__ndv_exact"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("n"),
        (abs(col("__ndv_est") - col("__ndv_exact")) <=
          col("__ndv_exact") * lit(0.05)).as("ndv_ok"))
  }

  /** Bench-time form of q134: read the merged HLL column and estimate —
    * KB of sketches, no raw-event scan (that scan exists only so the
    * verdict form can be oracle-hashed).
    */
  def hllColumnSketchOnly(spark: SparkSession, dir: String): DataFrame =
    hllUsersScan(spark, dir).withColumnRenamed("__ndv_est", "ndv_est")

  /** Colocate join (Doris colocation groups): orders_dup and sales_agg share
    * the 4-bucket FNV hash spec on the order key, so the fact-fact join runs
    * bucket-against-bucket with ZERO shuffle — `ColocateJoinSpec` asserts the
    * plan has no Exchange; this query checks the ANSWER against the raw-data
    * oracle (including the Aggregate-model merge on the sales side).
    */
  def colocateJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.colocateJoin("graft", "orders_dup", "graft", "sales_agg")
      .groupBy(col("o_orderstatus"))
      .agg(decSumAsDouble(sum(dec("qty"))).as("sum_qty"),
        count(lit(1)).as("n_lines"))
  }

  /** Transparent PARTITION pruning: the SAME predicate as q25, but written
    * as a plain filter over the base scan — no partition-naming API. The
    * [[graft.plans.ScanPruneRewrite]] optimizer rule maps the
    * date-range predicate to the one qualifying Range partition and injects
    * a `__graft_part` filter, so the other partitions' directories never
    * open. `PartitionPruneSpec` asserts the file pruning; the oracle
    * catches any wrong partition-interval math.
    */
  def partitionPruneTransparent(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.GraftExtensions.register(spark)
    eng.scan("graft", "orders_dup")
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
  }

  /** Approximate distinct served from the rollup's HLL sketch column —
    * Doris's HLL column type (`hll_union_agg` query shape): the stored
    * rollup keeps one DataSketches HLL per (status, bucket) group; the query
    * unions sketches and estimates once. Explicitly approximate (the exact
    * path is q125's bitmap rewrite), so the driver-hashable form is an
    * accuracy VERDICT: the exact NDV (DuckDB-reproducible) plus a boolean
    * pinning the sketch estimate within 5% (`EngineSpec` mirrors the
    * contract). The exact scan exists only for the oracle — Bench times
    * [[hllDistinctSketchOnly]].
    */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    val approx = eng.rollups.approxDistinct("graft", "orders_dup",
      Seq("o_orderstatus"), "o_custkey", "__ndv_approx")
    // surface the EngineSpec accuracy contract (estimate within 5% of exact)
    // as a driver-hashable verdict next to the oracle-checkable exact NDV
    val exact = eng.scan("graft", "orders_dup")
      .groupBy(col("o_orderstatus"))
      .agg(count_distinct(col("o_custkey")).as("ndv_cust"))
    approx.join(exact, "o_orderstatus")
      .select(col("o_orderstatus"), col("ndv_cust"),
        (abs(col("__ndv_approx") - col("ndv_cust")) <=
          col("ndv_cust") * lit(0.05)).as("hll_ok"))
  }

  /** Bench-time form of q131: serve the distinct estimate from the rollup's
    * stored sketches alone — the whole point of the HLL rollup is that this
    * never touches base data.
    */
  def hllDistinctSketchOnly(spark: SparkSession, dir: String): DataFrame =
    EngineFixture.get(spark, dir).rollups.approxDistinct("graft", "orders_dup",
      Seq("o_orderstatus"), "o_custkey", "ndv_approx")

  /** Transparent bucket pruning: the SAME point query as q27, but written as
    * a plain filter over the base scan — no engine lookup API. The
    * [[graft.plans.ScanPruneRewrite]] optimizer rule routes the literal
    * with the write path's FNV-1a and injects a `__graft_bucket` filter, so
    * the scan opens 1/numBuckets of the directories (then the parquet bloom
    * filter prunes within the bucket). `BucketPruneSpec` asserts the plan
    * really prunes; the oracle catches a wrong-bucket routing (0 rows).
    */
  def bucketPrunePoint(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.GraftExtensions.register(spark)
    eng.scan("graft", "orders_dup")
      .filter(col("o_orderkey") === 123L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }

  /** Metadata-only count(*): answered from manifest rowset counts, no scan. */
  def countMeta(spark: SparkSession, dir: String): DataFrame = {
    val n = EngineFixture.get(spark, dir).countStar("graft", "orders_dup")
    spark.range(1).select(lit(n).as("n"))
  }

  /** q223: MIN/MAX + COUNT answered ENTIRELY from manifest metadata — the
    * rowset zone maps ([[graft.manifest.StatsHarvest]], folded by
    * `OlapEngine.minMaxStats`) and the manifest row counts. Zero files
    * opened, zero tasks: at 100 TB the commonest table-health queries
    * (`SELECT min(ts), max(ts), count(*)`) become driver-side manifest
    * folds. The `require` makes a silent fallback-to-scan a loud failure;
    * the oracle hash pins the served values against a raw recompute.
    */
  def minMaxMeta(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    val (mm, served) = eng.minMaxStats("graft", "orders_dup",
      Seq("o_orderkey", "o_totalprice", "o_orderstatus"))
    require(served, "q223 must serve min/max from the manifest zone maps, " +
      "not a scan fallback")
    mm.withColumn("n_rows", lit(eng.countStar("graft", "orders_dup")))
  }

  /** q228: the TRANSPARENT form of q223 — a plain group-less
    * MIN/MAX/COUNT aggregate written against the base scan, no engine API.
    * [[graft.plans.StatsAggRewrite]] proves the child is exactly the
    * current covering snapshot and replaces the whole subtree with a
    * one-row literal Project served from the manifest zone maps; the
    * `require` pins that the optimized plan reads NO parquet relation at
    * all. Same oracle as q223: one answer, two derivations (API fold vs
    * transparent rewrite).
    */
  def minMaxTransparent(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.GraftExtensions.register(spark)
    val df = eng.scan("graft", "orders_dup").agg(
      min(col("o_orderkey")).as("min_o_orderkey"),
      max(col("o_orderkey")).as("max_o_orderkey"),
      min(col("o_totalprice")).as("min_o_totalprice"),
      max(col("o_totalprice")).as("max_o_totalprice"),
      min(col("o_orderstatus")).as("min_o_orderstatus"),
      max(col("o_orderstatus")).as("max_o_orderstatus"),
      count(lit(1)).as("n_rows"))
    val rels = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }
    require(rels.isEmpty,
      s"q228 must serve entirely from metadata; plan still reads ${rels.size} relation(s)")
    df
  }

  /** q235: transparent METADATA SUM/AVG — the additive completion of q228's
    * MIN/MAX/COUNT serves. events_seg declares `sum_stats_columns`, so each
    * of its three loads harvested an exact per-rowset sum (one delta-sized
    * aggregate over its OWN rows); a plain group-less
    * `sum/avg/count` DataFrame aggregate over the full scan is then
    * replaced by [[graft.plans.StatsAggRewrite]] with a one-row literal
    * Project folded from the manifest — the `require` pins that the
    * optimized plan reads NO parquet relation. Exactness is provable, not
    * hoped-for: integral sums fold in big-integer arithmetic and serve only
    * within Long range (associativity mod 2^64 makes the scan equal), and
    * AVG serves only when no double accumulation order can round
    * (nonNull × maxAbs ≤ 2^53 — see OlapEngine.avgFold). At 100 TB the
    * commonest dashboard aggregates become driver-side manifest folds.
    */
  def sumTransparent(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.GraftExtensions.register(spark)
    val df = eng.scan("graft", "events_seg").agg(
      sum(col("event_id")).as("sum_event"),
      sum(col("user_id")).as("sum_user"),
      avg(col("user_id")).as("avg_user"),
      count(col("user_id")).as("n_user"),
      count(lit(1)).as("n_rows"))
    val rels = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }
    require(rels.isEmpty,
      s"q235 must serve entirely from metadata; plan still reads ${rels.size} relation(s)")
    df
  }

  /** q236: substring scan pruned by the rowset TRIGRAM index (Doris's
    * NGRAM_BF at the rowset tier): `tag LIKE '%at2z%'` can never be refuted
    * by zone maps (containment is orderless), but each load's trigram
    * sidecar ([[graft.manifest.RowsetBloom]] KindNgram) proves two of the
    * three interleaved rowsets lack the needle's grams — the plan is
    * REQUIRED to read exactly ONE parquet relation. The oracle recomputes
    * the tag expression and the LIKE from raw rows. At 100 TB this is the
    * difference between a log-grep touching one day's rowsets and all of
    * them.
    */
  def ngramPruneScan(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.GraftExtensions.register(spark)
    val df = eng.scan("graft", "events_ngram")
      .filter(col("tag").contains("at2z"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        max(col("value")).as("max_value"))
    val rels = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }
    require(rels.size == 1,
      s"q236 must trigram-prune to 1 of 3 rowsets; plan reads ${rels.size}")
    df
  }

  /** q237: Unique-model MERGE-ON-WRITE serve (Doris
    * enable_unique_key_merge_on_write): each load pre-merged its own rows
    * per key at write time, both rowsets carry the keyUnique proof, their
    * leading-key zone maps are disjoint bands, and the op column's zone
    * map proves no tombstones — so the engine serves the scan as a PLAIN
    * UNION, REQUIREd to contain no merge aggregate. The oracle replays the
    * within-load upsert rule (lower-half %10 keys re-sent with value+1000,
    * later-in-load wins) over raw rows: a write-merge that kept the wrong
    * record, or an unmerged serve that leaked a duplicate, flips the
    * digest. At 100 TB this removes the per-query key shuffle from every
    * read of a time-banded Unique table — the model's whole read-time cost.
    */
  def mergeOnWriteServe(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    val snap = eng.scan("graft", "events_mow")
    val aggs = snap.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    require(aggs.isEmpty,
      s"q237 must serve the merge-on-write scan with no merge aggregate; " +
        s"plan holds ${aggs.size}")
    snap.groupBy((col("user_id") % 100).as("ug")).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
  }

  /** q243: the SQL UPDATE verb (Doris `UPDATE tbl SET ... WHERE ...` on the
    * Unique model), already executed at fixture build through the full
    * front door (regex route → claim → exec-time tail split →
    * [[graft.engine.OlapEngine.updateWhere]]). The update resolved its
    * matches from the MERGED snapshot, evaluated both SET expressions
    * against the OLD row, and published ONE upsert rowset at snapshot+1
    * (the optimistic-concurrency contract). The oracle replays the
    * update rule over raw rows: a SET that leaked the new value into a
    * sibling RHS, touched the wrong rows, or lost unmatched keys flips
    * the digest.
    */
  def sqlUpdateScan(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.scan("graft", "events_upd")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"),
        sum(col("user_id")).cast("long").as("sum_user"))
  }

  /** q244: SQL INSERT OVERWRITE PARTITION (Doris insert-overwrite),
    * executed at fixture build through the full front door. The verb is an
    * atomic mask+load pair under one load group: p0's directory mask and
    * the replacement rowset activate together, so no reader ever saw a
    * half-replaced table. The digest groups by partition era — p0 must
    * show ONLY the %3==0 replacement rows (+1M price), p1/pmax must be
    * byte-identical to the original load — and the oracle replays exactly
    * that from raw rows. A mask that leaked onto the new rows (wrong
    * activation order), masked a sibling partition, or a half-applied
    * group all flip the digest.
    */
  def insertOverwriteScan(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.scan("graft", "orders_ow")
      .groupBy(when(col("o_orderdate") < "1997-01-01", "p0")
        .when(col("o_orderdate") < "2000-01-01", "p1")
        .otherwise("pmax").as("part"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
        sum(col("o_orderkey")).cast("long").as("sum_key"))
  }

  /** q245: AUTO_INCREMENT contracts, driver-hashable. Which row got which
    * id depends on partition enumeration order — not SQL-replayable — so
    * the oracle pins the CONTRACT instead (the q50/q145 pattern): ids are
    * dense 1..n across the two id-less loads (count distinct == count,
    * min == 1, max == n) and load 2's block sits strictly above load 1's
    * (reservation-before-use monotonicity). A duplicate id, a skipped
    * block, or interleaved blocks each flip a pinned column.
    */
  def autoIncrementContracts(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.scan("graft", "events_ai").agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("row_id")).as("n_ids"),
      min(col("row_id")).as("min_id"),
      max(col("row_id")).as("max_id"),
      (max(when(col("batch") === 1L, col("row_id"))) <
        min(when(col("batch") === 2L, col("row_id")))).as("batch_ordered"))
  }

  /** q246: GENERATED columns (Doris `col TYPE AS (expr)`) — the table was
    * created through the SQL face and loaded WITHOUT the two derived
    * columns; the engine computed them at ingest (and always recomputes:
    * supplied values can never be loaded). The oracle rebuilds both
    * expressions from raw rows; grouping on one derived column and
    * aggregating the other makes the digest sensitive to every fill.
    */
  def generatedColumnScan(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.scan("graft", "events_gen")
      .groupBy(col("vclass"))
      .agg(count(lit(1)).as("n"),
        sum(col("vbucket")).cast("long").as("sum_bucket"),
        sum(col("event_id")).cast("long").as("sum_id"))
  }

  /** q247: transparent METADATA GROUP BY — the grouped completion of
    * q228/q235's serves. events_dict declares `dict_stats_columns`, so each
    * of its two loads stored an exact per-rowset value histogram; a plain
    * `GROUP BY event_type, count(*), count(event_type)` DataFrame aggregate
    * over the full scan is replaced by [[graft.plans.StatsAggRewrite]]'s
    * grouped path with a LocalRelation folded driver-side — the `require`
    * pins that the plan reads NO parquet relation. Exactness is guarded,
    * not hoped-for: the fold cross-checks its total mass against the
    * manifest row counts, typeTags pin the physical type, and any miss
    * falls back to the scan. The oracle recomputes the groups from raw
    * rows. At 100 TB "rows per class" — the commonest dashboard group-by —
    * costs zero tasks.
    */
  def dictGroupByMeta(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.GraftExtensions.register(spark)
    val df = eng.scan("graft", "events_dict")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), count(col("event_type")).as("n_typed"))
    val rels = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }
    require(rels.isEmpty,
      s"q247 must serve the GROUP BY from metadata; plan still reads " +
        s"${rels.size} relation(s)")
    df
  }

  /** q254: "rows per month" — THE time-series dashboard query — served
    * from metadata: the month is a GENERATED DATE column (derived at
    * ingest from the raw timestamp, so it exists physically and the dict
    * sidecar histograms it per load), and the plain GROUP BY is REQUIREd
    * to read ZERO relations (StatsAggRewrite's grouped path,
    * reconstructing DATE group values from the histogram's string form).
    * Composition is the point: generated columns × dict histograms ×
    * the transparent rewrite, three independent features serving one
    * query no single one could.
    */
  def dateDictGroupBy(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.GraftExtensions.register(spark)
    val df = eng.scan("graft", "orders_dd")
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n"))
    val rels = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }
    require(rels.isEmpty,
      s"q254 must serve the month GROUP BY from metadata; plan still reads " +
        s"${rels.size} relation(s)")
    df
  }

  /** q253: CTAS (Doris `CREATE TABLE ... AS SELECT`) — the table was
    * created through the SQL face with its schema DERIVED from the query
    * output (key flagged from the KEY clause) and loaded in the same
    * statement. The digest re-groups the stored per-customer aggregates;
    * the oracle recomputes them from raw orders — a wrong derived schema,
    * a dropped row, or a mis-keyed load all flip it.
    */
  def ctasScan(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.scan("graft", "orders_ctas")
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("total").cast("decimal(18,2)")).cast("double").as("sum_total"))
  }

  /** q238: per-PARTITION row counts folded ENTIRELY from the manifest — the
    * partition-grain sibling of q223's serves. Each footer harvest also
    * attributed its rows to hive partition directories
    * ([[graft.manifest.RowsetMeta.partRows]]); `SHOW PARTITIONS` surfaces
    * the fold and the oracle recomputes each order's range rung from raw
    * rows. "How big is each day" at 100 TB = a driver-side manifest fold,
    * zero tasks. The `require` makes a silent unknown a loud failure.
    */
  def partitionRowsMeta(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    val counts = eng.partitionRowCounts("graft", "orders_dup")
    require(counts.isDefined,
      "q238 must fold per-partition rows from metadata, not a scan")
    import spark.implicits._
    counts.get.toSeq.filter(_._2 > 0).sortBy(_._1).toDF("name", "num_rows")
  }

  /** q239: ADD COLUMN ... DEFAULT as metadata-only schema evolution (Doris
    * `ADD COLUMN c T DEFAULT "v"`): rowsets written before the column
    * existed read the declared default — filled PER BRANCH in the rowset
    * union, so an explicit NULL written after the add stays NULL — with no
    * data rewrite. The oracle replays the fixture's timeline from raw rows
    * (lower third pre-add ⇒ 'en'; post-add evens 'fr', odds NULL); a read
    * path that null-filled instead of defaulting, or defaulted the
    * post-add NULLs, flips a group.
    */
  def columnDefaultScan(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.scan("graft", "events_cd")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"))
  }

  /** q240: fold-able NDV statistics — per-rowset DataSketches HLL sidecars
    * (built by each load's own delta-sized `hll_sketch_agg` job) UNION
    * driver-side into table-level approximate distinct counts
    * ([[graft.engine.OlapEngine.approxNdv]]) — the ANALYZE statistic that
    * never goes stale, surfaced in SHOW STATS. The sketch estimate is not
    * SQL-reproducible bit-for-bit, so the driver-hashable form is the
    * accuracy CONTRACT (the q131 pattern): exact NDVs beside booleans
    * pinning the sketch within 5% (lgK=12 ⇒ ~1.6% expected). The `require`
    * makes a silent fold failure loud.
    */
  def ndvStats(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    val ndvId = eng.approxNdv("graft", "events_seg", "event_id")
    val ndvUser = eng.approxNdv("graft", "events_seg", "user_id")
    require(ndvId.isDefined && ndvUser.isDefined,
      "q240 must fold NDV from the per-rowset sketches, not a scan")
    val exact = eng.scan("graft", "events_seg").agg(
      count_distinct(col("event_id")).as("exact_id"),
      count_distinct(col("user_id")).as("exact_user")).head
    spark.range(1).select(
      lit(exact.getLong(0)).as("exact_id"),
      lit(exact.getLong(1)).as("exact_user"),
      (abs(lit(ndvId.get) - exact.getLong(0)) <=
        lit(0.05) * exact.getLong(0)).as("ndv_id_ok"),
      (abs(lit(ndvUser.get) - exact.getLong(1)) <=
        lit(0.05) * exact.getLong(1)).as("ndv_user_ok"))
  }

  /** q242: plain SQL SELECT straight over an engine table — no `AS SCAN`
    * view ceremony. The front door's parse-time splice
    * ([[graft.sql.GraftSql.resolveEngineRelations]]) replaces the two-part
    * relation with the engine's merged snapshot, so the Unique model's
    * latest-wins semantics ride an ordinary `spark.sql`-shaped statement.
    * The oracle replays the fixture's upsert rule from raw rows: a splice
    * that read raw parquet behind the manifest's back (skipping the merge)
    * flips every %10 group's sum.
    */
  def sqlDirectSelect(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.sql.GraftSql.bind(spark, eng)
    graft.sql.GraftSql.sql(spark,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM graft.events_unique GROUP BY event_type""".stripMargin)
  }

  /** Bench-time form of q240: the sketch fold alone — the whole point of
    * shipping NDV sidecars with every write is that the statistic costs a
    * driver-side union, zero tasks (the verdict form's exact
    * count_distinct scan exists only for the oracle).
    */
  def ndvStatsServeOnly(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    spark.range(1).select(
      lit(eng.approxNdv("graft", "events_seg", "event_id").getOrElse(-1.0)).as("ndv_id"),
      lit(eng.approxNdv("graft", "events_seg", "user_id").getOrElse(-1.0)).as("ndv_user"))
  }

  /** q275: stats-informed broadcast planning
    * ([[graft.plans.StatsBroadcastRewrite]]) over a merged dimension under
    * heavy version churn. `dim_hot` holds 12 full upsert loads of one key
    * slice, so any file-size estimate of its merge view is ~12× the live
    * size — the shape where Spark shuffles the whole fact side of a join
    * that should broadcast (at 100 TB, the single most expensive wrong plan
    * decision). The manifest's NDV sidecars bound the merged side at one
    * row per key; the verdict row pins the chain end to end (the q240
    * accuracy-contract pattern): `bound_holds` — the metadata byte bound
    * covers the exact merged size; `bound_tight` — within 4× of it;
    * `fired` — at a threshold strictly between the bound and Spark's own
    * estimate, the optimized plan carries the BROADCAST hint and the
    * physical plan is a broadcast hash join; `shuffles_when_off` — the same
    * threshold with the rule disabled plans no broadcast (the flip is the
    * rule's doing, not native estimation). The joined aggregate rides the
    * same rows, hash-pinned against the oracle's replay of the merge
    * (latest load wins ⇒ value + 1200).
    */
  /** dim_hot (q275's fixture table, built LAZILY on first use so the 12
    * ingest jobs don't tax every other engine query's fixture): a Unique
    * dim under heavy version churn — 12 full upsert loads of the same key
    * slice, raw bytes ≈ 12× the live merged size, NDV sketches on the key.
    */
  private def dimHot(spark: SparkSession, dir: String): DataFrame =
    EngineFixture.synchronized {
      val eng = EngineFixture.get(spark, dir)
      if (eng.catalog.getTable("graft", "dim_hot").isEmpty) {
        eng.createTable(TableDef(
          db = "graft", name = "dim_hot",
          schema = TableSchema(KeysType.Unique, Seq(
            ColumnSpec.key("event_id", LongType),
            ColumnSpec.value("value", DoubleType))),
          bucketColumn = Some("event_id"), numBuckets = 4,
          ndvStatsColumns = Seq("event_id")))
        val hot = Tables.events(spark, dir)
          .filter(col("event_id") % 3 === 0)
          .select(col("event_id"), col("value"))
        (1 to 12).foreach { v =>
          eng.ingest("graft", "dim_hot",
            hot.withColumn("value", col("value") + lit(100.0 * v)),
            Some(Version(v, v)))
        }
      }
      eng.scan("graft", "dim_hot")
    }

  /** Bench-time form of q275: the fact ⋈ merged-dim aggregate alone, under
    * the session's live planning (rule armed). The audit plumbing — exact
    * merged count, double planning with the rule toggled — exists only so
    * the oracle can hash a verdict.
    */
  def statsBroadcastServeOnly(spark: SparkSession, dir: String): DataFrame = {
    val dim = dimHot(spark, dir)
    Tables.events(spark, dir).select(col("event_id"), col("event_type"))
      .join(dim, "event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.queries.Relational.moneySum(col("value")).as("total"))
  }

  def statsBroadcastJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join => LJoin}
    val dim = dimHot(spark, dir)
    val fact = Tables.events(spark, dir).select(col("event_id"), col("event_type"))
    def joined = fact.join(dim, "event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.queries.Relational.moneySum(col("value")).as("total"))
    val dimPlan = dim.queryExecution.optimizedPlan
    val bound = graft.plans.StatsBroadcastRewrite.estimatedBytes(dimPlan)
      .getOrElse(sys.error("q275: no metadata bound for dim_hot's merge view"))
    val exactBytes = dim.count() *
      (8.0 + dimPlan.output.map(_.dataType.defaultSize).sum)
    // the estimate the PLANNER actually compares: the dim side's stats
    // inside the optimized join (pruning can move it off the standalone
    // plan's number), measured with the rule out of the way
    def ruleOff[T](body: => T): T =
      graft.GraftExtensions.withoutRules(spark, graft.plans.StatsBroadcastRewrite)(body)
    val native = ruleOff {
      joined.queryExecution.optimizedPlan.collectFirst {
        case j: LJoin => j.right.stats.sizeInBytes.toDouble
      }.getOrElse(sys.error("q275: no join in the optimized plan"))
    }
    require(bound < native,
      s"q275 premise: metadata bound $bound must undercut native estimate $native")
    val thr = ((bound + native) / 2).toLong
    def inspect(): (Boolean, Boolean) = {
      val qe = joined.queryExecution
      val hinted = qe.optimizedPlan.collectFirst {
        case j: LJoin if j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
            j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) => true
      }.getOrElse(false)
      // build-side-qualified: a natively-broadcast small FACT side
      // (BuildLeft) must not count as the rule's flip
      val dimBroadcast = "BroadcastHashJoin.*BuildRight".r
        .findFirstIn(qe.executedPlan.toString).nonEmpty
      (hinted, dimBroadcast)
    }
    def planWith(on: Boolean): (Boolean, Boolean) = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr.toString)
      try if (on) inspect() else ruleOff(inspect())
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    val (hintedOn, bhjOn) = planWith(true)
    val (hintedOff, bhjOff) = planWith(false)
    joined
      .withColumn("bound_holds", lit(bound >= exactBytes))
      .withColumn("bound_tight", lit(bound <= 4.0 * exactBytes))
      .withColumn("fired", lit(hintedOn && bhjOn))
      .withColumn("shuffles_when_off", lit(!hintedOff && !bhjOff))
  }

  /** q229: exact ORDER BY ... LIMIT k with ZONE-MAP rowset selection
    * (`OlapEngine.topKByStats`): the top-100 event ids live entirely in
    * events_seg's third (highest-band) load, so the two-phase bound
    * refinement reads ONE of the three rowsets — `require`-pinned — and
    * the oracle pins exactness against a full-table sort. On a year of
    * daily loads this is a 1–2-rowset read instead of a 365-way sort.
    */
  def topKServe(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    val (df, rowsetsRead) = eng.topKByStats("graft", "events_seg", "event_id", 100)
    require(rowsetsRead == 1,
      s"zone-map top-k must read 1 of events_seg's 3 rowsets, read $rowsetsRead")
    df.select(col("event_id"), col("user_id"), col("value"))
  }

  /** q230: point lookup pruned by the rowset BLOOM skipping index
    * ([[graft.manifest.RowsetBloom]]): events_bloom's three loads interleave
    * by `event_id % 3`, so every rowset spans the full id range and zone
    * maps (q224's tier) can never separate them — yet the plan is REQUIRED
    * to read exactly ONE parquet relation, because the other two rowsets'
    * bloom sidecars exclude the key at optimization time. At a year of
    * interleaved-key loads this is the difference between a point lookup
    * touching 1–2 rowsets and touching all 365.
    */
  def bloomPruneLookup(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.GraftExtensions.register(spark)
    val maxId = Tables.events(spark, dir).agg(max(col("event_id"))).head.getLong(0)
    val k = maxId - (maxId % 3) // ≡ 0 (mod 3): lives in the FIRST load
    val df = eng.scan("graft", "events_bloom")
      .filter(col("event_id") === k)
      .select(col("event_id"), col("user_id"), col("value"))
    val rels = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }
    require(rels.size == 1,
      s"bloom must prune 2 of events_bloom's 3 rowsets; plan reads ${rels.size}")
    df
  }

  /** q231: zone-map top-k on a UNIQUE table — the subset read is merged on
    * read. events_useg has a lower band (v1), an upper band (v2), and a v3
    * upsert of every 10th upper key: the top-100 lives in the upper band,
    * so the lower band prunes (REQUIRE reads 2 of 3 rowsets) while the
    * merged output must show the v3 values — exactness across
    * merge-on-read, pinned by an oracle that replays the upsert rule.
    */
  def topKUniqueServe(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    val (df, rowsetsRead) =
      eng.topKByStats("graft", "events_useg", "event_id", 100)
    require(rowsetsRead == 2,
      s"unique top-k must read the upper band + its upsert rowset (2 of 3), read $rowsetsRead")
    df.select(col("event_id"), col("user_id"), col("value"))
  }

  /** q232: metadata-served key MIN/MAX on a UNIQUE table: merge-on-read
    * collapses upserts but never changes the key column's value set, and
    * the op column's own zone map proves the covering set tombstone-free —
    * so the manifest fold is exact with zero files opened (REQUIREd).
    */
  def minMaxUniqueServe(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    val (df, fromMeta) = eng.minMaxStats("graft", "events_useg", Seq("event_id"))
    require(fromMeta,
      "unique key MIN/MAX must serve from metadata on a tombstone-free covering set")
    df
  }

  /** q233: metadata-served key MIN/MAX on an AGGREGATE table: partial
    * aggregations merge values per key but every raw key survives into the
    * merged output (and the model has no tombstones), so the manifest fold
    * over key bounds is exact — zero files opened (REQUIREd).
    */
  def minMaxAggServe(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    val (df, fromMeta) = eng.minMaxStats("graft", "sales_agg", Seq("l_orderkey"))
    require(fromMeta,
      "aggregate-model key MIN/MAX must serve from metadata")
    df
  }

  /** q234: zone-map top-k on an AGGREGATE table — the candidate subset is
    * merged on read, so the returned rows carry the SUMMED values across
    * sales_agg's two parity-interleaved loads (both are candidates here:
    * their key ranges fully overlap; the serve is REQUIREd not to have
    * fallen back, and the oracle recomputes the grouped sums from raw
    * lineitem rows).
    */
  def topKAggServe(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    val (df, rowsetsRead) =
      eng.topKByStats("graft", "sales_agg", "l_orderkey", 100)
    require(rowsetsRead == 2,
      s"aggregate top-k must SERVE over both interleaved rowsets, read $rowsetsRead")
    df.select(col("l_orderkey"), decSumAsDouble(dec("qty")).as("qty"),
      col("max_price"), col("min_disc"))
  }

  /** q226: percentiles SERVED from the engine-maintained histogram table —
    * the quantile member of the sketch-as-Aggregate-table family
    * (CMS q184, HLL q131, bitmap q124). The scan Sum-merges the two loads'
    * partial histograms; the estimates are deterministic interpolations the
    * oracle replays bit-for-bit (cells AND estimates), so the hash pins the
    * whole pipeline: binning, MVCC merge, cumulative walk.
    */
  def engineQuantile(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Quantile.percentileFromHist(
      EngineFixture.get(spark, dir).scan("graft", "hist_agg"),
      lo = 0.0, width = 5.0, qs = Seq(0.5, 0.9, 0.99))

  /** q225: the version-keyed RESULT CACHE serving a dashboard aggregate.
    * The first `cached` call computes and stores the result keyed by the
    * table's visible version + schema signature; the second call is
    * REQUIRED to hit (a silent recompute fails loudly). The oracle pins the
    * served parquet's content against a raw recompute — and because the
    * fingerprint moves on every answer-changing commit (`ResultCacheSpec`
    * pins ingest/rename invalidation and compaction survival), a hit can
    * never serve stale rows. At 100 TB the second dashboard refresh costs
    * one small parquet read instead of the scan.
    */
  def cachedAggServe(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    def compute = eng.scan("graft", "orders_dup")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price_c")).as("sum_price"))
      .withColumn("sum_price", col("sum_price").cast("double"))
    eng.results.cached("q225", Seq(("graft", "orders_dup")), compute)
    val (served, hit) = eng.results.cached("q225",
      Seq(("graft", "orders_dup")), compute)
    require(hit, "q225 must serve from the result cache on the second call")
    served
  }

  /** q224: transparent ROWSET pruning by manifest zone maps. The filter's
    * bound is re-derived with the same arithmetic the fixture used to split
    * the loads, so the predicate excludes two of the three rowsets by
    * range; [[graft.plans.ScanPruneRewrite]] collapses their branches at
    * optimization time and the `require` pins that the final plan reads
    * exactly ONE parquet relation. On a year of versioned loads this is
    * the difference between touching one day's rowsets and all of them —
    * before any directory is listed.
    */
  def rowsetPruneScan(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.GraftExtensions.register(spark)
    val maxId = Tables.events(spark, dir).agg(max(col("event_id"))).head.getLong(0)
    val k2 = (2 * maxId) / 3
    val df = eng.scan("graft", "events_seg")
      .filter(col("event_id") > k2)
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_user"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
    val rels = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }
    require(rels.size == 1,
      s"zone maps must prune 2 of events_seg's 3 rowsets; plan reads ${rels.size}")
    df
  }

  /** Incremental (CDC-style) read: only the rows added in version range
    * [2,3] — the second rowset load (odd order keys). Version-range snapshot
    * reads make every downstream consumer incremental: process the delta
    * since the last consumed version instead of re-scanning the table (the
    * read-side use of the reference's version edges, src/tablet.rs:131-144).
    */
  def incrementalRead(spark: SparkSession, dir: String): DataFrame =
    EngineFixture.get(spark, dir).snapshot("graft", "orders_dup", 2, 3)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  /** Partial-update merge-on-read: each value column resolves independently
    * to the newest load that set it (see the orders_partial fixture loads).
    */
  def partialUpdateScan(spark: SparkSession, dir: String): DataFrame =
    EngineFixture.get(spark, dir).scan("graft", "orders_partial")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))

  /** q184: probe the Count-Min matrix SERVED from the Aggregate-model table
    * (Sum-merged across two MVCC loads at read) with the exact heavy-hitter
    * probes — must equal q169's from-scratch matrix cell-for-cell, which the
    * shared oracle hash-pins. The engine-maintained third member of the CMS
    * family (batch q169, streaming q179): sketch updates arrive as plain
    * loads carrying d×w partials, and compaction/merge-on-read IS the
    * sketch merge — at 100 TB the matrix never rebuilds from raw tokens.
    */
  def engineCountMin(spark: SparkSession, dir: String): DataFrame = {
    val cells = EngineFixture.get(spark, dir).scan("graft", "cms_agg")
    val tokens = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
    graft.pipeline.Frequency.cmsProbe(
      cells, graft.pipeline.Frequency.heavyHittersOf(tokens, 29), d = 4, w = 512)
  }

  /** q186: the partition layout a dynamically-partitioned load produced —
    * read back from the hive partition column of the raw rowset scan, so
    * the oracle (which recomputes each order's month partition from the
    * data) verifies BOTH halves of the feature: the ladder the load minted
    * and the routing of every row into it.
    */
  def dynamicPartitionLayout(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.rawLayout("graft", "orders_auto")
      .groupBy(col(eng.PartCol).as("part"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** q188: the surviving layout after the dynamic lifecycle ran BOTH halves
    * on one load — self-extension minted a partition per month, then expiry
    * retired all but the newest 12 as delete-predicate versions. The raw
    * scan applies those predicates, so the oracle (which recomputes each
    * order's month partition and keeps the newest 12 by name) verifies the
    * ladder, the routing, AND that expiry masked exactly the retired
    * partitions' rows — while `DynamicPartitionSpec` pins that the expired
    * rows are still time-travel-visible (versions, not file deletion).
    */
  def partitionExpiryLayout(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.rawLayout("graft", "orders_dyn")
      .groupBy(col(eng.PartCol).as("part"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** q199: the dead-letter quarantine's CONTENT after a late load into the
    * expired range — grouped by month so the oracle (which recomputes the
    * late-load rows straight from the data) verifies both halves of the
    * policy at once: every late row was quarantined (nothing lost to the
    * empty main publish) and ONLY late rows were (nothing routable leaked
    * into the quarantine). The main-table exclusion side is spec-pinned
    * (`DynamicPartitionSpec`).
    */
  def deadLetterQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.deadLetterScan("graft", "orders_dlq")
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyyMMdd")
        .as("m"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** q204: the shallow clone's content after both sides diverged — grouped
    * by month with an exact decimal money sum, so the hash pins all three
    * clone properties at once: the borrowed rowsets still serve (zero-copy
    * references resolve), the clone sees the source AS OF clone time (no
    * leak-in from later source state), and its own divergent load (every
    * 100th key re-ingested, so those orders count twice) landed only here.
    */
  def cloneDiverged(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.scan("graft", "orders_clone")
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyyMMdd")
        .as("m"))
      .agg(count(lit(1)).as("n_rows"),
        decSumAsDouble(sum(col("price_c"))).as("total"))
  }

  /** q209: the restored table's head — load2 rolled back by a metadata-only
    * RESTORE, load3 landed after it. The month/count/decimal-sum hash pins
    * both halves: nothing of the bad load survives at head, nothing of the
    * good loads was lost to the rollback.
    */
  def restoredScan(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    eng.scan("graft", "orders_restore")
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyyMMdd")
        .as("m"))
      .agg(count(lit(1)).as("n_rows"),
        decSumAsDouble(sum(col("price_c"))).as("total"))
  }

  /** q210: the SQL-front-door table's head, read back through a SQL scan
    * view. The whole lifecycle behind it (create / insert / bad-load
    * restore / delete / late insert) ran as `GraftSql.sql` statements in
    * the fixture; the hash pins all three lifecycle facts at once — the
    * rolled-back load absent, the delete holding, the post-restore load
    * present.
    */
  def sqlLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.sql.GraftSql.bind(spark, eng)
    graft.sql.GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW q210_head AS SCAN graft.orders_sql").collect()
    spark.sql(
      """SELECT date_format(date_trunc('month', o_orderdate), 'yyyyMMdd') AS m,
        |  count(1) AS n_rows, CAST(sum(price_c) AS DOUBLE) AS total
        |FROM q210_head GROUP BY 1""".stripMargin)
  }

  private val restartCache =
    scala.collection.concurrent.TrieMap.empty[String, OlapEngine]

  /** q222: the SELF-DESCRIBING-warehouse restart, oracle-checked. The
    * fixture builds a table + rollup entirely through the SQL face, then
    * COPIES the warehouse to a fresh path and opens a brand-new engine over
    * it with ZERO DDL replay — the persisted catalog restores the table,
    * the persisted registration re-arms the rollup rewrite. The query runs
    * on the restarted engine and REQUIRES the plan to read the reloaded
    * rollup's parquet (a restart that silently fell back to base scans
    * fails loudly, not slowly); the hash pins the values against a raw-data
    * recompute. The copy (not a same-path reopen) is what makes the
    * assertion honest: the rewrite registries are JVM-global and keyed by
    * path, so only on-disk state can serve the new path.
    */
  def warehouseRestartServe(spark: SparkSession, dir: String): DataFrame = {
    val eng2 = restartCache.getOrElseUpdate(dir, {
      val eng = new OlapEngine(spark, graft.FastTmp.newDir("graft-q222-"))
      graft.sql.GraftSql.bind(spark, eng)
      spark.read.parquet(s"$dir/orders.parquet")
        .withColumn("price_c", col("o_totalprice").cast("decimal(18,2)"))
        .createOrReplaceTempView("graft_q222_raw")
      def sql(s: String): Unit = graft.sql.GraftSql.sql(spark, s).collect(): Unit
      sql("""CREATE DATABASE IF NOT EXISTS g222""")
      sql("""CREATE TABLE g222.orders (
            |  o_orderkey BIGINT, o_orderpriority VARCHAR(15), price_c DECIMAL(18, 2)
            |) DUPLICATE KEY (o_orderkey)
            |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin)
      sql("INSERT INTO g222.orders SELECT o_orderkey, o_orderpriority, price_c " +
        "FROM graft_q222_raw")
      sql("ALTER TABLE g222.orders ADD ROLLUP by_prio (o_orderpriority) " +
        "AGG (SUM(price_c) AS sum_price, COUNT(*) AS n)")
      graft.sql.GraftSql.unbind(spark)
      // "restart": copy the warehouse, open a fresh engine, replay NOTHING
      val dst = graft.FastTmp.newDir("graft-q222-restart-")
      def copyDir(src: java.nio.file.Path, to: java.nio.file.Path): Unit = {
        import scala.jdk.CollectionConverters._
        Files.walk(src).iterator().asScala.foreach { p =>
          val t = to.resolve(src.relativize(p))
          if (Files.isDirectory(p)) Files.createDirectories(t)
          else { Files.createDirectories(t.getParent); Files.copy(p, t); () }
        }
      }
      copyDir(eng.warehouse, dst)
      new OlapEngine(spark, dst)
    })
    graft.GraftExtensions.register(spark)
    val df = eng2.scan("g222", "orders")
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("price_c")).as("sum_price"), count(lit(1)).as("n_orders"))
      .withColumn("sum_price", col("sum_price").cast("double"))
    val leaves = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten
    require(leaves.exists(_.contains("rollups/by_prio/")),
      s"q222 must serve from the RELOADED rollup after the zero-DDL restart; " +
        s"read instead: ${leaves.mkString(", ")}")
    df
  }

  /** q220: an aggregate phrased in the POST-RENAME column name, REQUIRED to
    * be served from the rollup that was defined pre-rename — the
    * rename-following re-materialize (`RollupManager.renameColumn`) in one
    * oracle-checked query. The plan assertion makes "silently stood down
    * and recomputed from base" a loud failure, not a quiet slowdown; the
    * hash pins the re-materialized content. SHOW ROLLUPS must also list
    * the rollup as fresh under the same SQL face that created it.
    */
  def rollupRenameServe(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.GraftExtensions.register(spark)
    graft.sql.GraftSql.bind(spark, eng)
    val shown = graft.sql.GraftSql
      .sql(spark, "SHOW ROLLUPS IN graft.orders_rr").collect()
    require(shown.exists(r => r.getAs[String]("name") == "rr_status" &&
        r.getAs[String]("aggs").contains("amount_c") &&
        r.getAs[Boolean]("fresh")),
      s"SHOW ROLLUPS must list rr_status fresh under the renamed source: " +
        shown.mkString("; "))
    val df = eng.scan("graft", "orders_rr")
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("amount_c")).as("sum_amount"),
        count(lit(1)).as("n_orders"))
      .withColumn("sum_amount", col("sum_amount").cast("double"))
    val leaves = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten
    require(leaves.exists(_.contains("rollups/rr_status/")),
      s"q220 must serve from the renamed-and-rematerialized rollup, " +
        s"read instead: ${leaves.mkString(", ")}")
    df
  }

  /** q216: the re-bucketed table's head. The fixture ran a full Unique
    * lifecycle (two loads, an upsert band, a key-ranged delete) and then
    * rewrote the physical layout 2 → 7 buckets via
    * `ALTER TABLE ... DISTRIBUTED BY HASH(...) BUCKETS 7`
    * ([[graft.engine.OlapEngine.rebucket]]), then loaded more rows under
    * the new routing. The hash pins content preservation through the
    * layout rewrite: upserts still win, deletes stay deleted, pre- and
    * post-rebucket loads serve together.
    */
  def rebucketScan(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.sql.GraftSql.bind(spark, eng)
    graft.sql.GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW q216_head AS SCAN graft.orders_rb").collect()
    spark.sql(
      """SELECT date_format(date_trunc('month', o_orderdate), 'yyyyMMdd') AS m,
        |  count(1) AS n_rows, CAST(sum(price_c) AS DOUBLE) AS total
        |FROM q216_head GROUP BY 1""".stripMargin)
  }

  /** q217: the renamed table's head under its CURRENT names. Three loads
    * landed under three physical namings (price_c; price_r; price_r with a
    * renamed key), plus an upsert band crossing the first rename; the hash
    * pins that every era serves under the current declared names and that
    * Unique latest-wins resolved across the rename — a read path that
    * null-backfilled instead of renaming, or a merge that treated the eras
    * as different columns, flips a month's sum or count.
    */
  def renameScan(spark: SparkSession, dir: String): DataFrame = {
    val eng = EngineFixture.get(spark, dir)
    graft.sql.GraftSql.bind(spark, eng)
    graft.sql.GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW q217_head AS SCAN graft.orders_rn").collect()
    spark.sql(
      """SELECT date_format(date_trunc('month', o_orderdate), 'yyyyMMdd') AS m,
        |  count(1) AS n_rows, CAST(sum(price_r) AS DOUBLE) AS total_r
        |FROM q217_head GROUP BY 1""".stripMargin)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q223_minmax_metadata" -> minMaxMeta _,
    "q224_rowset_prune" -> rowsetPruneScan _,
    "q225_result_cache" -> cachedAggServe _,
    "q226_engine_quantile" -> engineQuantile _,
    "q228_minmax_transparent" -> minMaxTransparent _,
    "q235_sum_transparent" -> sumTransparent _,
    "q236_ngram_prune" -> ngramPruneScan _,
    "q237_merge_on_write" -> mergeOnWriteServe _,
    "q238_partition_rows_meta" -> partitionRowsMeta _,
    "q239_column_default" -> columnDefaultScan _,
    "q240_ndv_stats" -> ndvStats _,
    "q275_stats_broadcast" -> statsBroadcastJoin _,
    "q242_sql_direct_select" -> sqlDirectSelect _,
    "q243_sql_update" -> sqlUpdateScan _,
    "q244_insert_overwrite" -> insertOverwriteScan _,
    "q245_auto_increment" -> autoIncrementContracts _,
    "q246_generated_column" -> generatedColumnScan _,
    "q247_dict_groupby_meta" -> dictGroupByMeta _,
    "q253_sql_ctas" -> ctasScan _,
    "q254_date_dict_meta" -> dateDictGroupBy _,
    "q229_topk_zonemap" -> topKServe _,
    "q230_bloom_prune" -> bloomPruneLookup _,
    "q231_topk_unique" -> topKUniqueServe _,
    "q232_minmax_unique" -> minMaxUniqueServe _,
    "q233_minmax_agg" -> minMaxAggServe _,
    "q234_topk_agg" -> topKAggServe _,
    "q217_rename_column" -> renameScan _,
    "q216_rebucket_lifecycle" -> rebucketScan _,
    "q210_sql_lifecycle" -> sqlLifecycle _,
    "q220_rollup_rename_serve" -> rollupRenameServe _,
    "q222_warehouse_restart" -> warehouseRestartServe _,
    "q209_restore_version" -> restoredScan _,
    "q204_shallow_clone" -> cloneDiverged _,
    "q199_dead_letter_quarantine" -> deadLetterQuarantine _,
    "q188_partition_expiry" -> partitionExpiryLayout _,
    "q186_dynamic_partition" -> dynamicPartitionLayout _,
    "q184_engine_count_min" -> engineCountMin _,
    "q108_engine_partial_update" -> partialUpdateScan _,
    "q127_delete_where" -> deleteWhereScan _,
    "q128_bucket_prune" -> bucketPrunePoint _,
    "q131_hll_distinct" -> hllDistinct _,
    "q133_colocate_join" -> colocateJoinAgg _,
    "q134_hll_column" -> hllColumn _,
    "q137_partition_prune_transparent" -> partitionPruneTransparent _,
    "q73_engine_incremental" -> incrementalRead _,
    "q63_engine_delete" -> deleteTombstones _,
    "q259_snapshot_diff" -> snapshotDiff _,
    "q64_engine_count_meta" -> countMeta _,
    "q49_engine_rollup" -> rollupAggregate _,
    "q121_rollup_transparent" -> rollupTransparent _,
    "q122_time_travel" -> timeTravel _,
    "q126_join_mv_transparent" -> joinMvTransparent _,
    "q125_rollup_count_distinct" -> rollupCountDistinct _,
    "q27_engine_point_lookup" -> pointLookup _,
    "q20_engine_dup_scan" -> dupScan _,
    "q21_engine_snapshot_v1" -> snapshotV1 _,
    "q22_engine_unique_merge" -> uniqueMerge _,
    "q23_engine_agg_merge" -> aggModelMerge _,
    "q24_engine_compacted" -> compactedScan _,
    "q25_engine_partition_prune" -> partitionPrune _,
    "q26_engine_bucket_layout" -> bucketLayout _,
  )

  val oracles: Map[String, String] = Map(
    // q223: the engine serves these from manifest zone maps + row counts
    // (no scan — the query REQUIRES the metadata path); the oracle
    // recomputes them from the raw rows
    "q223_minmax_metadata" ->
      """SELECT min(o_orderkey) AS min_o_orderkey, max(o_orderkey) AS max_o_orderkey,
        |  min(o_totalprice) AS min_o_totalprice, max(o_totalprice) AS max_o_totalprice,
        |  min(o_orderstatus) AS min_o_orderstatus, max(o_orderstatus) AS max_o_orderstatus,
        |  count(*) AS n_rows
        |FROM orders""".stripMargin,
    // q228: q223's oracle verbatim — API fold and transparent Catalyst
    // rewrite must produce the same metadata-served row
    "q228_minmax_transparent" ->
      """SELECT min(o_orderkey) AS min_o_orderkey, max(o_orderkey) AS max_o_orderkey,
        |  min(o_totalprice) AS min_o_totalprice, max(o_totalprice) AS max_o_totalprice,
        |  min(o_orderstatus) AS min_o_orderstatus, max(o_orderstatus) AS max_o_orderstatus,
        |  count(*) AS n_rows
        |FROM orders""".stripMargin,
    // q235: the engine serves these from the manifest's exact per-rowset
    // sums + zone-map null counts (zero relations in the plan, REQUIREd);
    // the oracle recomputes from raw rows — avg spelled as exact-sum/count,
    // which is bit-identical to the served division (sum ≤ 2^53 here)
    "q235_sum_transparent" ->
      """SELECT CAST(sum(event_id) AS BIGINT) AS sum_event,
        |  CAST(sum(user_id) AS BIGINT) AS sum_user,
        |  CAST(CAST(sum(user_id) AS DOUBLE) / count(user_id) AS DOUBLE) AS avg_user,
        |  count(user_id) AS n_user, count(*) AS n_rows
        |FROM events""".stripMargin,
    // q236: the oracle rebuilds the fixture's tag expression and recomputes
    // the LIKE from raw rows; the engine answers it scanning ONE of the
    // three interleaved rowsets (trigram-pruned, plan-asserted)
    "q236_ngram_prune" ->
      """SELECT count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  max(value) AS max_value
        |FROM events
        |WHERE (CAST(event_id AS VARCHAR) || 'at' ||
        |       CAST(event_id % 3 AS VARCHAR) || 'z') LIKE '%at2z%'""".stripMargin,
    // q237: the oracle replays the fixture's within-load upsert rule over
    // raw rows; the engine's answer comes from two write-merged rowsets
    // unioned with NO merge aggregate (plan-asserted in the query)
    "q237_merge_on_write" ->
      """SELECT user_id % 100 AS ug, count(*) AS n,
        |  CAST(sum(CAST(CASE WHEN event_id <= (SELECT max(event_id) // 2 FROM events)
        |                      AND event_id % 10 = 0
        |                 THEN value + 1000.0 ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1""".stripMargin,
    // q238: the oracle replays orders_dup's range-rung routing from raw
    // rows; the engine folds the same counts from the manifest's
    // per-partition harvest (REQUIREd — zero tasks)
    "q238_partition_rows_meta" ->
      """SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN 'p0'
        |            WHEN o_orderdate < TIMESTAMP '2000-01-01' THEN 'p1'
        |            ELSE 'pmax' END AS name, count(*) AS num_rows
        |FROM orders GROUP BY 1""".stripMargin,
    // q239: the oracle replays the ADD COLUMN DEFAULT timeline from raw
    // rows — pre-add third defaults 'en', post-add evens 'fr', odds NULL
    "q239_column_default" ->
      """SELECT CASE WHEN event_id <= (SELECT max(event_id) // 3 FROM events) THEN 'en'
        |            WHEN event_id % 2 = 0 THEN 'fr' END AS lang,
        |  count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM events GROUP BY 1""".stripMargin,
    // q240: exact NDVs recomputed from raw rows; the sketch estimates are
    // pinned by accuracy-contract booleans (the q131 pattern — sketches
    // are not SQL-reproducible bit-for-bit)
    "q240_ndv_stats" ->
      """SELECT count(DISTINCT event_id) AS exact_id,
        |  count(DISTINCT user_id) AS exact_user,
        |  true AS ndv_id_ok, true AS ndv_user_ok
        |FROM events""".stripMargin,
    // q242: the oracle replays events_unique's %10 upsert rule from raw
    // rows; the engine answers through a plain SQL SELECT over the
    // q275: the oracle replays dim_hot's merge (12 upsert loads, latest
    // wins ⇒ value + 1200 on the %3 key slice) through the fact join, and
    // pins the planning verdicts TRUE — a bound that stops holding, stops
    // firing, or fires without the rule flips a hashed boolean
    "q275_stats_broadcast" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value + 1200.0 AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  TRUE AS bound_holds, TRUE AS bound_tight,
        |  TRUE AS fired, TRUE AS shuffles_when_off
        |FROM events WHERE event_id % 3 = 0
        |GROUP BY event_type""".stripMargin,
    // spliced-in merged snapshot
    "q242_sql_direct_select" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(CASE WHEN event_id % 10 = 0 THEN value + 1000.0
        |                     ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type""".stripMargin,
    // q243: the oracle replays the SQL UPDATE's rule from raw rows — both
    // SET expressions against the OLD row, only user_id%5=0 rows touched
    "q243_sql_update" ->
      """SELECT CASE WHEN user_id % 5 = 0 THEN upper(event_type)
        |            ELSE event_type END AS event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(CASE WHEN user_id % 5 = 0 THEN value + 100.0
        |                     ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(sum(user_id) AS BIGINT) AS sum_user
        |FROM events GROUP BY 1""".stripMargin,
    // q244: the oracle replays the partition-scoped overwrite from raw
    // rows — pre-1997 orders survive only as the %3==0 replacement set
    // (+1M price), everything 1997+ is untouched
    "q244_insert_overwrite" ->
      """SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN 'p0'
        |            WHEN o_orderdate < TIMESTAMP '2000-01-01' THEN 'p1'
        |            ELSE 'pmax' END AS part,
        |  count(*) AS n,
        |  CAST(sum(CAST(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
        |                     THEN o_totalprice + 1000000.0
        |                     ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' OR o_orderkey % 3 = 0
        |GROUP BY 1""".stripMargin,
    // q245: id-to-row assignment is partition-order dependent, so the
    // oracle pins the dense-block CONTRACT (the q50/q145 pattern): n
    // distinct ids, exactly 1..n, load-2 block above load-1
    "q245_auto_increment" ->
      """SELECT count(*) AS n_rows, count(*) AS n_ids,
        |  CAST(1 AS BIGINT) AS min_id, count(*) AS max_id,
        |  true AS batch_ordered
        |FROM events""".stripMargin,
    // q246: the oracle rebuilds both generated-column expressions from raw
    // rows — the engine served them from physically stored fills
    "q246_generated_column" ->
      """SELECT CASE WHEN value < 50 THEN 'low'
        |            WHEN value < 100 THEN 'mid' ELSE 'high' END AS vclass,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value / 50.0) AS BIGINT)) AS BIGINT) AS sum_bucket,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM events GROUP BY 1""".stripMargin,
    // q247: the engine serves the GROUP BY from folded value histograms
    // (zero relations, plan-asserted); the oracle recomputes from raw rows
    "q247_dict_groupby_meta" ->
      """SELECT event_type, count(*) AS n, count(event_type) AS n_typed
        |FROM events GROUP BY 1""".stripMargin,
    // q253: the oracle recomputes the CTAS query from raw orders, then the
    // same digest the engine runs over the stored table
    "q253_sql_ctas" ->
      """WITH a AS (SELECT o_custkey, count(*) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders GROUP BY 1)
        |SELECT n_orders, count(*) AS n_cust,
        |  CAST(sum(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM a GROUP BY 1""".stripMargin,
    // q254: the oracle recomputes the month truncation from raw rows; the
    // engine serves from DATE-typed histogram cells (zero relations,
    // plan-asserted)
    "q254_date_dict_meta" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    // q229: a full-table sort in the oracle; the engine reads one rowset
    // (event_id is unique, so the top-100 SET is deterministic)
    "q229_topk_zonemap" ->
      """SELECT event_id, user_id, value FROM events
        |ORDER BY event_id DESC LIMIT 100""".stripMargin,
    // q230: same mod-3 key arithmetic as the fixture's interleaved loads;
    // the engine answers it scanning ONE of the three rowsets (bloom-pruned,
    // plan-asserted) while the oracle recomputes from raw rows
    "q230_bloom_prune" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_id = (SELECT max(event_id) - (max(event_id) % 3) FROM events)""".stripMargin,
    // q231: the oracle replays the fixture's upsert rule (upper-half keys
    // divisible by 10 carry value+1000) over the raw rows; the engine
    // answers from 2 of 3 rowsets, merged on read (plan-asserted)
    "q231_topk_unique" ->
      """SELECT event_id, user_id,
        |  CASE WHEN event_id > (SELECT max(event_id) FROM events) / 2
        |        AND event_id % 10 = 0
        |       THEN value + 1000.0 ELSE value END AS value
        |FROM events ORDER BY event_id DESC LIMIT 100""".stripMargin,
    // q232: key bounds are merge-invariant; the engine folds them from the
    // manifest with zero files opened (REQUIREd in-query)
    "q232_minmax_unique" ->
      """SELECT min(event_id) AS min_event_id, max(event_id) AS max_event_id
        |FROM events""".stripMargin,
    // q233: same, Aggregate model (keys survive partial-agg merges)
    "q233_minmax_agg" ->
      """SELECT min(l_orderkey) AS min_l_orderkey, max(l_orderkey) AS max_l_orderkey
        |FROM lineitem""".stripMargin,
    // q234: the engine's subset-merge top-k must equal the grouped sums
    // recomputed from raw rows (q23's money discipline: sum on DECIMAL,
    // emit DOUBLE)
    "q234_topk_agg" ->
      """SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  max(l_extendedprice) AS max_price, min(l_discount) AS min_disc
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY l_orderkey DESC LIMIT 100""".stripMargin,
    // q224: same split arithmetic as the fixture's three range loads; the
    // engine answers it scanning ONE of the three rowsets (plan-asserted)
    "q224_rowset_prune" ->
      """WITH b AS (SELECT (2 * max(event_id)) // 3 AS k2 FROM events)
        |SELECT count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_user,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events, b WHERE event_id > b.k2""".stripMargin,
    // q225: the engine serves this from the version-keyed result cache
    // (hit REQUIRED on the second call); the oracle recomputes from raw rows
    "q225_result_cache" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // q226: full replay of the histogram pipeline — cells (same binning),
    // cumulative walk, rank targets, and the interpolated estimates with
    // the SAME double arithmetic and parenthesization as the Spark side
    "q226_engine_quantile" ->
      """WITH cells AS (
        |  SELECT CAST(floor((value - CAST(0.0 AS DOUBLE)) / CAST(5.0 AS DOUBLE)) AS BIGINT) AS bin,
        |    count(*) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells),
        |c AS (SELECT bin, n, CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cum FROM cells),
        |tgt AS (SELECT CAST(q AS DOUBLE) AS q,
        |    CAST(ceil(CAST(q AS DOUBLE) * total) AS BIGINT) AS target
        |  FROM (VALUES (0.5), (0.9), (0.99)) qs(q), t)
        |SELECT q,
        |  (CAST(0.0 AS DOUBLE) + CAST(bin AS DOUBLE) * CAST(5.0 AS DOUBLE)) +
        |    CAST(5.0 AS DOUBLE) * (CAST(target - (cum - n) AS DOUBLE) / CAST(n AS DOUBLE)) AS est
        |FROM tgt JOIN c ON cum >= target AND (cum - n) < target""".stripMargin,
    // q186: DuckDB recomputes each order's month partition (p0 holds
    // everything below the declared 1992-02-01 bound; auto partitions are
    // named from the month they start) — ladder + routing verified together
    // q188: newest-12-partitions survival recomputed from the data — month
    // partitions are named pa_YYYYMM01 so name order IS chronological order
    // ('p0' < 'pa_' lexicographically, so p0 is always oldest); rows of
    // expired partitions are masked by the drop's delete predicates
    // q199: the quarantine must hold EXACTLY the late load's rows — the
    // oracle recomputes them from the raw data (the [1999-06, 1999-12)
    // window is entirely inside the expired p0 range)
    // q210: the SQL-front-door lifecycle — head = (%3=0 survivors of the
    // %6=0 delete) + the %3=2 late load; the rolled-back %3=1 load absent
    // q217: all keys serve (the four %4 bands), price doubled where the
    // %8 upsert band crossed the rename — a lost rename mapping or a
    // mis-merged era flips the decimal sum
    "q217_rename_column" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y%m%d') AS m,
        |  count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey % 8 = 0
        |    THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2))
        |    ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total_r
        |FROM orders
        |GROUP BY 1""".stripMargin,
    // q216: the rebucketed head = (evens minus the %14 delete, with the %10
    // upsert band's doubled price) + the post-rebucket odd-multiples-of-3
    // load — a layout rewrite that lost an upsert, resurrected a delete, or
    // dropped/duplicated any row flips a month's count or decimal sum
    "q216_rebucket_lifecycle" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y%m%d') AS m,
        |  count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey % 10 = 0
        |    THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2))
        |    ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total
        |FROM orders
        |WHERE (o_orderkey % 2 = 0 AND o_orderkey % 14 <> 0)
        |   OR (o_orderkey % 2 = 1 AND o_orderkey % 3 = 0)
        |GROUP BY 1""".stripMargin,
    // q222: the restarted (copied-warehouse, zero-DDL) engine's rollup-served
    // aggregate must equal the raw-data recompute — the query side REQUIRES
    // the rollup leaves, so this hash certifies catalog + registration
    // persistence end to end
    "q222_warehouse_restart" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,
    // q220: the rollup content re-materialized after the rename must equal
    // the raw-data aggregate — the query side additionally REQUIRES the
    // plan to read the rollup files, so this hash certifies the
    // rename-following rebuild, not a base-scan fallback
    "q220_rollup_rename_serve" ->
      """SELECT o_orderstatus,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_amount,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,
    "q210_sql_lifecycle" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y%m%d') AS m,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE (o_orderkey % 3 = 0 AND o_orderkey % 6 <> 0) OR o_orderkey % 3 = 2
        |GROUP BY 1""".stripMargin,
    // q209: the restored head = loads 1 + 3 only (keys %3 in {0,2}) — the
    // rolled-back load 2 must contribute nothing
    "q209_restore_version" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y%m%d') AS m,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 <> 1
        |GROUP BY 1""".stripMargin,
    // q204: the clone = the full source (both loads cover every order) plus
    // the divergent re-ingest of every 100th key — recomputed from raw data
    "q204_shallow_clone" ->
      """WITH c AS (
        |  SELECT o_orderdate, CAST(o_totalprice AS DECIMAL(18,2)) AS price_c
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderdate, CAST(o_totalprice AS DECIMAL(18,2))
        |  FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT strftime(date_trunc('month', o_orderdate), '%Y%m%d') AS m,
        |  count(*) AS n_rows, CAST(sum(price_c) AS DOUBLE) AS total
        |FROM c GROUP BY 1""".stripMargin,
    "q199_dead_letter_quarantine" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y%m%d') AS m,
        |  count(*) AS n_rows
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1999-06-01'
        |  AND o_orderdate < TIMESTAMP '1999-12-01'
        |GROUP BY 1""".stripMargin,
    // The survival ladder is enumerated CONTIGUOUSLY (generate_series from
    // the first auto rung to the max month), matching the engine's minting
    // loop: a zero-row month still occupies a survival slot, so a date-range
    // gap in the fixture cannot make the oracle reach back to an older month
    // the engine expired
    "q188_partition_expiry" ->
      """WITH mx AS (SELECT CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
        |            FROM orders),
        |ladder AS (
        |  SELECT 'p0' AS part
        |  UNION ALL
        |  SELECT 'pa_' || strftime(m, '%Y%m%d') AS part
        |  FROM mx, UNNEST(generate_series(DATE '2000-01-01', mx.hi,
        |                                  INTERVAL 1 MONTH)) t(m)),
        |k AS (SELECT part, row_number() OVER (ORDER BY part DESC) AS rk
        |      FROM ladder),
        |r AS (
        |  SELECT CASE WHEN o_orderdate < TIMESTAMP '2000-01-01' THEN 'p0'
        |    ELSE 'pa_' || strftime(date_trunc('month', o_orderdate), '%Y%m%d')
        |  END AS part, count(*) AS n_rows
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-12-01'
        |  GROUP BY 1)
        |SELECT r.part, r.n_rows FROM r JOIN k USING (part) WHERE k.rk <= 12""".stripMargin,
    "q186_dynamic_partition" ->
      """WITH m AS (
        |  SELECT CASE WHEN o_orderdate < TIMESTAMP '1992-02-01' THEN 'p0'
        |    ELSE 'pa_' || strftime(date_trunc('month', o_orderdate), '%Y%m%d')
        |  END AS part
        |  FROM orders)
        |SELECT part, count(*) AS n_rows FROM m GROUP BY part""".stripMargin,
    // q184 shares q169's cell-for-cell oracle: the Sum-merged engine table
    // must serve the identical matrix a from-scratch build produces
    "q184_engine_count_min" -> graft.pipeline.Frequency.countMinOracleSql,
    // HLL estimates aren't SQL-reproducible; the exact NDV is, and the
    // accuracy contract (within 5% of exact) is pinned as a verdict column
    "q131_hll_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS ndv_cust,
        |  true AS hll_ok
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q134_hll_column" ->
      """SELECT event_type, count(*) AS n, true AS ndv_ok
        |FROM events GROUP BY event_type""".stripMargin,
    "q108_engine_partial_update" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100000.0 ELSE o_totalprice END AS o_totalprice,
        |  o_orderpriority
        |FROM orders""".stripMargin,
    "q127_delete_where" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_orderstatus <> 'F'
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 2 = 1""".stripMargin,
    "q128_bucket_prune" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = 123",
    "q133_colocate_join" ->
      """WITH s AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT o_orderstatus,
        |  CAST(sum(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_lines
        |FROM orders JOIN s ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin,
    "q73_engine_incremental" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 2 = 1""".stripMargin,
    "q63_engine_delete" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_id % 7 <> 0
        |UNION ALL
        |SELECT event_id, user_id, event_type, value + 5000.0 AS value FROM events
        |WHERE event_id % 14 = 0""".stripMargin,
    // q259: replay BOTH revisions from raw rows (v1 = the base load; the
    // latest = q63's survivor expression), then the same full-outer
    // classification — counts and id bounds per change class
    "q259_snapshot_diff" ->
      """WITH v1 AS (SELECT event_id, value FROM events),
        |now AS (SELECT event_id, value FROM events WHERE event_id % 7 <> 0
        |        UNION ALL
        |        SELECT event_id, value + 5000.0 AS value FROM events
        |        WHERE event_id % 14 = 0),
        |j AS (SELECT COALESCE(v1.event_id, now.event_id) AS event_id,
        |        CASE WHEN v1.event_id IS NULL THEN 'added'
        |             WHEN now.event_id IS NULL THEN 'removed'
        |             WHEN v1.value <> now.value THEN 'updated'
        |             ELSE 'unchanged' END AS change
        |      FROM v1 FULL OUTER JOIN now ON v1.event_id = now.event_id)
        |SELECT change, count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id
        |FROM j GROUP BY change""".stripMargin,
    "q64_engine_count_meta" ->
      "SELECT count(*) AS n FROM orders",
    "q20_engine_dup_scan" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders",
    "q21_engine_snapshot_v1" ->
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0",
    "q122_time_travel" ->
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0",
    "q125_rollup_count_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS ndv_cust,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q22_engine_unique_merge" ->
      """SELECT event_id, user_id, event_type,
        |  CASE WHEN event_id % 10 = 0 THEN value + 1000.0 ELSE value END AS value
        |FROM events""".stripMargin,
    "q23_engine_agg_merge" ->
      """SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  max(l_extendedprice) AS max_price, min(l_discount) AS min_disc
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "q24_engine_compacted" ->
      """SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  max(l_extendedprice) AS max_price, min(l_discount) AS min_disc
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "q25_engine_partition_prune" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |WHERE o_orderdate < TIMESTAMP '1997-01-01'""".stripMargin,
    "q137_partition_prune_transparent" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |WHERE o_orderdate < TIMESTAMP '1997-01-01'""".stripMargin,
    "q27_engine_point_lookup" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = 123",
    "q49_engine_rollup" ->
      """SELECT o_orderstatus, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price_c,
        |  max(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q121_rollup_transparent" ->
      """SELECT o_orderstatus, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price_c,
        |  max(o_totalprice) AS max_price, count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q126_join_mv_transparent" ->
      """SELECT c_mktsegment, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price_c,
        |  max(o_totalprice) AS max_price, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    // The reference's routing recomputed from scratch in SQL: range-partition
    // lookup (string-compared upper bounds ≡ timestamp compare for ISO dates)
    // + FNV-1a 64 over the decimal key string, folded per character in
    // HUGEINT arithmetic mod 2^64, unsigned-mod 4 (reference:
    // src/partition.rs:28-47,172-189).
    "q26_engine_bucket_layout" ->
      """WITH r AS (
        |  SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN 'p0'
        |              WHEN o_orderdate < TIMESTAMP '2000-01-01' THEN 'p1'
        |              ELSE 'pmax' END AS part,
        |    CAST(list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |        list_transform(range(1, length(CAST(o_orderkey AS VARCHAR)) + 1),
        |          i -> CAST(ord(substr(CAST(o_orderkey AS VARCHAR), i, 1)) AS HUGEINT))),
        |      (h, b) -> (xor(h, b) * 1099511628211) % 18446744073709551616) % 4
        |      AS INT) AS bucket
        |  FROM orders)
        |SELECT part, bucket, count(*) AS n FROM r GROUP BY part, bucket""".stripMargin,
  )
}
