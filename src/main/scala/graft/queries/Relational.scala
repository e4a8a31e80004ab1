package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The relational operator surface (SURVEY.md §2.11): scans, filters, joins
  * of every flavor, aggregations, windows, sorts, set ops, scalar functions —
  * all declarative DataFrame plans so Catalyst supplies pushdown, pruning,
  * join selection, partial aggregation, and whole-stage codegen.
  *
  * Numeric policy for oracle parity: money aggregates are computed on
  * `DECIMAL(18,2)` (exact arithmetic, bit-identical to DuckDB) rather than
  * doubles, whose summation order would differ between engines at scale.
  */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Final-output representation for money aggregates: the SUM itself runs on
    * DECIMAL (exact, order-independent), then the finished value is cast to
    * DOUBLE. Decimal→double conversion is correctly rounded on both Spark and
    * DuckDB, so both engines emit bit-identical float64 — whereas emitting the
    * decimal itself is fragile under the driver's value normalization
    * (Decimal "247392.00" vs float "247392.0" hash differently).
    */
  private def dbl(c: Column): Column = c.cast("double")

  /** Exact money aggregation in the integer-cents domain (optimization round
    * 12). `sum(dec(x))` pays a per-row double→BigDecimal conversion and
    * Decimal-object accumulation; since every money column is an exact
    * 2-decimal value, `round(x*100)` is the same number as an integer of
    * cents and the whole sum runs in whole-stage-codegen long arithmetic.
    *
    * Overflow posture: a single long sum of cents would overflow at
    * ~9.2e16 dollars per group (reachable at the 100 TB tier), so the sum is
    * SPLIT: per row v = hi·split + lo with hi,lo ≤ 1e4-ish, the two long
    * partial sums stay ≤ rows·1e4 (safe past 1e14 rows/group), and the
    * exact total recombines in decimal arithmetic on the handful of OUTPUT
    * rows only. The recombined rational is identical to the decimal sum, so
    * the final double cast is bit-identical to the previous
    * `dbl(sum(dec(x)))` — oracle-verified at every SF.
    */
  private[graft] def centsL(c: Column): Column = round(c * 100).cast("long")

  /** Σv/outUnits as double, v an integer-units column (cents or
    * cents·centi-fractions), via the split-long accumulation above.
    *
    * Sign-correct by construction (r13 hardening): lo = pmod(v, split) ∈
    * [0, split) and hi = (v − lo)/split is the matching floor quotient, so
    * v = hi·split + lo holds for NEGATIVE v too (refunds/adjustments). The
    * previous floor(v/split) + (v % split) pair mixed floor division with
    * sign-of-dividend remainder and mis-summed every negative row by
    * split/outUnits. For v ≥ 0 the two forms are identical, so current
    * oracle hashes are unchanged. (v − lo is a multiple of split, and
    * |v| stays far below 2^53 in every money domain used here, so the
    * double division is exact.)
    */
  private[graft] def sumUnits(v: Column, split: Long, outUnits: Long): Column = {
    val lo = pmod(v, lit(split))
    val hiS = sum(((v - lo) / lit(split)).cast("long")).cast("decimal(38,0)")
    val loS = sum(lo).cast("decimal(38,0)")
    ((hiS * lit(split) + loS) / lit(outUnits)).cast("double")
  }

  /** dbl(sum(dec(x))) — money column summed exactly, emitted as double. */
  private[graft] def moneySum(c: Column): Column =
    sumUnits(centsL(c), 10000L, 100L)

  /** dbl(sum(dec(a) * (1 ± dec(b)))) — price × (1 ± rate) summed exactly:
    * cents(a)·(100 ± cents(b)) is the product in 10^-4 units. */
  private[graft] def moneySumTimes(a: Column, sign: Int, b: Column): Column =
    sumUnits(centsL(a) * (lit(100L) + lit(sign) * centsL(b)), 1000000L, 10000L)

  /** dbl(sum(dec(a) * dec(b))) — price × rate summed exactly (10^-4 units). */
  private[graft] def moneySumProd(a: Column, b: Column): Column =
    sumUnits(centsL(a) * centsL(b), 1000000L, 10000L)

  /** Projection + column pruning: the scan should read exactly 3 columns
    * (reference S3 column-at-a-time scan, src/segment.rs:273-310).
    */
  def scanProject(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  /** Filtered scan with pushdown (zonemap/bloom analogue — reference P2/P3,
    * src/index/mod.rs:61-211; here Parquet row-group stats do the skipping).
    * Shape of TPC-H Q6.
    */
  def filterScan(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(dbl(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))).as("revenue"),
        count(lit(1)).as("n"))

  /** Hash aggregation with partial+final (TPC-H Q1 shape) — the executed form
    * of the reference's declared Sum/Min/Max aggregate model (src/common.rs:54-57).
    */
  def aggQ1(spark: SparkSession, dir: String): DataFrame =
    // Optimization r12, measured at sf0.1 (OPTIMIZATION_r12.md): 1.23 s → 0.43–0.58 s.
    // Two changes, result bit-identical (oracle-verified at every SF):
    //  - money sums run in the integer-cents domain (see [[moneySum]]) —
    //    the decimal path's per-row double→BigDecimal casts and
    //    (18,2)×(18,2) BigDecimal multiplies were ~26 core-sec/run here;
    //  - the MapWidth.widen round-robin repartition is GONE: with the
    //    cents rewrite the partial agg is no longer CPU-dense, and the
    //    repartition (plus its sort-before-repartition pass) cost 0.3–0.4 s
    //    against a sub-0.2 s single-row-group agg. On production-width
    //    inputs widen was a no-op anyway, so only the local plan changes.
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySumTimes(col("l_extendedprice"), -1, col("l_discount")).as("sum_disc_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        count(lit(1)).as("count_order"))

  /** Distinct aggregation. */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))

  /** Broadcast hash join: `part` is the small build side — explicitly
    * broadcast so no shuffle of the 100 TB fact side is ever needed.
    */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val p = t(spark, dir, "part")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(moneySum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n"))
  }

  /** Multi-way shuffle join (customer ⋈ orders ⋈ lineitem) — big-big joins
    * shuffle on their keys; AQE handles skew at scale.
    */
  def joinShuffle(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(li, o("o_orderkey") === li("l_orderkey"))
      .groupBy(col("c_mktsegment"))
      .agg(moneySumTimes(col("l_extendedprice"), -1, col("l_discount")).as("revenue"),
        count(lit(1)).as("n"))
  }

  /** Left-semi join (EXISTS). */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders").filter(col("o_totalprice") > 400000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
  }

  /** Left-anti join (NOT EXISTS): customers with no very-large order. */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders").filter(col("o_totalprice") > 450000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_nationkey"))
  }

  /** Range (non-equi) join predicate on top of an equi key. */
  def joinRange(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
    li.join(o, li("l_orderkey") === o("o_orderkey") &&
        li("l_shipdate") >= o("o_orderdate") &&
        li("l_shipdate") < o("o_orderdate") + expr("INTERVAL 90 DAY"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dbl(sum(dec(col("l_quantity")))).as("qty"))
  }

  /** Window: top-3 orders per status by price (row_number, deterministic
    * tiebreak on key).
    */
  def windowTopPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"), col("rn"))
  }

  /** Window: running sum per customer (frame = unbounded preceding..current). */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "orders")
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        dbl(sum(dec(col("o_totalprice"))).over(w)).as("running_total"))
  }

  /** Global sort + limit (top-k). At scale Spark executes this as a
    * TakeOrderedAndProject — no full global sort materialization.
    */
  def topK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(25)

  /** Set op: UNION (distinct). */
  def setUnion(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select(col("o_custkey").as("k"))
      .union(t(spark, dir, "customer").select(col("c_custkey").as("k")))
      .distinct()

  /** Set op: INTERSECT. */
  def setIntersect(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(col("c_custkey").as("k"))
      .intersect(t(spark, dir, "orders").select(col("o_custkey").as("k")))

  /** Set op: EXCEPT (customers minus customers with very large orders). */
  def setExcept(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(col("c_custkey").as("k"))
      .except(t(spark, dir, "orders").filter(col("o_totalprice") > 450000.0)
        .select(col("o_custkey").as("k")))

  /** ROLLUP grouping sets. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(moneySum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  /** CUBE grouping sets. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(moneySum(col("o_totalprice")).as("total"), count(lit(1)).as("n"))

  /** Scalar function surface: string/date/math (reference has none —
    * SURVEY.md §2.11 — all Spark built-ins).
    */
  def scalarFunctions(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderkey") < 1000)
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("pri_upper"),
        substring(col("o_orderpriority"), 1, 1).as("pri_code"),
        length(col("o_orderpriority")).as("pri_len"),
        concat_ws("#", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        dbl(dec(col("o_totalprice")) * lit(2).cast("decimal(18,2)")).as("dbl_price"),
        abs(col("o_custkey") - lit(500)).as("cust_dist"))

  /** Correlated scalar subquery shape: per-order share of its customer's total
    * (decorrelated by Catalyst into a join + agg).
    */
  def subqueryAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val perCust = o.groupBy(col("o_custkey").as("k"))
      .agg(dbl(sum(dec(col("o_totalprice")))).as("cust_total"))
    o.filter(col("o_orderkey") < 2000)
      .join(perCust, col("o_custkey") === col("k"))
      .select(col("o_orderkey"), col("cust_total"))
  }

  /** Source/sink format breadth: write the same slice as CSV, JSON and ORC,
    * read each back, union, aggregate. (The reference supports only its own
    * segment format, S1/S2; Spark supplies the full format matrix. JDBC is
    * exercised nowhere because no database exists in this environment.)
    */
  def formatRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .filter(col("o_orderkey") < 1000)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val tmp = graft.FastTmp.newDir("graft-fmt-").toString
    o.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    o.write.mode("overwrite").json(s"$tmp/json")
    o.write.mode("overwrite").orc(s"$tmp/orc")
    val c = spark.read.option("header", "true").schema(o.schema).csv(s"$tmp/csv")
    val j = spark.read.schema(o.schema).json(s"$tmp/json")
    val r = spark.read.orc(s"$tmp/orc")
    c.union(j).union(r)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n3"), countDistinct(col("o_orderkey")).as("nd"))
  }

  /** SQL-interface entry (spark.sql over a temp view) with GROUPING SETS —
    * grouping-set shapes beyond cube/rollup, through the SQL front end.
    */
  /** TPC-H Q21 shape (suppliers who alone returned lines in multi-supplier
    * orders): a fact self-correlated EXISTS + NOT EXISTS pair. Spark plans
    * both as semi/anti joins WITH an extra non-equi conjunct
    * (`l2.suppkey <> l1.suppkey`) riding on the equi key — one shuffle each
    * on l_orderkey, no nested-loop. The adapted predicate uses l_returnflag
    * (the driver tables carry no commit/receipt dates).
    */
  def waitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val l1 = li.select(col("l_orderkey").as("k1"), col("l_suppkey").as("s1"),
      col("l_returnflag").as("r1"))
    val l2 = li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
    val l3 = li.select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"),
      col("l_returnflag").as("r3"))
    val base = l1.filter(col("r1") === "R")
      .join(t(spark, dir, "orders").filter(col("o_orderstatus") === "F"),
        col("k1") === col("o_orderkey"), "inner")
    val withOther = base.join(l2,
      col("k2") === col("k1") && col("s2") =!= col("s1"), "left_semi")
    val lonely = withOther.join(l3.filter(col("r3") === "R"),
      col("k3") === col("k1") && col("s3") =!= col("s1"), "left_anti")
    lonely.join(t(spark, dir, "supplier"), col("s1") === col("s_suppkey"), "inner")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** TPC-H Q22 shape (rich customers with no orders): an exact aggregate
    * threshold broadcast into the scan, an anti join against orders, and a
    * dimension rollup. The threshold is floor(Σacctbal/n) computed in
    * DECIMAL, so both engines derive the IDENTICAL integer and boundary rows
    * compare the same way — a double average here would make the predicate
    * engine-dependent.
    */
  def richIdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val threshold = cust.filter(col("c_acctbal") > 0.0)
      .agg(floor(sum(dec(col("c_acctbal"))) / count(lit(1))).as("thr"))
    val rich = cust.join(broadcast(threshold)).filter(col("c_acctbal") > col("thr"))
    val idle = rich.join(
      t(spark, dir, "orders").filter(col("o_orderstatus") === "F"),
      col("c_custkey") === col("o_custkey"), "left_anti")
    idle.join(t(spark, dir, "nation"), col("c_nationkey") === col("n_nationkey"), "inner")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"),
        dbl(sum(dec(col("c_acctbal")))).as("totacctbal"))
  }

  /** TPC-H Q18 shape (large-volume orders): a HAVING aggregate feeds a
    * semi join back onto its own fact — Spark plans the qualifying-keys set
    * as a broadcast when small (AQE decides), so the second pass over
    * lineitem never shuffles.
    */
  def largeOrders(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    // cents-domain HAVING (optimization r12): the per-order quantity sum is
    // bounded (≤7 lines × 50), so a plain long sum of cents is exact at any
    // scale; qty > 150 ⟺ cents > 15000 and cents/100.0 is the same double
    // the decimal cast emitted.
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum(centsL(col("l_quantity"))).as("qc"))
      .filter(col("qc") > 15000L)
      .select(col("l_orderkey").as("bk"), col("qc"))
    t(spark, dir, "orders")
      .join(big, col("o_orderkey") === col("bk"), "inner")
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"), "inner")
      .select(col("c_name"), col("o_orderkey"), col("o_totalprice"),
        (col("qc") / 100.0).as("total_qty"))
  }

  /** TPC-H Q16 shape (supplier diversity per part class): COUNT(DISTINCT)
    * after an anti-join exclusion list — the NOT IN subquery becomes a
    * broadcast anti join, and the distinct count is a two-level hash
    * aggregate, both map-side partial.
    */
  def partSupplierDiversity(spark: SparkSession, dir: String): DataFrame = {
    val excluded = t(spark, dir, "supplier")
      .filter(col("s_acctbal") < 0.0).select(col("s_suppkey").as("xk"))
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "part"), col("l_partkey") === col("p_partkey"), "inner")
      .join(excluded, col("l_suppkey") === col("xk"), "left_anti")
      .groupBy(col("p_brand"), col("p_size"))
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
  }

  def sqlGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders_v
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderstatus, o_orderpriority), ())
        |""".stripMargin)
  }

  /** Typed UDAF via `Aggregator`: sum of squares (exact long arithmetic). */
  object SumSq extends org.apache.spark.sql.expressions.Aggregator[Long, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, a: Long): Long = b + a * a
    def merge(b1: Long, b2: Long): Long = b1 + b2
    def finish(b: Long): Long = b
    def bufferEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  /** The UDF/UDAF extension surface (SURVEY.md §2.11 last row): a scalar
    * Scala UDF and a typed `Aggregator` registered via `functions.udaf`.
    * (Real operators prefer built-ins/codegen — this query exists to prove
    * the extension points work; the UDAF uses exact integer math so the
    * DuckDB oracle matches bit-for-bit.)
    */
  def udfSurface(spark: SparkSession, dir: String): DataFrame = {
    val rev = udf((s: String) => s.reverse)
    val sumsq = udaf(SumSq, org.apache.spark.sql.Encoders.scalaLong)
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sumsq(col("l_quantity").cast("long")).as("sumsq_qty"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), rev(col("l_returnflag")).as("flag_rev"),
        col("sumsq_qty"), col("n"))
  }

  /** Analytic window functions: lag/lead/ntile/first_value over an ordered
    * partition (unique order key keeps RANGE vs ROWS default frames identical
    * across engines).
    */
  def windowAnalytics(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(spark, dir, "orders")
      .filter(col("o_custkey") < 200)
      .select(col("o_orderkey"), col("o_orderstatus"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        ntile(4).over(w).as("quartile"),
        first(col("o_orderkey")).over(w).as("first_key"))
  }

  /** Distribution window functions — percent_rank and cume_dist, the rank
    * family's relative-position members (q48 covers lag/lead/ntile/first).
    * Both are ratios of small integers, which sit exactly on .00005
    * rounding ties whenever the group size divides nicely — so the outputs
    * are FLOOR-quantized (the q161 convention), where the identical IEEE
    * division floors identically in every engine.
    */
  def rankDistribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(spark, dir, "orders")
      .filter(col("o_custkey") < 100)
      .select(col("o_orderkey"), col("o_orderpriority"),
        (floor(percent_rank().over(w) * 10000) / 10000.0).as("pct_rank"),
        (floor(cume_dist().over(w) * 10000) / 10000.0).as("cume"))
  }

  /** Sketch aggregates: HyperLogLog++ distinct counts and approximate
    * quantiles — the constant-memory 100 TB substitutes for exact distinct /
    * exact percentile. Sketch outputs are implementation-specific, so the
    * driver-hashable form is an ACCURACY VERDICT: exact values (which DuckDB
    * can reproduce) next to booleans asserting each estimate lands inside
    * its error bound. The exact baselines exist ONLY for the oracle — the
    * production / benchmarked shape is [[sketchesOnly]].
    */
  /** The ONE definition of q51's sketch estimates, shared by the verdict
    * form ([[sketches]]) and the benched form ([[sketchesOnly]]) so the
    * estimate Bench times is BY CONSTRUCTION the estimate the oracle
    * verdict checked — an edit to one cannot silently drift the other
    * (`BenchVariantSpec` additionally pins the runtime agreement).
    */
  private def sketchEst: Map[String, Column] = Map(
    "ndv_ord" -> approx_count_distinct(col("l_orderkey")),
    "ndv_part" -> approx_count_distinct(col("l_partkey")),
    // BOTH quantiles from ONE sketch state (optimization r12): the array
    // form builds the identical QuantileSummaries a single-quantile call
    // builds and reads it at each requested quantile — bit-identical
    // estimates, half the per-group state builds (the q88 rewrite).
    // Consumers extract element 1 (p50) and 2 (p95).
    "pcts" -> percentile_approx(col("l_extendedprice"),
      array(lit(0.5), lit(0.95)), lit(1000)))

  def sketches(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        // exact values (oracle-checkable) next to the sketch estimates, so
        // the driver hash pins BOTH the data and the accuracy verdicts
        count_distinct(col("l_orderkey")).as("ndv_orders"),
        count_distinct(col("l_partkey")).as("ndv_parts"),
        sketchEst("ndv_ord").as("__a_ord"),
        sketchEst("ndv_part").as("__a_part"),
        element_at(sketchEst("pcts"), 1).as("__p50a"),
        element_at(sketchEst("pcts"), 2).as("__p95a"),
        // percentile_approx(accuracy=1000) guarantees rank error <= 1/1000;
        // bound the estimate by exact percentiles two rank-steps out
        expr("percentile(l_extendedprice, 0.498)").as("__p50lo"),
        expr("percentile(l_extendedprice, 0.502)").as("__p50hi"),
        expr("percentile(l_extendedprice, 0.948)").as("__p95lo"),
        expr("percentile(l_extendedprice, 0.952)").as("__p95hi"))
      .select(col("l_returnflag"), col("ndv_orders"), col("ndv_parts"),
        // HLL++ default rsd = 5%; 3-sigma bound
        (abs(col("__a_ord") - col("ndv_orders")) <=
          col("ndv_orders") * lit(0.15)).as("ndv_orders_ok"),
        (abs(col("__a_part") - col("ndv_parts")) <=
          col("ndv_parts") * lit(0.15)).as("ndv_parts_ok"),
        col("__p50a").between(col("__p50lo"), col("__p50hi")).as("p50_ok"),
        col("__p95a").between(col("__p95lo"), col("__p95hi")).as("p95_ok"))

  /** Bench-time form of q51: the sketches ALONE. The verdict form above
    * buffers every group value for exact percentiles purely so the oracle
    * can pin accuracy; at 100 TB only this constant-memory path would run,
    * so Bench times it (Verify still checks the verdict form).
    */
  def sketchesOnly(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        sketchEst("ndv_ord").as("ndv_orders_est"),
        sketchEst("ndv_part").as("ndv_parts_est"),
        // identical aggregate expressions deduplicate to ONE sketch state
        element_at(sketchEst("pcts"), 1).as("p50_est"),
        element_at(sketchEst("pcts"), 2).as("p95_est"))

  /** Outer-join flavors: FULL OUTER between per-nation customer and supplier
    * counts (either side may be missing), then the nation dim LEFT JOINs the
    * result (nations with neither keep 0/0). Null-producing joins are the one
    * join family q05-q09 didn't cover.
    */
  def joinOuter(spark: SparkSession, dir: String): DataFrame = {
    val cu = t(spark, dir, "customer").groupBy(col("c_nationkey").as("ck"))
      .agg(count(lit(1)).as("n_cust"))
    val su = t(spark, dir, "supplier").groupBy(col("s_nationkey").as("sk"))
      .agg(count(lit(1)).as("n_supp"))
    val both = cu.join(su, col("ck") === col("sk"), "full_outer")
      .select(coalesce(col("ck"), col("sk")).as("nk"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    t(spark, dir, "nation")
      .join(both, col("n_nationkey") === col("nk"), "left_outer")
      .select(col("n_name"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  /** PIVOT: order counts per priority, one column per status. Explicit pivot
    * values keep the plan a single pass (no distinct-value pre-query) — the
    * 100 TB form of wide-format reporting.
    */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))

  /** UNPIVOT (melt): wide per-flag measures back to long (measure, value)
    * rows — the inverse reshape, one row per (group, measure).
    */
  def unpivotAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_price"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")), "measure", "value")

  /** Generator / UDTF surface: explode a per-row array (documents → words).
    * The reference has no row-expanding operator; Spark's `explode` is the
    * codegen'd equivalent of a table function.
    */
  def explodeWords(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("word"))

  /** Semi-structured JSON: extract a field from the events `props` JSON
    * column and aggregate it — get_json_object stays row-at-a-time codegen,
    * no schema inference pass (at 100 TB you never infer over the corpus).
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))

  /** Array-function surface over grouped data: collect, sort, slice, probe —
    * list manipulation without leaving codegen.
    */
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_orderkey") < 500)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"))
      .select(col("l_orderkey"),
        col("lines").cast("string").as("lines"),
        size(col("lines")).as("n"),
        array_max(col("lines")).as("max_line"),
        array_contains(col("lines"), 1).as("has_first"),
        slice(col("lines"), 1, 2).cast("string").as("first2"))

  /** Schema evolution: two parquet rowsets written under different schema
    * versions (v2 adds a column), read back with `mergeSchema` — old rows
    * surface NULL for the added column. This executes the reference's
    * declared-but-frozen `schema_version` (src/meta.rs:68): evolution is a
    * metadata merge at read, never a rewrite of old data.
    */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val tmp = graft.FastTmp.newDir("graft-evo-").toString
    o.filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$tmp/v1")
    o.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 1000)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmp/v2")
    spark.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  }

  /** Time-series gap-fill (resample): hourly event counts per type with
    * zero-fill for missing hours over the observed span. The only full-data
    * pass is the groupBy; the hour×type grid is derived from two tiny
    * aggregates (span + distinct types) and broadcasts into the left join, so
    * the shape holds at 100 TB — the grid grows with the calendar, not the
    * data.
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
    val counts = e.groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("n"))
    val hours = e.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("h"))
    val grid = e.select(col("event_type")).distinct().crossJoin(hours)
    grid.join(counts, Seq("event_type", "h"), "left_outer")
      .select(col("event_type"), col("h"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** RANGE window frame over a time axis: trailing-30-day order count and
    * revenue per status. Value-based frames are deterministic under ties
    * (all peers of the current date join the frame on both engines), unlike
    * ROWS frames whose tie order is engine-specific; the sum runs on DECIMAL
    * so frame-internal order never matters.
    */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").filter(col("o_custkey") < 300)
      .createOrReplaceTempView("orders_rf")
    spark.sql(
      """SELECT o_orderkey, o_orderstatus, o_orderdate,
        |  count(*) OVER w AS n_30d,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rev_30d
        |FROM orders_rf
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)""".stripMargin)
  }

  /** Rank-family window functions: dense_rank / percent_rank / cume_dist.
    * All three are tie-stable (defined by the ORDER BY value, not physical
    * row order), so results are deterministic even when prices repeat; the
    * fraction outputs divide the same integers on any engine.
    */
  def windowRanks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice"))
    t(spark, dir, "orders").filter(col("o_custkey") < 200)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dense_rank().over(w).as("drank"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
  }

  /** Positional explode: like q56 but the generator also emits the element's
    * ordinal — the UDTF shape tokenizers need when token position matters
    * (n-gram windows, positional truncation). Still a codegen'd generator,
    * no shuffle.
    */
  def posExplodeWords(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+")))
      .withColumnRenamed("col", "word")

  /** Statistical aggregate surface: correlation, covariance, stddev and
    * variance per group — single-pass moment aggregates (partial+final, same
    * shuffle shape as any hash agg). Outputs round to the precision the
    * stable one-pass formulas hold across engines (corr is O(1) → 4 dp;
    * the tiny covariances/variances get 6 dp).
    */
  def statsAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").groupBy(col("l_returnflag")).agg(
      round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
      round(covar_pop(col("l_quantity"), col("l_discount")), 6).as("covar_qd"),
      round(stddev_pop(col("l_quantity")), 4).as("sd_qty"),
      round(var_samp(col("l_discount")), 6).as("var_disc"))

  /** Bitmap-exact distinct counting — the Doris/StarRocks BITMAP pattern
    * that makes COUNT(DISTINCT) pre-aggregable: bucket the id space
    * (`bitmap_bucket_number`), build one roaring-style bitmap per
    * (group, bucket) with map-side partial aggregation, then sum per-bucket
    * cardinalities. Unlike a plain `countDistinct` (whose distinct expansion
    * must co-locate ALL raw ids per group), the bitmap partials are
    * fixed-size and mergeable, so at 100 TB the shuffle carries
    * |groups|×|buckets| bitmaps instead of every id occurrence — and the
    * same bitmaps are storable in a rollup for incremental NDV maintenance.
    * The result is EXACT (oracle = COUNT(DISTINCT)), not a sketch like q51.
    */
  def bitmapDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("bitmap_bucket_number(user_id)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).as("ndv_users"))

  /** Data-profiling operator: per-column row count, null count, NDV and
    * min/max over a table in ONE scan (a single multi-aggregate; the distinct
    * counts expand map-side, everything else is partial-aggregated), then a
    * `stack` unpivot to the narrow profile shape. The profile a pipeline runs
    * before training on a new table.
    */
  def profileTable(spark: SparkSession, dir: String): DataFrame = {
    val agged = t(spark, dir, "orders").agg(
      count(lit(1)).as("n"),
      count(col("o_orderkey")).as("nn_k"), countDistinct(col("o_orderkey")).as("ndv_k"),
      min(col("o_orderkey")).cast("string").as("min_k"),
      max(col("o_orderkey")).cast("string").as("max_k"),
      count(col("o_orderstatus")).as("nn_s"), countDistinct(col("o_orderstatus")).as("ndv_s"),
      min(col("o_orderstatus")).as("min_s"), max(col("o_orderstatus")).as("max_s"),
      count(col("o_totalprice")).as("nn_p"), countDistinct(col("o_totalprice")).as("ndv_p"),
      min(col("o_totalprice")).cast("decimal(18,2)").cast("string").as("min_p"),
      max(col("o_totalprice")).cast("decimal(18,2)").cast("string").as("max_p"))
    agged.selectExpr(
      """stack(3,
        |  'o_orderkey',    n, n - nn_k, ndv_k, min_k, max_k,
        |  'o_orderstatus', n, n - nn_s, ndv_s, min_s, max_s,
        |  'o_totalprice',  n, n - nn_p, ndv_p, min_p, max_p
        |) AS (col_name, n, nulls, ndv, min_v, max_v)""".stripMargin)
  }

  /** Production form of [[profileTable]] (the Bench-timed variant): three
    * exact `countDistinct`s in one agg trigger Expand — every scan row is
    * replicated 3× through the first aggregate, and each distinct column's
    * raw values must co-locate. At 100 TB a profile does not need exact NDV;
    * `approx_count_distinct` (HLL++, default 5% rsd) keeps the whole profile
    * a single partial-aggregable pass: fixed-size sketch state per column,
    * no Expand, no raw-value shuffle. Same output shape; `ndv` is the
    * estimate. [[graft.queries.BenchVariantSpec]] pins the estimates to the
    * exact form's values at the sketch's error bound.
    */
  def profileTableSketch(spark: SparkSession, dir: String): DataFrame = {
    val agged = t(spark, dir, "orders").agg(
      count(lit(1)).as("n"),
      count(col("o_orderkey")).as("nn_k"),
      approx_count_distinct(col("o_orderkey")).as("ndv_k"),
      min(col("o_orderkey")).cast("string").as("min_k"),
      max(col("o_orderkey")).cast("string").as("max_k"),
      count(col("o_orderstatus")).as("nn_s"),
      approx_count_distinct(col("o_orderstatus")).as("ndv_s"),
      min(col("o_orderstatus")).as("min_s"), max(col("o_orderstatus")).as("max_s"),
      count(col("o_totalprice")).as("nn_p"),
      approx_count_distinct(col("o_totalprice")).as("ndv_p"),
      min(col("o_totalprice")).cast("decimal(18,2)").cast("string").as("min_p"),
      max(col("o_totalprice")).cast("decimal(18,2)").cast("string").as("max_p"))
    agged.selectExpr(
      """stack(3,
        |  'o_orderkey',    n, n - nn_k, ndv_k, min_k, max_k,
        |  'o_orderstatus', n, n - nn_s, ndv_s, min_s, max_s,
        |  'o_totalprice',  n, n - nn_p, ndv_p, min_p, max_p
        |) AS (col_name, n, nulls, ndv, min_v, max_v)""".stripMargin)
  }

  /** Z-score normalization: standardize a value against its group's mean and
    * stddev — the feature-scaling pass of a training pipeline. The per-group
    * moments are a tiny aggregate that BROADCASTS into the scoring scan
    * (never a window over the full group, which would sort corpus-sized
    * partitions for two scalars).
    */
  def zscore(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val m = o.groupBy(col("o_orderstatus"))
      .agg(avg(col("o_totalprice")).as("mu"),
        stddev_pop(col("o_totalprice")).as("sd"))
    o.filter(col("o_orderkey") < 400)
      .join(broadcast(m), "o_orderstatus")
      .select(col("o_orderkey"), col("o_orderstatus"),
        round((col("o_totalprice") - col("mu")) / col("sd"), 4).as("z"))
  }

  /** Star-schema 6-way join (TPC-H Q5 shape): three tiny dims broadcast,
    * the customer⋈orders⋈lineitem⋈supplier core shuffles on its keys with
    * AQE free to re-plan; the region filter prunes before anything joins.
    * The revenue sum runs on DECIMAL(18,4) (price×discount products carry
    * 4 fractional digits) so accumulation order never shows.
    */
  def starJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
    val orders = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val lineitem = t(spark, dir, "lineitem")
    val supplier = t(spark, dir, "supplier")
    val nation = t(spark, dir, "nation")
    val region = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  /** Share-of-total (ratio_to_report): group revenue as a fraction of the
    * grand total via a window over the ALREADY-AGGREGATED six rows — the
    * corpus-sized work is one hash agg; the total is a window over group
    * count rows, never a second scan.
    */
  def shareOfTotal(spark: SparkSession, dir: String): DataFrame = {
    val grp = t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
    grp.select(col("l_returnflag"), col("l_linestatus"),
      col("rev").cast("double").as("grp_rev"),
      round(col("rev").cast("double") /
        sum(col("rev")).over(Window.partitionBy()).cast("double"), 6).as("share"))
  }

  /** MapType surface: build a linenumber→quantity map per order
    * (map_from_entries over a pre-deduplicated collect), then probe it with
    * element_at / map_keys — the complex-type navigation a feature store
    * uses. The pre-aggregation both dedups map keys (Spark throws on
    * duplicates) and partial-aggregates before the shuffle.
    */
  def mapFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_orderkey") < 300)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(max(col("l_quantity")).as("q"))
      .groupBy(col("l_orderkey"))
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("l_linenumber"), col("q"))))).as("m"))
      .select(col("l_orderkey"),
        size(col("m")).as("n_lines"),
        element_at(col("m"), lit(1)).as("qty_line1"),
        element_at(col("m"), lit(2)).as("qty_line2"),
        array_max(map_keys(col("m"))).as("max_line"))

  /** Global sort: a total order over the filtered output — compiles to a
    * RangePartitioning Exchange (sampled split points, then per-partition
    * sort), the only scalable shape for a full ordering: no single-node
    * sort, no limit required.
    */
  def globalSort(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))

  /** Keep-first dedup: the first occurrence per (user, event_type) by time —
    * the "first touch" / keep-earliest-URL shape of event pipelines. One
    * shuffle on the key; Spark's WindowGroupLimit pushes the rank<=1 cut
    * below the exchange (partial top-1 per partition), so the shuffle
    * carries at most one row per key per map partition, not the corpus.
    * Ties (same ts) break on event_id for a total order.
    */
  def keepFirst(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"))
  }

  /** Skew-mitigated aggregation surfaced as a query: the two-stage salted
    * shape ([[graft.operators.SaltedAgg]]) splits any single hot key across
    * 8 reducers before the final per-key merge — same result as the direct
    * groupBy (decimal sums re-aggregate exactly), different worst-case: a
    * dominant key costs 1/8 of a reducer instead of one whole reducer.
    */
  def saltedSkewAgg(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SaltedAgg.sumCountBySalt(
        Tables.table(spark, dir, "lineitem"),
        "l_suppkey", col("l_extendedprice").cast("decimal(18,2)"), saltBuckets = 8)
      .select(col("l_suppkey"), col("n"), col("total").cast("double").as("total"))

  /** Right outer join: every customer keeps a row even with zero orders
    * (count of the null-extended side = 0). Complements q53's left/full outer
    * coverage; the planner is free to build the hash side on customer.
    */
  def joinRightOuter(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "orders")
      .join(Tables.table(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"), "right_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))

  /** Pure non-equi join (no equality key at all): the planner has no hash key,
    * so it picks BroadcastNestedLoopJoin — the NLJ entry of SURVEY.md §2.11's
    * join inventory. NLJ is only viable when one side broadcasts; both sides
    * here are dimension-sized (nation), which is exactly the case a planner
    * should NLJ — never two fact tables.
    */
  def joinNestedLoop(spark: SparkSession, dir: String): DataFrame = {
    val n = t(spark, dir, "nation")
    val a = n.select(col("n_nationkey").as("a_key"), col("n_name").as("a_name"),
      col("n_regionkey").as("a_region"))
    val b = n.select(col("n_nationkey").as("b_key"), col("n_name").as("b_name"),
      col("n_regionkey").as("b_region"))
    a.join(b, col("a_region") < col("b_region"))
      .groupBy(col("a_region"), col("b_region"))
      .agg(count(lit(1)).as("n_pairs"),
        min(concat_ws("-", col("a_name"), col("b_name"))).as("first_pair"))
  }

  /** Z-order (Morton) clustering: interleave two low-cardinality dimensions
    * into one sort key via the codegen'd [[graft.functions.ZorderInterleave]]
    * expression; group by z-cell and report per-cell x/y extents. A table
    * laid out in z-cell order gets parquet min/max pruning on BOTH dimensions
    * (the multi-column generalization of the reference's single-prefix
    * short-key index, src/index/mod.rs:114-147). The per-cell x/y ranges in
    * the output ARE the zone maps such a layout would give each file.
    */
  def zorderCluster(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .select((col("o_custkey") % 4096).cast("long").as("x"),
        (datediff(col("o_orderdate"), lit("1992-01-01").cast("date")) % 4096)
          .cast("long").as("y"))
      .withColumn("z", graft.functions.Zorder.zorder64(col("x"), col("y")))
    o.groupBy(shiftright(col("z"), 14).as("zcell"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"),
        min(col("z")).as("z_min"), max(col("z")).as("z_max"))
  }

  /** SQL LATERAL join: a correlated subquery with ORDER BY + LIMIT per outer
    * row — Catalyst decorrelates it (DecorrelateInnerQuery) into a join +
    * per-key window rather than executing the subquery per row. The "top-N
    * related rows per entity" idiom in its declarative SQL form (q10 is the
    * DataFrame-window equivalent).
    */
  def lateralTopK(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer").createOrReplaceTempView("customer_lv")
    t(spark, dir, "orders").createOrReplaceTempView("orders_lv")
    spark.sql(
      """SELECT c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer_lv JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders_lv
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c_custkey < 200""".stripMargin)
  }

  /** Recursive CTE (Spark 4 `WITH RECURSIVE`): a data-driven month ladder
    * over 1996, left-joined to per-month order counts — recursion bounds come
    * from the (filtered) data, and months with zero orders survive. The
    * declarative-SQL cousin of q76's generate_series gap-fill. Kept to 12
    * iterations deliberately: Spark runs each recursive step as its own job,
    * so ladder-style recursion costs O(steps) scheduling — fine for
    * hierarchy/closure depths, wrong for long sequences (those want
    * `sequence()`/`explode`, q76).
    */
  def recursiveMonthLadder(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders_rv")
    spark.sql(
      """WITH RECURSIVE o96 AS (
        |  SELECT o_orderdate FROM orders_rv
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'),
        |b AS (
        |  SELECT date_trunc('month', min(o_orderdate)) AS lo FROM o96),
        |m(mon) AS (
        |  SELECT lo FROM b
        |  UNION ALL
        |  SELECT mon + INTERVAL 1 MONTH FROM m
        |  WHERE mon < TIMESTAMP '1996-12-01'),
        |c AS (SELECT date_trunc('month', o_orderdate) AS mon, count(*) AS n
        |      FROM o96 GROUP BY 1)
        |SELECT m.mon, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM m LEFT JOIN c ON m.mon = c.mon""".stripMargin)
  }

  /** Multiset set operations: `INTERSECT ALL` / `EXCEPT ALL` preserve
    * duplicate multiplicity (min / difference of per-row counts), unlike the
    * distinct-set q14/q15. Input: lineitem line numbers for two overlapping
    * order ranges — genuinely duplicate-heavy input.
    */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val a = t(spark, dir, "lineitem").filter(col("l_orderkey") < 800)
      .select(col("l_linenumber"))
    val b = t(spark, dir, "lineitem").filter(col("l_orderkey") >= 400 && col("l_orderkey") < 1200)
      .select(col("l_linenumber"))
    a.intersectAll(b).groupBy(col("l_linenumber")).agg(count(lit(1)).as("n_inter"))
      .join(
        a.exceptAll(b).groupBy(col("l_linenumber")).agg(count(lit(1)).as("n_except")),
        Seq("l_linenumber"), "full_outer")
      .select(col("l_linenumber"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        coalesce(col("n_except"), lit(0L)).as("n_except"))
  }

  /** Null-safe equality join (`<=>`): NULL keys match each other instead of
    * dropping out — the semantics `JOIN ... ON a = b` silently loses. The
    * nullable key is derived (`nullif`), so the null-match path is exercised
    * with real multiplicity.
    */
  def joinNullSafe(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders").filter(col("o_orderkey") < 600)
      .select(col("o_orderkey"),
        nullif(col("o_orderpriority"), lit("1-URGENT")).as("pri"))
    val counts = o.groupBy(col("pri").as("pri2")).agg(count(lit(1)).as("n_same"))
    o.join(counts, col("pri") <=> col("pri2"))
      .groupBy(col("pri")).agg(count(lit(1)).as("n_rows"), max(col("n_same")).as("n_same"))
  }

  /** Skew-mitigated shuffle join via [[graft.operators.SaltedJoin]]: the big
    * side salts, the small side replicates per salt, and the hot key's volume
    * spreads over 8 reducers. `shuffle_hash` hint models the 100 TB case
    * where the small side exceeds the broadcast threshold (locally it would
    * broadcast and salting would be moot).
    */
  def saltedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").select(col("l_suppkey"), col("l_extendedprice"))
    val s = t(spark, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    graft.operators.SaltedJoin.join(li, s.hint("shuffle_hash"), "l_suppkey", "s_suppkey", 8)
      .groupBy(col("s_nationkey"))
      .agg(dbl(sum(dec(col("l_extendedprice")))).as("revenue"),
        count(lit(1)).as("n"))
  }

  /** Explicit bloom-filter semi-join pre-filter — the runtime-filter pattern
    * spelled out: build a bloom sketch of the small side's keys
    * (`bloom_filter_agg`), ship the one-row binary to the fact scan
    * (`might_contain` is a map-side filter evaluated BEFORE the shuffle), then
    * let the exact semi join remove the false positives. At 100 TB this is
    * what keeps a selective join from shuffling the whole fact table; the
    * final result is exactly the semi join (bloom FPs never survive), which
    * is what the oracle checks. The one-row collect ships an index artifact,
    * not data — same as broadcasting IVF centroids.
    */
  def bloomSemiFilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.shim
    val hv = t(spark, dir, "orders").filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"))
    // BloomFilterAggregate/BloomFilterMightContain are the same expressions
    // Catalyst's runtime-filter rule injects; built explicitly here so the
    // pattern is visible (and usable below the rule's size thresholds)
    val bloom = hv.agg(shim.exprColumn(
        new BloomFilterAggregate(shim.columnExpr(col("o_orderkey")), 50000L)
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val li = t(spark, dir, "lineitem")
      .filter(shim.exprColumn(BloomFilterMightContain(
        shim.columnExpr(lit(bloom)), shim.columnExpr(col("l_orderkey")))))
    li.join(hv, li("l_orderkey") === hv("o_orderkey"), "left_semi")
      .agg(count(lit(1)).as("n"), dbl(sum(dec(col("l_quantity")))).as("qty"))
  }

  /** nth_value and IGNORE NULLS window navigation: the 2nd order key so far
    * in the frame, and the most recent "big order" key (a conditional column
    * whose nulls are skipped) — the fill-forward idiom
    * (`last(..., ignoreNulls)`) every feature-engineering pipeline uses.
    */
  def windowNth(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(spark, dir, "orders").filter(col("o_custkey") < 150)
      .select(col("o_orderkey"), col("o_orderstatus"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"),
        last(when(col("o_totalprice") > 300000.0, col("o_orderkey")),
          ignoreNulls = true).over(w).as("last_big_key"))
  }

  /** TPC-H Q13 shape: distribution of customers by order count, built from a
    * right-outer join (zero-order customers must land in the 0 bucket) and a
    * second tiny aggregation over the first's output — the canonical
    * "histogram of a per-key aggregate" workload.
    */
  def custOrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .filter(!col("o_orderpriority").startsWith("1"))
    val c = t(spark, dir, "customer")
    val perCust = o.join(c, col("o_custkey") === col("c_custkey"), "right_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q115_bloom_semi_filter" -> bloomSemiFilter _,
    "q116_window_nth" -> windowNth _,
    "q117_salted_join" -> saltedJoinQuery _,
    "q119_set_ops_all" -> setOpsAll _,
    "q120_join_null_safe" -> joinNullSafe _,
    "q113_lateral_topk" -> lateralTopK _,
    "q114_recursive_months" -> recursiveMonthLadder _,
    "q112_cust_order_dist" -> custOrderDistribution _,
    "q106_join_nested_loop" -> joinNestedLoop _,
    "q107_zorder_cluster" -> zorderCluster _,
    "q99_salted_agg" -> saltedSkewAgg _,
    "q101_join_right_outer" -> joinRightOuter _,
    "q97_keep_first" -> keepFirst _,
    "q95_map_funcs" -> mapFuncs _,
    "q96_global_sort" -> globalSort _,
    "q91_star_join" -> starJoin _,
    "q92_share_of_total" -> shareOfTotal _,
    "q90_zscore" -> zscore _,
    "q86_stats_agg" -> statsAgg _,
    "q124_bitmap_distinct" -> bitmapDistinct _,
    "q87_profile" -> profileTable _,
    "q83_posexplode" -> posExplodeWords _,
    "q80_window_ranks" -> windowRanks _,
    "q76_gap_fill" -> gapFill _,
    "q77_window_range_frame" -> windowRangeFrame _,
    "q62_schema_evolution" -> schemaEvolution _,
    "q53_join_outer" -> joinOuter _,
    "q54_pivot" -> pivotAgg _,
    "q55_unpivot" -> unpivotAgg _,
    "q56_explode_words" -> explodeWords _,
    "q57_json_extract" -> jsonExtract _,
    "q58_array_funcs" -> arrayFuncs _,
    "q51_sketches" -> sketches _,
    "q28_format_roundtrip" -> formatRoundtrip _,
    "q29_sql_grouping_sets" -> sqlGroupingSets _,
    "q135_waiting_supplier" -> waitingSupplier _,
    "q136_rich_idle_customers" -> richIdleCustomers _,
    "q138_large_orders" -> largeOrders _,
    "q139_supplier_diversity" -> partSupplierDiversity _,
    "q45_udf_udaf" -> udfSurface _,
    "q48_window_analytics" -> windowAnalytics _,
    "q166_rank_distribution" -> rankDistribution _,
    "q01_scan_project" -> scanProject _,
    "q02_filter_scan" -> filterScan _,
    "q03_agg_q1" -> aggQ1 _,
    "q04_agg_distinct" -> aggDistinct _,
    "q05_join_broadcast" -> joinBroadcast _,
    "q06_join_shuffle" -> joinShuffle _,
    "q07_join_semi" -> joinSemi _,
    "q08_join_anti" -> joinAnti _,
    "q09_join_range" -> joinRange _,
    "q10_window_top3" -> windowTopPerGroup _,
    "q11_window_running" -> windowRunning _,
    "q12_topk" -> topK _,
    "q13_set_union" -> setUnion _,
    "q14_set_intersect" -> setIntersect _,
    "q15_set_except" -> setExcept _,
    "q16_rollup" -> rollupAgg _,
    "q17_cube" -> cubeAgg _,
    "q18_scalar_funcs" -> scalarFunctions _,
    "q19_subquery_agg" -> subqueryAgg _,
  )

  val oracles: Map[String, String] = Map(
    // exact NDVs are oracle-computable; the sketch estimates appear only
    // through their accuracy verdicts, which the oracle pins to true (HLL++
    // 3-sigma NDV bound, percentile_approx rank-error bound — see sketches())
    "q51_sketches" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS ndv_orders,
        |  count(DISTINCT l_partkey) AS ndv_parts,
        |  true AS ndv_orders_ok, true AS ndv_parts_ok,
        |  true AS p50_ok, true AS p95_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // the bloom pre-filter is invisible to the result (the exact semi join
    // removes false positives), so the oracle is the plain semi join
    "q115_bloom_semi_filter" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)""".stripMargin,
    "q119_set_ops_all" ->
      """WITH a AS (SELECT l_linenumber FROM lineitem WHERE l_orderkey < 800),
        |b AS (SELECT l_linenumber FROM lineitem
        |      WHERE l_orderkey >= 400 AND l_orderkey < 1200),
        |i AS (SELECT l_linenumber, count(*) AS n_inter
        |      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1),
        |e AS (SELECT l_linenumber, count(*) AS n_except
        |      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1)
        |SELECT coalesce(i.l_linenumber, e.l_linenumber) AS l_linenumber,
        |  coalesce(n_inter, 0) AS n_inter, coalesce(n_except, 0) AS n_except
        |FROM i FULL OUTER JOIN e ON i.l_linenumber = e.l_linenumber""".stripMargin,
    "q120_join_null_safe" ->
      """WITH o AS (SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS pri
        |           FROM orders WHERE o_orderkey < 600),
        |c AS (SELECT pri AS pri2, count(*) AS n_same FROM o GROUP BY pri)
        |SELECT pri, count(*) AS n_rows, max(n_same) AS n_same
        |FROM o JOIN c ON pri IS NOT DISTINCT FROM pri2
        |GROUP BY pri""".stripMargin,
    "q117_salted_join" ->
      """SELECT s_nationkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin,
    "q116_window_nth" ->
      """SELECT o_orderkey, o_orderstatus,
        |  nth_value(o_orderkey, 2) OVER w AS second_key,
        |  last_value(CASE WHEN o_totalprice > 300000.0 THEN o_orderkey END IGNORE NULLS)
        |    OVER w AS last_big_key
        |FROM orders WHERE o_custkey < 150
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q113_lateral_topk" ->
      """SELECT c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c_custkey < 200""".stripMargin,
    // DuckDB's date_trunc returns DATE at month granularity; cast to
    // TIMESTAMP so the ladder type matches Spark's
    "q114_recursive_months" ->
      """WITH RECURSIVE o96 AS (
        |  SELECT o_orderdate FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'),
        |b AS (
        |  SELECT CAST(date_trunc('month', min(o_orderdate)) AS TIMESTAMP) AS lo
        |  FROM o96),
        |m(mon) AS (
        |  SELECT lo FROM b
        |  UNION ALL
        |  SELECT mon + INTERVAL 1 MONTH FROM m
        |  WHERE mon < TIMESTAMP '1996-12-01'),
        |c AS (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
        |        count(*) AS n
        |      FROM o96 GROUP BY 1)
        |SELECT m.mon, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM m LEFT JOIN c ON m.mon = c.mon""".stripMargin,
    "q112_cust_order_dist" ->
      """WITH pc AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM orders RIGHT OUTER JOIN customer ON o_custkey = c_custkey
        |    AND o_orderpriority NOT LIKE '1%'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist FROM pc GROUP BY c_count""".stripMargin,
    "q106_join_nested_loop" ->
      """SELECT a.n_regionkey AS a_region, b.n_regionkey AS b_region,
        |  count(*) AS n_pairs,
        |  min(concat(a.n_name, '-', b.n_name)) AS first_pair
        |FROM nation a JOIN nation b ON a.n_regionkey < b.n_regionkey
        |GROUP BY 1, 2""".stripMargin,
    // The same shift-and-mask spread chain as the Catalyst expression,
    // written with DuckDB lateral column aliases — pure integer bit math,
    // bit-identical in any engine.
    "q107_zorder_cluster" ->
      """WITH pts AS (
        |  SELECT CAST(o_custkey % 4096 AS BIGINT) AS x,
        |         CAST(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) % 4096 AS BIGINT) AS y
        |  FROM orders),
        |z AS (
        |  SELECT x, y,
        |    (x | (x << 16)) & 281470681808895 AS x1,
        |    (x1 | (x1 << 8)) & 71777214294589695 AS x2,
        |    (x2 | (x2 << 4)) & 1085102592571150095 AS x3,
        |    (x3 | (x3 << 2)) & 3689348814741910323 AS x4,
        |    (x4 | (x4 << 1)) & 6148914691236517205 AS x5,
        |    (y | (y << 16)) & 281470681808895 AS y1,
        |    (y1 | (y1 << 8)) & 71777214294589695 AS y2,
        |    (y2 | (y2 << 4)) & 1085102592571150095 AS y3,
        |    (y3 | (y3 << 2)) & 3689348814741910323 AS y4,
        |    (y4 | (y4 << 1)) & 6148914691236517205 AS y5,
        |    x5 | (y5 << 1) AS z
        |  FROM pts)
        |SELECT z >> 14 AS zcell, count(*) AS n,
        |  min(x) AS x_min, max(x) AS x_max,
        |  min(y) AS y_min, max(y) AS y_max,
        |  min(z) AS z_min, max(z) AS z_max
        |FROM z GROUP BY 1""".stripMargin,
    "q99_salted_agg" ->
      """SELECT l_suppkey, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem GROUP BY l_suppkey""".stripMargin,
    "q101_join_right_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM orders RIGHT OUTER JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin,
    "q80_window_ranks" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(dense_rank() OVER w AS INT) AS drank,
        |  CAST(percent_rank() OVER w AS DOUBLE) AS prank,
        |  CAST(cume_dist() OVER w AS DOUBLE) AS cdist
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)""".stripMargin,
    "q76_gap_fill" ->
      """WITH e AS (SELECT event_type, date_trunc('hour', ts) AS h FROM events),
        |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
        |hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
        |grid AS (SELECT t.event_type, hours.h
        |         FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN hours),
        |c AS (SELECT event_type, h, count(*) AS n FROM e GROUP BY 1, 2)
        |SELECT g.event_type, CAST(g.h AS TIMESTAMP) AS h, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.h = c.h""".stripMargin,
    "q77_window_range_frame" ->
      """SELECT o_orderkey, o_orderstatus, o_orderdate,
        |  count(*) OVER w AS n_30d,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rev_30d
        |FROM orders WHERE o_custkey < 300
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)""".stripMargin,
    "q62_schema_evolution" ->
      """SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey < 500
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1000""".stripMargin,
    "q53_join_outer" ->
      """WITH cu AS (SELECT c_nationkey AS ck, count(*) AS n_cust FROM customer GROUP BY 1),
        |     su AS (SELECT s_nationkey AS sk, count(*) AS n_supp FROM supplier GROUP BY 1),
        |     cs AS (SELECT coalesce(ck, sk) AS nk,
        |                   coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |            FROM cu FULL OUTER JOIN su ON ck = sk)
        |SELECT n_name, CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
        |       CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
        |FROM nation LEFT OUTER JOIN cs ON n_nationkey = nk""".stripMargin,
    "q54_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q55_unpivot" ->
      """WITH w AS (SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
        |UNION ALL
        |SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM w""".stripMargin,
    "q56_explode_words" ->
      """SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |FROM documents WHERE doc_id < 50""".stripMargin,
    "q97_keep_first" ->
      """SELECT event_id, user_id, event_type FROM (
        |  SELECT event_id, user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "q95_map_funcs" ->
      """WITH g AS (SELECT l_orderkey, l_linenumber, max(l_quantity) AS q
        |           FROM lineitem WHERE l_orderkey < 300 GROUP BY 1, 2)
        |SELECT l_orderkey, CAST(count(*) AS INT) AS n_lines,
        |  max(CASE WHEN l_linenumber = 1 THEN q END) AS qty_line1,
        |  max(CASE WHEN l_linenumber = 2 THEN q END) AS qty_line2,
        |  max(l_linenumber) AS max_line
        |FROM g GROUP BY l_orderkey""".stripMargin,
    "q96_global_sort" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey < 2000
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,
    "q91_star_join" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "q92_share_of_total" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS grp_rev,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) /
        |        CAST(sum(sum(CAST(l_extendedprice AS DECIMAL(18,2)))) OVER () AS DOUBLE), 6) AS share
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q90_zscore" ->
      """WITH m AS (SELECT o_orderstatus, avg(o_totalprice) AS mu,
        |    stddev_pop(o_totalprice) AS sd
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderkey, o.o_orderstatus, round((o_totalprice - mu) / sd, 4) AS z
        |FROM orders o JOIN m USING (o_orderstatus) WHERE o_orderkey < 400""".stripMargin,
    "q86_stats_agg" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |  round(covar_pop(l_quantity, l_discount), 6) AS covar_qd,
        |  round(stddev_pop(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_discount), 6) AS var_disc
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // Bitmap NDV is EXACT, so the oracle is plain COUNT(DISTINCT).
    "q124_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS ndv_users
        |FROM events GROUP BY event_type""".stripMargin,
    "q87_profile" ->
      """SELECT 'o_orderkey' AS col_name, count(*) AS n,
        |  count(*) - count(o_orderkey) AS nulls, count(DISTINCT o_orderkey) AS ndv,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_v, CAST(max(o_orderkey) AS VARCHAR) AS max_v
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |  count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
        |  count(DISTINCT o_totalprice),
        |  CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
        |  CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
        |FROM orders""".stripMargin,
    "q83_posexplode" ->
      """SELECT doc_id,
        |  CAST(generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1) - 1 AS INT) AS pos,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |FROM documents WHERE doc_id < 50""".stripMargin,
    "q57_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q58_array_funcs" ->
      """WITH g AS (SELECT l_orderkey, list_sort(list(l_linenumber)) AS lines
        |           FROM lineitem WHERE l_orderkey < 500 GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  CAST(lines AS VARCHAR) AS lines,
        |  CAST(len(lines) AS INT) AS n,
        |  list_max(lines) AS max_line,
        |  list_contains(lines, 1) AS has_first,
        |  CAST(lines[1:2] AS VARCHAR) AS first2
        |FROM g""".stripMargin,
    "q28_format_roundtrip" ->
      """SELECT o_orderstatus, CAST(count(*) * 3 AS BIGINT) AS n3,
        |  count(DISTINCT o_orderkey) AS nd
        |FROM orders WHERE o_orderkey < 1000 GROUP BY o_orderstatus""".stripMargin,
    "q29_sql_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderstatus, o_orderpriority), ())""".stripMargin,
    "q135_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name""".stripMargin,
    "q138_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150)
        |SELECT c_name, o_orderkey, o_totalprice, CAST(qty AS DOUBLE) AS total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "q139_supplier_diversity" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_size""".stripMargin,
    "q136_rich_idle_customers" ->
      """WITH thr AS (
        |  SELECT floor(sum(CAST(c_acctbal AS DECIMAL(18,2))) / count(*)) AS t
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT n_name, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, nation, thr
        |WHERE c_nationkey = n_nationkey AND c_acctbal > thr.t
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |GROUP BY n_name""".stripMargin,
    "q166_rank_distribution" ->
      """SELECT o_orderkey, o_orderpriority,
        |  floor(percent_rank() OVER w * 10000) / 10000 AS pct_rank,
        |  floor(cume_dist() OVER w * 10000) / 10000 AS cume
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin,
    "q45_udf_udaf" ->
      """SELECT l_returnflag, reverse(l_returnflag) AS flag_rev,
        |  CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sumsq_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q48_window_analytics" ->
      """SELECT o_orderkey, o_orderstatus,
        |  lag(o_orderkey, 1) OVER w AS prev_key,
        |  lead(o_orderkey, 1) OVER w AS next_key,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  first_value(o_orderkey) OVER w AS first_key
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q01_scan_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
    "q02_filter_scan" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q03_agg_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q04_agg_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q05_join_broadcast" ->
      """SELECT p_brand, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,
    "q06_join_shuffle" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q07_join_semi" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)""".stripMargin,
    "q08_join_anti" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0)""".stripMargin,
    "q09_join_range" ->
      """SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate AND l_shipdate < o_orderdate + INTERVAL 90 DAY
        |GROUP BY o_orderstatus""".stripMargin,
    "q10_window_top3" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "q11_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders WHERE o_custkey < 100""".stripMargin,
    "q12_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25",
    "q13_set_union" ->
      "SELECT o_custkey AS k FROM orders UNION SELECT c_custkey AS k FROM customer",
    "q14_set_intersect" ->
      "SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey AS k FROM orders",
    "q15_set_except" ->
      "SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey AS k FROM orders WHERE o_totalprice > 450000.0",
    "q16_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q17_cube" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q18_scalar_funcs" ->
      """SELECT o_orderkey,
        |  upper(o_orderpriority) AS pri_upper,
        |  substr(o_orderpriority, 1, 1) AS pri_code,
        |  length(o_orderpriority) AS pri_len,
        |  concat_ws('#', o_orderstatus, o_orderpriority) AS tag,
        |  year(o_orderdate) AS yr, month(o_orderdate) AS mo, day(o_orderdate) AS dom,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(2 AS DECIMAL(18,2)) AS DOUBLE) AS dbl_price,
        |  abs(o_custkey - 500) AS cust_dist
        |FROM orders WHERE o_orderkey < 1000""".stripMargin,
    "q19_subquery_agg" ->
      """SELECT o_orderkey,
        |  (SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM orders o2
        |   WHERE o2.o_custkey = o1.o_custkey) AS cust_total
        |FROM orders o1 WHERE o_orderkey < 2000""".stripMargin,
  )
}
