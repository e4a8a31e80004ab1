package graft.plans

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.catalog._
import graft.engine.{OlapEngine, RollupDef}
import graft.manifest.Version
import graft.model._

/** Transparent rollup selection ([[RollupRewrite]]): the optimizer swaps a
  * base-table aggregation for a fresh covering rollup — and refuses to when
  * the rollup is stale, the grouping isn't covered, or the aggregate doesn't
  * re-aggregate.
  */
class RollupRewriteSpec extends AnyFunSuite {
  private lazy val spark = { val s = SparkTestSession.spark; graft.GraftExtensions.register(s); s }

  import org.apache.spark.sql.types._
  import org.apache.spark.sql.Row
  import scala.jdk.CollectionConverters._

  private def fixture(): OlapEngine = {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-rr-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", StringType),
        ColumnSpec.value("grp", StringType),
        ColumnSpec.value("v", LongType),
        ColumnSpec.value("u", LongType),
        ColumnSpec.value("price", DecimalType(18, 2)))),
      bucketColumn = Some("k"), numBuckets = 2))
    def rows(lo: Int, hi: Int) = spark.createDataFrame(
      (lo until hi).map(i => Row(s"k$i", s"g${i % 3}", i.toLong, (i % 7).toLong,
        new java.math.BigDecimal(s"$i.25"))).asJava,
      StructType(Seq(
        StructField("k", StringType), StructField("grp", StringType),
        StructField("v", LongType), StructField("u", LongType),
        StructField("price", DecimalType(18, 2)))))
    eng.ingest("db", "t", rows(0, 60), Some(Version(1, 1)))
    eng.ingest("db", "t", rows(60, 100), Some(Version(2, 2)))
    eng.rollups.materialize("db", "t", rollupDefOfFixture)
    eng
  }

  private val rollupDefOfFixture = RollupDef(
    name = "by_grp", groupCols = Seq("grp"),
    aggs = Seq(("s_v", "v", AggType.Sum), ("mx_v", "v", AggType.Max),
      ("s_p", "price", AggType.Sum)),
    countCol = Some("n_rows"),
    bitmapCol = Some(("bm_u", "u")))

  private def usesRollup(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains("rollups"))
          case _ => false
        }
    }.exists(identity)

  private def baseAgg(eng: OlapEngine): DataFrame =
    eng.scan("db", "t").groupBy(col("grp"))
      .agg(sum(col("v")).as("s_v"), max(col("v")).as("mx_v"),
        sum(col("price")).as("s_p"))

  test("filtered rollup: serves only queries carrying its exact predicate") {
    val eng = fixture()
    eng.rollups.materialize("db", "t", RollupDef(
      name = "big_by_grp", groupCols = Seq("grp"),
      aggs = Seq(("s_v", "v", AggType.Sum)),
      countCol = Some("n_rows"),
      filter = Some("v >= 50")))
    def q(f: DataFrame => DataFrame) = f(eng.scan("db", "t"))
      .groupBy(col("grp")).agg(sum(col("v")).as("s_v"))
    // the matching filter rewrites to the filtered rollup
    val hit = q(_.filter(col("v") >= 50))
    assert(usesRollup(hit), hit.queryExecution.optimizedPlan.toString)
    val want = (0 until 3).map(g =>
      s"g$g" -> (50 until 100).filter(_ % 3 == g).map(_.toLong).sum).toMap
    assert(hit.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == want)
    // a different predicate must NOT be served by the filtered rollup —
    // the unfiltered by_grp rollup can't serve it either (non-dim filter)
    val miss = q(_.filter(col("v") >= 60))
    assert(!usesRollup(miss), miss.queryExecution.optimizedPlan.toString)
    assert(miss.collect().map(r => r.getLong(1)).sum ==
      (60 until 100).map(_.toLong).sum)
    // an unfiltered query must not read the filtered rollup (it reads the
    // UNfiltered by_grp rollup instead — with the full answer)
    val unfiltered = q(identity)
    assert(unfiltered.collect().map(r => r.getLong(1)).sum ==
      (0 until 100).map(_.toLong).sum)
    // predicate + extra dimension filter: predicate consumed, dim replayed
    val withDim = q(_.filter(col("v") >= 50 && col("grp") === "g1"))
    assert(usesRollup(withDim), withDim.queryExecution.optimizedPlan.toString)
    assert(withDim.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("g1" -> want("g1")))
  }

  test("an empty load does not keep a rollup from serving") {
    val eng = fixture()
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      eng.scan("db", "t").schema)
    eng.ingest("db", "t", empty, Some(Version(3, 3)))
    assert(eng.manifest("db", "t").visibleRowsets.exists(_.numRows == 0))
    eng.rollups.materialize("db", "t", rollupDefOfFixture)
    val q = baseAgg(eng)
    assert(usesRollup(q), q.queryExecution.optimizedPlan.toString)
    assert(q.collect().map(_.getLong(1)).sum == (0 until 100).map(_.toLong).sum)
  }

  test("aggregate over the base scan is answered from the rollup, exactly") {
    val eng = fixture()
    val q = baseAgg(eng)
    assert(usesRollup(q), q.queryExecution.optimizedPlan.toString)
    val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getDecimal(3).toPlainString)).sortBy(_._1)
    // ground truth straight from the generator: groups g0/g1/g2 over 0..99
    def ids(g: Int) = (0 until 100).filter(_ % 3 == g)
    val want = (0 until 3).map { g =>
      (s"g$g", ids(g).map(_.toLong).sum, ids(g).max.toLong,
        new java.math.BigDecimal(s"${ids(g).sum}.00")
          .add(new java.math.BigDecimal("0.25").multiply(
            new java.math.BigDecimal(ids(g).size))).toPlainString)
    }
    assert(got.toSeq == want)
  }

  test("coarser grouping than the rollup dims still rewrites (re-aggregation)") {
    val eng = fixture()
    // rollup dims = (grp); group on the SAME col but with a dimension filter,
    // which must be replayed over the rollup scan
    val q = eng.scan("db", "t").filter(col("grp") =!= "g1")
      .groupBy(col("grp")).agg(sum(col("v")).as("s_v"))
    assert(usesRollup(q), q.queryExecution.optimizedPlan.toString)
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    def ids(g: Int) = (0 until 100).filter(_ % 3 == g)
    assert(got.toSeq == Seq(("g0", ids(0).map(_.toLong).sum), ("g2", ids(2).map(_.toLong).sum)))
  }

  test("stale rollup is NOT selected; refresh re-enables it") {
    val eng = fixture()
    eng.ingest("db", "t", spark.createDataFrame(
      Seq(Row("k100", "g0", 1000L, 3L, new java.math.BigDecimal("1.00"))).asJava,
      StructType(Seq(
        StructField("k", StringType), StructField("grp", StringType),
        StructField("v", LongType), StructField("u", LongType),
        StructField("price", DecimalType(18, 2))))),
      Some(Version(3, 3)))
    val stale = baseAgg(eng)
    assert(!usesRollup(stale), stale.queryExecution.optimizedPlan.toString)
    val fromBase = stale.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    eng.rollups.refreshIncremental("db", "t", "by_grp")
    val fresh = baseAgg(eng)
    assert(usesRollup(fresh), fresh.queryExecution.optimizedPlan.toString)
    val fromRollup = fresh.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(fromRollup == fromBase)
    assert(fromRollup("g0") == (0 until 100).filter(_ % 3 == 0).map(_.toLong).sum + 1000L)
  }

  test("the scheduled maintenance tick refreshes lagging rollups (Doris-sync)") {
    val eng = fixture()
    eng.ingest("db", "t", spark.createDataFrame(
      Seq(Row("k101", "g1", 500L, 4L, new java.math.BigDecimal("2.00"))).asJava,
      StructType(Seq(
        StructField("k", StringType), StructField("grp", StringType),
        StructField("v", LongType), StructField("u", LongType),
        StructField("price", DecimalType(18, 2))))),
      Some(Version(3, 3)))
    assert(!usesRollup(baseAgg(eng)), "a fresh load must stand the rollup down")
    // no manual refresh: the maintenance tick sweeps lagging materializations
    eng.runScheduledCompaction()
    val fresh = baseAgg(eng)
    assert(usesRollup(fresh), fresh.queryExecution.optimizedPlan.toString)
    assert(fresh.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      .apply("g1") == (0 until 100).filter(_ % 3 == 1).map(_.toLong).sum + 500L)
    // the tiered tick carries the same sweep
    eng.ingest("db", "t", spark.createDataFrame(
      Seq(Row("k102", "g2", 700L, 5L, new java.math.BigDecimal("3.00"))).asJava,
      StructType(Seq(
        StructField("k", StringType), StructField("grp", StringType),
        StructField("v", LongType), StructField("u", LongType),
        StructField("price", DecimalType(18, 2))))),
      Some(Version(4, 4)))
    assert(!usesRollup(baseAgg(eng)))
    eng.runTieredCompaction()
    assert(usesRollup(baseAgg(eng)))
  }

  test("scalar expressions over aggregates still rewrite (CollapseProject shape)") {
    val eng = fixture()
    // .withColumn after .agg collapses into the Aggregate:
    // Alias(Cast(AggregateExpression)) — the q121 shape
    val q1 = eng.scan("db", "t").groupBy(col("grp"))
      .agg(sum(col("price")).as("s_p"))
      .withColumn("s_p", col("s_p").cast("double"))
    assert(usesRollup(q1), q1.queryExecution.optimizedPlan.toString)
    val got1 = q1.collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    def ids(g: Int) = (0 until 100).filter(_ % 3 == g)
    def priceSum(g: Int) = ids(g).sum + 0.25 * ids(g).size
    assert(got1.toSeq == (0 until 3).map(g => (s"g$g", priceSum(g))))
    // arithmetic over two aggregates + a dimension reference
    val q2 = eng.scan("db", "t").groupBy(col("grp"))
      .agg((sum(col("v")) + max(col("v"))).as("c"),
        concat(col("grp"), lit("!")).as("tag"))
    assert(usesRollup(q2), q2.queryExecution.optimizedPlan.toString)
    val got2 = q2.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(got2.toSeq == (0 until 3).map(g =>
      (s"g$g", ids(g).map(_.toLong).sum + ids(g).max, s"g$g!")))
  }

  test("count(*) re-aggregates from the stored per-group count; SQL path works") {
    val eng = fixture()
    eng.scan("db", "t").createOrReplaceTempView("t_v")
    val q = spark.sql(
      "SELECT grp, count(*) AS n, sum(v) AS s FROM t_v GROUP BY grp")
    assert(usesRollup(q), q.queryExecution.optimizedPlan.toString)
    val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    def ids(g: Int) = (0 until 100).filter(_ % 3 == g)
    assert(got.toSeq == (0 until 3).map(g =>
      (s"g$g", ids(g).size.toLong, ids(g).map(_.toLong).sum)))
    // count(column) must NOT rewrite (null semantics differ from count(*))
    assert(!usesRollup(eng.scan("db", "t").groupBy(col("grp"))
      .agg(count(col("v")).as("n"))))
  }

  test("count(distinct) rewrites to bitmap OR-merge + cardinality sum") {
    val eng = fixture()
    val q = eng.scan("db", "t").groupBy(col("grp"))
      .agg(count_distinct(col("u")).as("ndv"), count(lit(1)).as("n"),
        sum(col("v")).as("s_v"))
    assert(usesRollup(q), q.queryExecution.optimizedPlan.toString)
    val got = q.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    def ids(g: Int) = (0 until 100).filter(_ % 3 == g)
    assert(got.toSeq == (0 until 3).map(g => (s"g$g",
      ids(g).map(_ % 7).distinct.size.toLong, ids(g).size.toLong,
      ids(g).map(_.toLong).sum)))
    // count(distinct) on a column with NO stored bitmap must NOT rewrite
    assert(!usesRollup(eng.scan("db", "t").groupBy(col("grp"))
      .agg(count_distinct(col("v")).as("x"))))
  }

  test("incremental refresh keeps the stored count summable") {
    val eng = fixture()
    eng.ingest("db", "t", spark.createDataFrame(
      Seq(Row("k200", "g1", 7L, 50L, new java.math.BigDecimal("2.00")),
        Row("k201", "g1", 8L, 51L, new java.math.BigDecimal("3.00"))).asJava,
      StructType(Seq(
        StructField("k", StringType), StructField("grp", StringType),
        StructField("v", LongType), StructField("u", LongType),
        StructField("price", DecimalType(18, 2))))),
      Some(Version(3, 3)))
    eng.rollups.refreshIncremental("db", "t", "by_grp")
    val q = eng.scan("db", "t").groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), count_distinct(col("u")).as("ndv"))
    assert(usesRollup(q), q.queryExecution.optimizedPlan.toString)
    val got = q.collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got("g1")._1 == (0 until 100).count(_ % 3 == 1).toLong + 2)
    assert(got("g0")._1 == (0 until 100).count(_ % 3 == 0).toLong)
    // the two new u values (50, 51) extend g1's bitmap past the base 0..6
    assert(got("g1")._2 == 9L)
    assert(got("g0")._2 == 7L)
  }

  test("incremental refresh after DELETE WHERE rebuilds — deleted rows leave the rollup") {
    val eng = fixture()
    // delete masks rows already folded into the stored v2 rollup; the delta
    // (the v3 delete marker) is NOT append-only, so refreshIncremental must
    // fall back to a full materialize instead of folding the (empty) delta in
    eng.deleteWhere("db", "t", "v >= 50", Some(Version(3, 3)))
    eng.rollups.refreshIncremental("db", "t", "by_grp")
    val q = baseAgg(eng)
    assert(usesRollup(q), q.queryExecution.optimizedPlan.toString)
    def ids(g: Int) = (0 until 50).filter(_ % 3 == g)
    val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == (0 until 3).map(g => s"g$g" -> ids(g).map(_.toLong).sum).toMap)
    // count + distinct paths must also reflect the delete
    val qc = eng.scan("db", "t").groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), count_distinct(col("u")).as("ndv"))
    assert(usesRollup(qc), qc.queryExecution.optimizedPlan.toString)
    val gotC = qc.collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(gotC == (0 until 3).map(g =>
      s"g$g" -> (ids(g).size.toLong, ids(g).map(_ % 7).distinct.size.toLong)).toMap)
  }

  test("global aggregate (no GROUP BY) rewrites; registered views query with full semantics") {
    val eng = fixture()
    val g = eng.scan("db", "t").agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    assert(usesRollup(g), g.queryExecution.optimizedPlan.toString)
    val row = g.collect().head
    assert((row.getLong(0), row.getLong(1)) == ((0 until 100).map(_.toLong).sum, 100L))

    eng.registerViews("db")
    val v = spark.sql("SELECT grp, max(v) AS m FROM db_t GROUP BY grp")
    assert(usesRollup(v), v.queryExecution.optimizedPlan.toString)
    assert(v.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq ==
      (0 until 3).map(g => (s"g$g", (0 until 100).filter(_ % 3 == g).max.toLong)))
  }

  test("among several covering rollups the fewest-dimension one wins") {
    val eng = fixture()
    // a finer two-dimension rollup that ALSO covers grp-only aggregates
    eng.rollups.materialize("db", "t", RollupDef(
      name = "by_grp_k", groupCols = Seq("grp", "k"),
      aggs = Seq(("s_v", "v", AggType.Sum))))
    val q = eng.scan("db", "t").groupBy(col("grp")).agg(sum(col("v")).as("s_v"))
    val leaves = q.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten
    assert(leaves.exists(_.contains("rollups/by_grp/")), leaves.mkString(","))
  }

  test("rewrite survives compaction (same versions, new files)") {
    val eng = fixture()
    eng.compact("db", "t")
    eng.gc("db", "t")
    // compaction rewrote the files but not the data or max version: a scan
    // built NOW sees the compacted rowset and the rollup is still fresh
    val q = baseAgg(eng)
    assert(usesRollup(q), q.queryExecution.optimizedPlan.toString)
    def ids(g: Int) = (0 until 100).filter(_ % 3 == g)
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq ==
      (0 until 3).map(g => (s"g$g", ids(g).map(_.toLong).sum)))
  }

  test("randomized equivalence: rewritten answers equal base-scan answers") {
    val eng = fixture()
    val rnd = new scala.util.Random(42)
    val aggPool: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "s_v" -> sum(col("v")), "mx_v" -> max(col("v")),
      "n" -> count(lit(1)), "sp_d" -> sum(col("price")).cast("double"),
      "mix" -> (sum(col("v")) + max(col("v"))),
      "ndv" -> count_distinct(col("u")))
    for (_ <- 1 to 8) {
      val picks = rnd.shuffle(aggPool).take(1 + rnd.nextInt(aggPool.size))
        .map { case (n, c) => c.as(n) }
      val grouped = rnd.nextBoolean()
      def build() = {
        val s = eng.scan("db", "t")
        val base = if (grouped) s.groupBy(col("grp")) else s.groupBy()
        base.agg(picks.head, picks.tail: _*)
      }
      val q = build()
      assert(usesRollup(q), q.queryExecution.optimizedPlan.toString)
      val viaRollup = q.collect().map(_.toSeq).sortBy(_.mkString("|"))
      graft.GraftExtensions.withoutRules(spark, RollupRewrite) {
        val q2 = build()
        assert(!usesRollup(q2))
        val viaBase = q2.collect().map(_.toSeq).sortBy(_.mkString("|"))
        assert(viaRollup.toSeq == viaBase.toSeq)
      }
    }
  }

  test("coarse rollup builds from a fresh finer rollup (cascade), matching base numbers") {
    val eng = fixture()
    // finer than by_grp on the k axis: nothing covers it, so it builds from base
    val srcFine = eng.rollups.materialize("db", "t", RollupDef(
      "by_grp_k", Seq("grp", "k"), Seq(("s_v", "v", AggType.Sum)),
      countCol = Some("n")))
    assert(srcFine == "base", srcFine)
    // a new grp-level rollup is covered by the fresh ones -> must cascade
    val src = eng.rollups.materialize("db", "t", RollupDef(
      "by_grp2", Seq("grp"), Seq(("s_v", "v", AggType.Sum)),
      countCol = Some("n2")))
    assert(src.startsWith("rollup:"), src)
    val v = eng.manifest("db", "t").maxVersion
    val stored = spark.read.parquet(eng.tableRoot("db", "t")
      .resolve("rollups").resolve("by_grp2").resolve(s"v$v").toString)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("s_v"),
        r.getAs[Long]("n2"))).sortBy(_._1)
    def ids(g: Int) = (0 until 100).filter(_ % 3 == g)
    assert(stored.toSeq == (0 until 3).map(g =>
      (s"g$g", ids(g).map(_.toLong).sum, ids(g).size.toLong)))
  }

  test("grouping by a non-rollup column does not rewrite") {
    val eng = fixture()
    // rollup dims = (grp); grouping by k isn't derivable from the stored
    // groups — the rewrite must stay off and the base scan must answer
    val q = eng.scan("db", "t").groupBy(col("k")).agg(sum(col("v")).as("s_v"))
    assert(!usesRollup(q), q.queryExecution.optimizedPlan.toString)
    assert(q.count() == 100L)
    assert(q.collect().map(_.getLong(1)).sum == (0 until 100).map(_.toLong).sum)
  }

  test("non-re-aggregable shapes are left alone") {
    val eng = fixture()
    // avg: not in the rollup closure
    assert(!usesRollup(eng.scan("db", "t").groupBy(col("grp"))
      .agg(avg(col("v")).as("a"))))
    // grouping on a non-dimension column
    assert(!usesRollup(eng.scan("db", "t").groupBy(col("k"))
      .agg(sum(col("v")).as("s"))))
    // filter on a non-dimension column (does not commute with pre-agg)
    assert(!usesRollup(eng.scan("db", "t").filter(col("v") > 10)
      .groupBy(col("grp")).agg(sum(col("v")).as("s"))))
    // distinct aggregate
    assert(!usesRollup(eng.scan("db", "t").groupBy(col("grp"))
      .agg(sum_distinct(col("v")).as("s"))))
    // partial snapshot (not the current full covering set)
    assert(!usesRollup(eng.snapshot("db", "t", 1, 1).groupBy(col("grp"))
      .agg(sum(col("v")).as("s"))))
  }

  test("partition-scoped staleness: a load into one partition keeps the rollup serving the others") {
    // the per-partition rollup_indexes granularity the reference declares
    // (src/partition.rs:74-75): freshness is per partition, not per table
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-rrp-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "pt", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", StringType),
        ColumnSpec.value("region", StringType),
        ColumnSpec.value("v", LongType))),
      policy = PartitionPolicy.List, partitionColumn = Some("region"),
      partitions = Seq(
        PartitionSpec("pa", listValues = Seq("east"), numBuckets = 2),
        PartitionSpec("pb", listValues = Seq("west"), numBuckets = 2)),
      bucketColumn = Some("k"), numBuckets = 2))
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("region", StringType),
      StructField("v", LongType)))
    def rows(lo: Int, hi: Int, region: String) = spark.createDataFrame(
      (lo until hi).map(i => Row(s"$region$i", region, i.toLong)).asJava, schema)
    eng.ingest("db", "pt", rows(0, 40, "east").union(rows(0, 40, "west")),
      Some(Version(1, 1)))
    eng.rollups.materialize("db", "pt", RollupDef(
      name = "by_region", groupCols = Seq("region"),
      aggs = Seq(("s_v", "v", AggType.Sum))))
    // new load lands ONLY in partition pa (east)
    eng.ingest("db", "pt", rows(40, 50, "east"), Some(Version(2, 2)))

    def q(region: String) = eng.scan("db", "pt")
      .filter(col("region") === region)
      .groupBy(col("region")).agg(sum(col("v")).as("s_v"))
    // west is untouched by the new load -> rollup still selected, and exact
    assert(usesRollup(q("west")), "untouched partition must still serve from the rollup")
    assert(q("west").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("west", (0 until 40).map(_.toLong).sum)))
    // east WAS touched -> rollup must NOT serve it; base gives the new rows
    assert(!usesRollup(q("east")), "touched partition must fall back to base")
    assert(q("east").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("east", (0 until 50).map(_.toLong).sum)))
    // an UNFILTERED aggregate spans the touched partition -> base
    assert(!usesRollup(eng.scan("db", "pt")
      .groupBy(col("region")).agg(sum(col("v")).as("s_v"))))
    // after refresh the rollup serves everything again
    eng.rollups.refreshIncremental("db", "pt", "by_region")
    assert(usesRollup(q("east")))
    assert(usesRollup(eng.scan("db", "pt")
      .groupBy(col("region")).agg(sum(col("v")).as("s_v"))))
  }
}
