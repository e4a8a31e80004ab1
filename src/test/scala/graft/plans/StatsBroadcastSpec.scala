package graft.plans

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join => LJoin}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestSession
import graft.catalog._
import graft.engine.OlapEngine
import graft.manifest.Version
import graft.model._

/** Stats-informed broadcast planning ([[StatsBroadcastRewrite]]): a Unique
  * dimension under heavy version churn must flip a fact join from shuffle
  * to broadcast when the manifest NDV bound proves the MERGED side small —
  * and must refuse every shape whose bound is not provable.
  */
class StatsBroadcastSpec extends AnyFunSuite {
  private lazy val spark = { val s = SparkTestSession.spark; graft.GraftExtensions.register(s); s }

  private def ruleOff[T](body: => T): T =
    graft.GraftExtensions.withoutRules(spark, StatsBroadcastRewrite)(body)

  private val NKeys = 400
  private val Loads = 10

  /** Churned Unique dim: `Loads` full upserts of the same `NKeys` keys, NDV
    * sketches declared on the key.
    */
  private def churnedEngine(): OlapEngine = {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-sb-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "dim", schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("v", DoubleType))),
      ndvStatsColumns = Seq("k")))
    import scala.jdk.CollectionConverters._
    val st = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", DoubleType)))
    (1 to Loads).foreach { ld =>
      eng.ingest("db", "dim", spark.createDataFrame(
        (0L until NKeys.toLong).map(i => Row(i, i * 1.0 + ld * 1000.0)).asJava, st),
        Some(Version(ld, ld)))
    }
    eng
  }

  private def fact: DataFrame = {
    import scala.jdk.CollectionConverters._
    val st = StructType(Seq(StructField("k", LongType, nullable = false)))
    spark.createDataFrame(
      (0L until 4000L).map(i => Row(i % NKeys)).asJava, st)
  }

  private def hinted(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case j: LJoin if j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
          j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) => true
    }.getOrElse(false)

  /** Did the planner broadcast the DIM side (the join's right/build side)?
    * Build-side-qualified: a natively-broadcast small FACT side (BuildLeft)
    * must not count as the rule's flip.
    */
  private def physicallyBroadcast(df: DataFrame): Boolean =
    "BroadcastHashJoin.*BuildRight".r
      .findFirstIn(df.queryExecution.executedPlan.toString).nonEmpty

  private def withThreshold[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, prev)
  }

  test("NDV bound holds and is tight; sits far under the native estimate") {
    val eng = churnedEngine()
    val dim = eng.scan("db", "dim")
    val plan = dim.queryExecution.optimizedPlan
    val bound = StatsBroadcastRewrite.estimatedBytes(plan)
    assert(bound.isDefined, "merge view over sketched keys must be boundable")
    val rowBytes = 8.0 + plan.output.map(_.dataType.defaultSize).sum
    val exactBytes = dim.count() * rowBytes
    assert(bound.get >= exactBytes, s"bound ${bound.get} must cover $exactBytes")
    assert(bound.get <= 4.0 * exactBytes, s"bound ${bound.get} not tight vs $exactBytes")
    val native = plan.stats.sizeInBytes.toDouble
    assert(bound.get < native / 2,
      s"churned fixture premise: bound ${bound.get} should undercut native $native")
  }

  test("join flips to broadcast with the rule armed, shuffles with it off") {
    val eng = churnedEngine()
    val dim = eng.scan("db", "dim")
    val plan = dim.queryExecution.optimizedPlan
    val bound = StatsBroadcastRewrite.estimatedBytes(plan).get
    // the estimate the PLANNER compares against the threshold: the dim
    // side's stats inside the optimized join (pruning/pushdown can move it
    // off the standalone plan's number)
    val native = ruleOff {
      fact.join(dim, "k").queryExecution.optimizedPlan.collectFirst {
        case j: LJoin => j.right.stats.sizeInBytes.toDouble
      }.get
    }
    assert(bound < native, s"churned premise: bound $bound < native $native")
    val thr = ((bound + native) / 2).toLong
    def joined = fact.join(dim, "k").groupBy().agg(sum(col("v")).as("sv"))
    withThreshold(thr) {
      assert(hinted(joined) && physicallyBroadcast(joined),
        "rule must plant the hint and the planner must honor it")
      ruleOff(assert(!hinted(joined) && !physicallyBroadcast(joined),
        "without the rule the same threshold must shuffle"))
    }
    // results identical either way (strategy hints cannot change answers)
    val broadcastRes = withThreshold(thr)(joined.collect().toSeq)
    val shuffleRes = ruleOff(withThreshold(thr)(joined.collect().toSeq))
    assert(broadcastRes == shuffleRes)
  }

  test("refusals: raw scans, expression groupings, expanding operators, disabled broadcast") {
    val eng = churnedEngine()
    val dim = eng.scan("db", "dim")
    val plan = dim.queryExecution.optimizedPlan
    val bound = StatsBroadcastRewrite.estimatedBytes(plan).get
    val native = plan.stats.sizeInBytes.toDouble
    val thr = ((bound + native) / 2).toLong
    withThreshold(thr) {
      // grouping by an EXPRESSION of the key (values may exceed no sketch):
      // k % 7 groups to at most 7 rows but traces to no sketched column
      val exprGrouped = dim.groupBy((col("k") % 7).as("g"))
        .agg(sum(col("v")).as("sv"))
      val f = fact
      val j1 = f.join(exprGrouped, f("k") % 7 === exprGrouped("g"))
      assert(!hinted(j1), "expression grouping must not be bounded by the key NDV")
      // an explode ABOVE the merge view can expand rows past the bound
      val exploded = dim.select(col("k"),
        explode(array(col("v"), col("v") + 1)).as("v2"))
      val j2 = fact.join(exploded, "k")
      assert(!hinted(j2), "row-expanding side must not be hinted")
      // threshold <= 0 = user disabled broadcasts entirely: respected
      withThreshold(-1L) {
        assert(!hinted(fact.join(dim, "k")),
          "autoBroadcastJoinThreshold=-1 must suppress the rule")
      }
    }
    // a raw Duplicate-style subtree (no aggregate): unboundable
    assert(StatsBroadcastRewrite.estimatedBytes(
      fact.queryExecution.optimizedPlan).isEmpty)
  }

  test("Aggregate-model dims bound too (the pre-aggregation rollup shape)") {
    // a Sum-model metrics table under load churn: same raw-vs-merged gap,
    // same key-NDV bound — the merge view is a groupBy(keys).agg(sum)
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-sb-agg-wh-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(
      db = "db", name = "m", schema = TableSchema(KeysType.Aggregate, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.value("v", DoubleType, AggType.Sum))),
      ndvStatsColumns = Seq("k")))
    import scala.jdk.CollectionConverters._
    val st = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", DoubleType)))
    (1 to Loads).foreach { ld =>
      eng.ingest("db", "m", spark.createDataFrame(
        (0L until NKeys.toLong).map(i => Row(i, 1.0)).asJava, st),
        Some(Version(ld, ld)))
    }
    val dim = eng.scan("db", "m")
    val plan = dim.queryExecution.optimizedPlan
    val bound = StatsBroadcastRewrite.estimatedBytes(plan)
    assert(bound.isDefined, "Aggregate-model merge view must bound by key NDV")
    val exactBytes = dim.count() * (8.0 + plan.output.map(_.dataType.defaultSize).sum)
    assert(bound.get >= exactBytes && bound.get <= 4.0 * exactBytes)
    val native = ruleOff {
      fact.join(dim, "k").queryExecution.optimizedPlan.collectFirst {
        case j: LJoin => j.right.stats.sizeInBytes.toDouble
      }.get
    }
    assert(bound.get < native, s"premise: bound ${bound.get} < native $native")
    withThreshold(((bound.get + native) / 2).toLong) {
      val joined = fact.join(dim, "k").groupBy().agg(sum(col("v")).as("sv"))
      assert(hinted(joined) && physicallyBroadcast(joined))
    }
  }

  test("property: bound covers the exact merged size over random churn shapes") {
    // seeded: random key-universe sizes, load counts, and per-load subsets
    // (overlapping loads make merged count < raw count AND < universe) —
    // the bound must hold on every shape, not just full-upsert churn
    val rnd = new scala.util.Random(42)
    import scala.jdk.CollectionConverters._
    val st = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", DoubleType)))
    (1 to 3).foreach { trial =>
      val universe = 50 + rnd.nextInt(300)
      val loads = 1 + rnd.nextInt(6)
      val eng = new OlapEngine(spark,
        Files.createTempDirectory(s"graft-sb-prop$trial-"))
      eng.createDatabase("db")
      eng.createTable(TableDef(
        db = "db", name = "d", schema = TableSchema(KeysType.Unique, Seq(
          ColumnSpec.key("k", LongType),
          ColumnSpec.value("v", DoubleType))),
        ndvStatsColumns = Seq("k")))
      (1 to loads).foreach { ld =>
        val keys = (0L until universe.toLong).filter(_ => rnd.nextDouble() < 0.6)
        val rows = (if (keys.isEmpty) Seq(0L) else keys).map(i => Row(i, i * 1.0))
        eng.ingest("db", "d",
          spark.createDataFrame(rows.asJava, st), Some(Version(ld, ld)))
      }
      val dim = eng.scan("db", "d")
      val plan = dim.queryExecution.optimizedPlan
      val bound = StatsBroadcastRewrite.estimatedBytes(plan)
      assert(bound.isDefined, s"trial $trial: merge view must bound")
      val exactBytes = dim.count() *
        (8.0 + plan.output.map(_.dataType.defaultSize).sum)
      assert(bound.get >= exactBytes,
        s"trial $trial: bound ${bound.get} must cover $exactBytes")
    }
  }

  test("stale snapshot scans are refused (the NDV fold describes now)") {
    val eng = churnedEngine()
    // pin a version-1 snapshot PLAN, then let compaction retire its rowset:
    // the stale plan's dirs fall outside the current covering set, so the
    // bound (which describes the CURRENT key population) must not attach.
    // (A fresh snapshot(1,1) after compaction fails loudly — the engine's
    // version-hole contract — so the stale-DataFrame-kept-around shape is
    // the only way this unsoundness could arise.)
    val oldPlan = eng.snapshot("db", "dim", 1, 1).queryExecution.optimizedPlan
    assert(StatsBroadcastRewrite.estimatedBytes(oldPlan).isDefined,
      "premise: the v1 snapshot bounds while its rowset is still covering")
    eng.compact("db", "dim")
    assert(StatsBroadcastRewrite.estimatedBytes(oldPlan).isEmpty,
      "a stale snapshot must not borrow the current snapshot's bound")
  }
}
