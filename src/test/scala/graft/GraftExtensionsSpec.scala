package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{shim, ExtensionSessions}
import org.apache.spark.sql.types._
import graft.catalog._
import graft.engine.OlapEngine
import graft.manifest.Version
import graft.model._
import graft.plans.ScanPruneRewrite

/** The two install paths — `spark.sql.extensions=graft.GraftExtensions` and
  * `GraftExtensions.register` — install the same optimizer rules, and
  * Spark's session-scoped `spark.sql.optimizer.excludedRules` turns a rule
  * off through either.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = { val s = SparkTestSession.spark; GraftExtensions.register(s); s }
  private lazy val (extSession, ext) =
    ExtensionSessions.withExtensions(spark, new GraftExtensions)
  import scala.jdk.CollectionConverters._

  /** Two rowsets with disjoint key ranges: [0,100) and [100,200). */
  private lazy val eng: OlapEngine = {
    val e = new OlapEngine(spark, Files.createTempDirectory("graft-ext-wh-"))
    e.createDatabase("db")
    e.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("v", LongType))),
      bucketColumn = Some("k"), numBuckets = 2))
    val st = StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("v", LongType)))
    for ((lo, v) <- Seq((0L, 1L), (100L, 2L)))
      e.ingest("db", "t", spark.createDataFrame(
        (lo until lo + 100L).map(i => Row(i, i)).asJava, st), Some(Version(v, v)))
    e
  }

  /** Rowset scans left in `session`'s optimized plan of a filter only the
    * second rowset can satisfy: 1 with the rowset rule, 2 without.
    */
  private def scansIn(session: SparkSession): Int = {
    val analyzed = eng.scan("db", "t").filter(col("k") >= 150L).queryExecution.analyzed
    shim.ofRows(session, analyzed).queryExecution.optimizedPlan
      .collect { case l: LogicalRelation => l }.size
  }

  test("both install paths add the same rules in the same order; register is idempotent") {
    val injected = ExtensionSessions.injectedOptimizerRules(ext, extSession)
    assert(injected == GraftExtensions.rules)
    def installed = spark.experimental.extraOptimizations
      .filter(r => GraftExtensions.rules.contains(r))
    assert(installed == GraftExtensions.rules)
    val before = spark.experimental.extraOptimizations
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
    assert(spark.experimental.extraOptimizations == before)
  }

  test("excludedRules turns a rule off through either install path, per session") {
    assert(scansIn(spark) == 1 && scansIn(extSession) == 1)
    GraftExtensions.withoutRules(spark, ScanPruneRewrite) {
      assert(scansIn(spark) == 2, "register path: excluded rule must not fire")
      assert(scansIn(extSession) == 1, "exclusion must not leak to another session")
    }
    GraftExtensions.withoutRules(extSession, ScanPruneRewrite) {
      assert(scansIn(extSession) == 2, "extensions path: excluded rule must not fire")
      assert(scansIn(spark) == 1)
    }
    // the previous (unset) value is restored
    assert(spark.conf.getOption("spark.sql.optimizer.excludedRules").isEmpty)
    assert(scansIn(spark) == 1 && scansIn(extSession) == 1)
  }

  /** Hash-bucketed on k and RANGE-partitioned on d by day (p01 holds
    * 2024-01-01, …, p13 holds 2024-01-13, p14 the rest), two loads of days
    * 01, 02 and 14, then DROP PARTITION p01: both rowsets sit under the
    * marker's `NOT __graft_part = 'p01'` mask.
    */
  private lazy val layoutEng: OlapEngine = {
    val e = new OlapEngine(spark, Files.createTempDirectory("graft-ext-layout-wh-"))
    def day(i: Int) = f"2024-01-$i%02d"
    e.createDatabase("db")
    e.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("k", LongType), ColumnSpec.value("d", StringType),
        ColumnSpec.value("v", LongType))),
      policy = PartitionPolicy.Range, partitionColumn = Some("d"),
      partitions = (1 to 14).map(i => PartitionSpec(f"p$i%02d",
        upperExclusive = if (i < 14) Some(day(i + 1)) else None, numBuckets = 4)),
      bucketColumn = Some("k"), numBuckets = 4))
    val st = StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("d", StringType, nullable = false), StructField("v", LongType)))
    for (v <- Seq(1L, 2L))
      e.ingest("db", "t", spark.createDataFrame(Seq(1, 2, 14).flatMap(i =>
        (0L until 40L).map(k => Row(k, day(i), v))).asJava, st), Some(Version(v, v)))
    e.dropPartition("db", "t", "p01")
    e
  }

  /** Per scan branch of `plan`: how many `=` / `IN` conjuncts pin
    * `__graft_bucket` and `__graft_part` in the filters directly above it.
    */
  private def pinsPerBranch(plan: LogicalPlan): Seq[(Int, Int)] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def chain(p: LogicalPlan): Option[Seq[Expression]] = p match {
      case _: LogicalRelation => Some(Nil)
      case Filter(c, child) => chain(child).map(conjuncts(c) ++ _)
      case _ => None
    }
    def pins(cs: Seq[Expression], name: String): Int = cs.count {
      case EqualTo(a: Attribute, _: Literal) => a.name == name
      case EqualTo(_: Literal, a: Attribute) => a.name == name
      case In(a: Attribute, _) => a.name == name
      case InSet(a: Attribute, _) => a.name == name
      case _ => false
    }
    def branches(p: LogicalPlan): Seq[Seq[Expression]] =
      chain(p).map(Seq(_)).getOrElse(p.children.flatMap(branches))
    branches(plan).map(cs => (pins(cs, "__graft_bucket"), pins(cs, "__graft_part")))
  }

  test("scan pruning reaches one bucket pin and one partition pin per branch in both install paths") {
    // one live partition, then 12 of the 13 live ones: Spark's OptimizeIn
    // turns a pin of more than 10 values into InSet in the extensions path
    for ((name, session) <- Seq("register" -> spark, "extensions" -> extSession);
        cond <- Seq(col("d") === "2024-01-02", col("d") >= "2024-01-03")) {
      val q = layoutEng.scan("db", "t").filter(col("k") === 7L && cond)
      val df = shim.ofRows(session, q.queryExecution.analyzed)
      val optimized = df.queryExecution.optimizedPlan
      val pins = pinsPerBranch(optimized)
      assert(pins.size == 2, s"$name, $cond: one branch per rowset\n$optimized")
      assert(pins.forall(_ == ((1, 1))), s"$name, $cond: $pins\n$optimized")
      assert(ScanPruneRewrite(optimized) == optimized, s"$name, $cond: rule not at a fixed point")
      // the extensions path runs the rule inside Spark's operator batch, so
      // its plan is final; the register path adds the rule after that batch,
      // so one more run lets Spark's filter rules fold the pins in — the pins
      // themselves stay, and a further run changes nothing
      val again = session.sessionState.optimizer.execute(optimized)
      assert(pinsPerBranch(again) == pins, s"$name, $cond: re-optimizing changed the pins\n$again")
      assert(session.sessionState.optimizer.execute(again) == again, s"$name, $cond: no fixed point")
      if (session eq extSession) assert(again == optimized, s"$name, $cond: re-optimizing changed the plan")
      assert(df.collect().map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L))
    }
  }
}
