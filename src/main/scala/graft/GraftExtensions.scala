package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.{FnvHash64, Md5Prefix60, VectorDot, ZorderInterleave}

/** SQL-side integration. Two ways to get the engine's functions and
  * optimizer rules into a session:
  *
  *  1. At session build (spark-submit):
  *     `--conf spark.sql.extensions=graft.GraftExtensions`
  *  2. At runtime on an existing session: `GraftExtensions.register(spark)`.
  *
  * Registers:
  *  - `fnv_hash64(str)` — the reference's bucket-routing hash
  *    (src/partition.rs:30-38), so SQL users can compute/inspect bucket
  *    placement: `SELECT fnv_hash64(o_orderkey) % 4 FROM orders`.
  *  - `vector_dot(arr, arr)` — codegen'd dot product over `array<double>`,
  *    the similarity-search kernel: `SELECT vector_dot(embedding, embedding)`.
  *  - `md5_prefix60(str)` — top 60 bits of md5 as a positive BIGINT, the
  *    portable hash behind SimHash/LSH (recomputable in any engine with md5).
  *  - the five `graft.plans` optimizer rules ([[GraftExtensions.rules]]);
  *    a session skips any rule its `spark.sql.optimizer.excludedRules`
  *    names.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    GraftExtensions.rules.foreach(r => e.injectOptimizerRule(_ => r))
    // SQL front door: engine DDL/DML/lifecycle statements become Spark SQL
    // (inert until an engine is bound via GraftSql.bind — unclaimed text
    // always delegates to Spark's own parser)
    e.injectParser((_, delegate) => new graft.sql.GraftSqlParserInterface(delegate))
  }
}

object GraftExtensions {
  /** The optimizer rules, in the order both install paths add them. Each
    * resolves engine tables through [[graft.plans.TableRegistry]].
    */
  val rules: Seq[Rule[LogicalPlan]] = {
    import graft.plans._
    Seq(RollupRewrite, JoinMvRewrite, ScanPruneRewrite, StatsAggRewrite,
      StatsBroadcastRewrite)
  }

  private val ExcludedRulesKey = "spark.sql.optimizer.excludedRules"

  /** Run `body` with `excluded` left out of `spark`'s optimizer, through
    * Spark's session-scoped `spark.sql.optimizer.excludedRules` (works for
    * both install paths); the previous value is restored afterwards. Other
    * sessions keep every rule; calls that exclude rules take turns.
    */
  def withoutRules[T](spark: SparkSession, excluded: Rule[LogicalPlan]*)(body: => T): T =
    synchronized {
      val prev = spark.conf.getOption(ExcludedRulesKey)
      val names = prev.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty) ++
        excluded.map(_.ruleName)
      spark.conf.set(ExcludedRulesKey, names.distinct.mkString(","))
      try body
      finally prev match {
        case Some(v) => spark.conf.set(ExcludedRulesKey, v)
        case None => spark.conf.unset(ExcludedRulesKey)
      }
    }

  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      FunctionIdentifier("fnv_hash64"),
      new ExpressionInfo(classOf[FnvHash64].getName, "fnv_hash64"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "fnv_hash64 takes exactly one argument")
        FnvHash64(children.head)
      }),
    (
      FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "vector_dot takes exactly two arguments")
        VectorDot(children.head, children(1))
      }),
    (
      FunctionIdentifier("md5_prefix60"),
      new ExpressionInfo(classOf[Md5Prefix60].getName, "md5_prefix60"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "md5_prefix60 takes exactly one argument")
        Md5Prefix60(children.head)
      }),
    (
      FunctionIdentifier("zorder64"),
      new ExpressionInfo(classOf[ZorderInterleave].getName, "zorder64"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "zorder64 takes exactly two arguments")
        ZorderInterleave(children.head, children(1))
      }),
  )

  /** Register the functions + optimizer rules on an already-built session
    * (the rules land in the `User Provided Optimizers` batch via
    * `experimental.extraOptimizations` instead of the operator-optimization
    * batch — same fixed-point semantics, no session rebuild needed).
    * Idempotent: a rule already installed is not added again.
    */
  def register(spark: SparkSession): Unit = {
    val registry = org.apache.spark.sql.graft.shim.functionRegistry(spark)
    functions.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
    spark.experimental.extraOptimizations ++=
      rules.filterNot(spark.experimental.extraOptimizations.contains)
  }
}
