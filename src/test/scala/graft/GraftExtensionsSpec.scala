package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{shim, ExtensionSessions}
import org.apache.spark.sql.types._
import graft.catalog._
import graft.engine.OlapEngine
import graft.manifest.Version
import graft.model._
import graft.plans.RowsetPruneRewrite

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
    GraftExtensions.withoutRules(spark, RowsetPruneRewrite) {
      assert(scansIn(spark) == 2, "register path: excluded rule must not fire")
      assert(scansIn(extSession) == 1, "exclusion must not leak to another session")
    }
    GraftExtensions.withoutRules(extSession, RowsetPruneRewrite) {
      assert(scansIn(extSession) == 2, "extensions path: excluded rule must not fire")
      assert(scansIn(spark) == 1)
    }
    // the previous (unset) value is restored
    assert(spark.conf.getOption("spark.sql.optimizer.excludedRules").isEmpty)
    assert(scansIn(spark) == 1 && scansIn(extSession) == 1)
  }
}
