package graft.engine

import java.nio.file.Files
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestSession
import graft.catalog._
import graft.model._

/** `lookupByKey` reads only the rowsets that can hold the key and merges in
  * the scan's own stage. Whatever it prunes, its answer is the merged
  * table's rows for that key: it must equal `scan().filter(key === k)` on
  * every table model, after any sequence of loads, partial updates, deletes
  * and compactions, for live, rewritten and deleted keys and for keys
  * outside every rowset's zone map.
  */
class LookupByKeySpec extends AnyFunSuite {
  private lazy val spark = { val s = SparkTestSession.spark; graft.GraftExtensions.register(s); s }
  import scala.jdk.CollectionConverters._

  private val valueCols = Seq("v", "w")

  /** The table models under test: name → (model, value agg, partial update,
    * sequence column).
    */
  private val models = Seq(
    ("dup", KeysType.Duplicate, AggType.None, false, false),
    ("uniq", KeysType.Unique, AggType.None, false, false),
    ("partial", KeysType.Unique, AggType.None, true, false),
    ("seq", KeysType.Unique, AggType.None, false, true),
    ("agg_sum", KeysType.Aggregate, AggType.Sum, false, false),
    ("agg_replace", KeysType.Aggregate, AggType.Replace, false, false))

  private def create(eng: OlapEngine, name: String, keys: KeysType, agg: AggType,
      partial: Boolean, seq: Boolean): Unit =
    eng.createTable(TableDef(
      db = "db", name = name, schema = TableSchema(keys,
        Seq(ColumnSpec.key("k", LongType)) ++
          valueCols.map(c => ColumnSpec.value(c, LongType, agg)) ++
          (if (seq) Seq(ColumnSpec.value("s", LongType)) else Nil)),
      bucketColumn = Some("k"), numBuckets = 2, partialUpdate = partial,
      sequenceColumn = if (seq) Some("s") else None))

  private def frame(cols: Seq[String], rows: Seq[Seq[Long]]): DataFrame =
    spark.createDataFrame(rows.map(r => Row.fromSeq(r)).asJava,
      StructType(cols.map(c => StructField(c, LongType, nullable = c != "k"))))

  private def canon(rows: Seq[Row]): Seq[String] = rows.map(_.mkString("|")).sorted

  /** Every key's lookup equals the scan's rows for it. */
  private def check(eng: OlapEngine, table: String, keys: Seq[Long], what: String): Unit = {
    val all = eng.scan("db", table).collect().toSeq
    keys.distinct.foreach { k =>
      val want = canon(all.filter(_.getAs[Long]("k") == k))
      val got = canon(eng.lookupByKey("db", table, k.toString).collect().toSeq)
      assert(got == want, s"$table lookup($k) after $what")
    }
  }

  private def parquetLeaves(p: LogicalPlan): Int = p.collect {
    case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] => 1
  }.size

  private def shuffles(p: SparkPlan): Int = (p match {
    case _: ShuffleExchangeExec => 1
    case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    case q: QueryStageExec => shuffles(q.plan)
    case _ => 0
  }) + p.children.map(shuffles).sum

  /** One model's random history on its own engine, checked mid-way and at the end. */
  private def churn(seed: Long, name: String, keys: KeysType, agg: AggType,
      partial: Boolean, seq: Boolean): Unit = {
    val rng = new Random(seed)
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-lk-wh-"))
    eng.createDatabase("db")
    create(eng, name, keys, agg, partial, seq)
    // outside every load's band: below, above and between bands
    val outside = Seq(-5L, 100000L, 80L)
    val written = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    val deleted = scala.collection.mutable.Set.empty[Long]
    var lastLoad = Seq.empty[Long]
    val seqCol = if (seq) Seq("s") else Nil
    // rows for `ks`: the seq value is random, so late arrivals can lose
    def rowsFor(ks: Seq[Long]): Seq[Seq[Long]] = ks.map(k =>
      Seq(k, rng.nextInt(1000).toLong, rng.nextInt(1000).toLong) ++
        (if (seq) Seq(rng.nextInt(100).toLong) else Nil))
    def load(): Unit = {
      // key bands 100 wide, at most 4 of them, so zone maps prune
      val base = rng.nextInt(4) * 100L
      val ks = (base until base + 60L).filter(_ => rng.nextInt(3) > 0)
      eng.ingest("db", name, frame(Seq("k") ++ valueCols ++ seqCol, rowsFor(ks)))
      ks.foreach(k => written(k) = written.getOrElse(k, 0) + 1)
      lastLoad = ks
    }
    load()
    // every operation the model supports, once each, in a seeded order
    val ops = rng.shuffle(Seq("ingest", "ingest", "deleteWhere", "compact") ++
      (if (partial) Seq("partial") else Nil) ++
      (if (keys == KeysType.Unique) Seq("deletes") else Nil))
    ops.zipWithIndex.foreach { case (op, step) =>
      op match {
        case "ingest" => load()
        case "partial" =>
          val ks = rng.shuffle(written.keys.toSeq).take(20)
          eng.ingestPartial("db", name,
            frame(Seq("k", "v"), ks.map(k => Seq(k, 5000L + k))))
          ks.foreach(k => written(k) += 1)
        case "deletes" =>
          val ks = rng.shuffle(written.keys.toSeq).take(10)
          eng.ingestDeletes("db", name, frame(Seq("k") ++ seqCol,
            ks.map(k => Seq(k) ++ (if (seq) Seq(50L) else Nil))))
          deleted ++= ks
        case "deleteWhere" =>
          val lo = rng.nextInt(400).toLong
          eng.deleteWhere("db", name, s"k >= $lo AND k < ${lo + 15}")
          deleted ++= written.keys.filter(k => k >= lo && k < lo + 15)
        case "compact" => eng.runScheduledCompaction()
      }
      // a middle state and the last one, so the test stays under a minute
      if (step == ops.size / 2 || step == ops.size - 1) {
        val rewritten = written.collect { case (k, n) if n > 1 => k }.take(2)
        val probe = lastLoad.take(2) ++ rewritten ++ deleted.take(2) ++ outside
        check(eng, name, probe, s"step ${step + 1} ($op)")
      }
    }
  }

  test("lookup equals the filtered scan on every model under random churn") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // the models are independent engines: run three at a time; each history
    // depends only on its own seed
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val runs = models.zipWithIndex.map { case ((name, keys, agg, partial, seq), i) =>
        Future(churn(20261017L + i, name, keys, agg, partial, seq))
      }
      Await.result(Future.sequence(runs), Duration.Inf)
    } finally pool.shutdown()
  }

  test("a key renamed after the first load keeps its old rowsets") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-lk-rn-"))
    eng.createDatabase("db")
    create(eng, "t", KeysType.Unique, AggType.None, partial = false, seq = false)
    eng.ingest("db", "t", frame(Seq("k", "v", "w"), (0L until 50L).map(k => Seq(k, k, k))))
    eng.renameColumn("db", "t", "k", "id")
    eng.ingest("db", "t", frame(Seq("id", "v", "w"),
      (100L until 150L).map(k => Seq(k, k, k))))
    eng.ingest("db", "t", frame(Seq("id", "v", "w"), Seq(Seq(7L, 70L, 70L))))
    // the old rowset's stats sit under `k`: it can hold key 7 and key 20
    val all = eng.scan("db", "t").collect().toSeq
    Seq(7L, 20L, 120L, 500L).foreach { k =>
      val want = canon(all.filter(_.getAs[Long]("id") == k))
      assert(canon(eng.lookupByKey("db", "t", k.toString).collect().toSeq) == want,
        s"lookup($k)")
    }
    assert(eng.lookupByKey("db", "t", "20").collect().map(_.getLong(1)).toSeq == Seq(20L))
    assert(eng.lookupByKey("db", "t", "7").collect().map(_.getLong(1)).toSeq == Seq(70L))
  }

  test("a Unique lookup reads only candidate rowsets and plans no shuffle") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-lk-pl-"))
    eng.createDatabase("db")
    create(eng, "t", KeysType.Unique, AggType.None, partial = false, seq = false)
    // four loads in disjoint key bands, then a rewrite of key 205
    (0 until 4).foreach { b =>
      eng.ingest("db", "t", frame(Seq("k", "v", "w"),
        (b * 100L until b * 100L + 50L).map(k => Seq(k, k, k))))
    }
    eng.ingest("db", "t", frame(Seq("k", "v", "w"), Seq(Seq(205L, 1L, 1L))))
    eng.deleteWhere("db", "t", "k = 310")
    assert(eng.manifest("db", "t").visibleRowsets.count(!_.isDeleteMarker) == 5)
    // (key, data rowsets whose zone map holds it)
    Seq(17L -> 1, 205L -> 2, 310L -> 1, 999L -> 0).foreach { case (k, candidates) =>
      val df = eng.lookupByKey("db", "t", k.toString)
      assert(parquetLeaves(df.queryExecution.analyzed) == candidates, s"lookup($k)")
      val got = df.collect().toSeq
      assert(shuffles(df.queryExecution.executedPlan) == 0, s"lookup($k) shuffles")
      assert(canon(got) == canon(eng.scan("db", "t").filter(col("k") === k).collect().toSeq))
    }
    assert(eng.lookupByKey("db", "t", "205").collect().map(_.getLong(1)).toSeq == Seq(1L))
  }
}
