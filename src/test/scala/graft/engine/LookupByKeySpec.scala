package graft.engine

import java.nio.file.Files
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestSession
import graft.catalog._
import graft.model._

/** `lookupByKey` reads only the rowsets that can hold the key and, when
  * they are small, folds the merge on the driver with no Spark job; past
  * that it merges in the scan's own stage. Whichever path it takes, its
  * answer is the merged table's rows for that key: the driver path, the
  * Spark path and `scan().filter(key === k)` must agree on every table
  * model, after any sequence of loads, partial updates, deletes and
  * compactions, for live, rewritten and deleted keys and for keys outside
  * every rowset's zone map.
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

  /** A lookup on both paths, canonical rows of each: `lookupByKey` and the
    * Spark path it falls back to. Checks which path `lookupByKey` takes (the
    * driver path answers with a local relation) and that both give one
    * schema.
    */
  private def both(eng: OlapEngine, table: String, key: String,
      driver: Boolean = true): (Seq[String], Seq[String]) = {
    val p = eng.pointLookup("db", table, key)
    val looked = eng.lookupByKey("db", table, key)
    assert(looked.queryExecution.logical.isInstanceOf[LocalRelation] == driver,
      s"$table lookup($key) took the ${if (driver) "Spark" else "driver"} path")
    val viaSpark = eng.sparkLookup(p)
    assert(looked.schema == viaSpark.schema, s"$table lookup($key) schema")
    (canon(looked.collect().toSeq), canon(viaSpark.collect().toSeq))
  }

  /** Every key's lookup equals the scan's rows for it, on both paths. */
  private def check(eng: OlapEngine, table: String, keys: Seq[Long], what: String,
      driver: Boolean): Unit = {
    val all = eng.scan("db", table).collect().toSeq
    keys.distinct.foreach { k =>
      val want = canon(all.filter(_.getAs[Long]("k") == k))
      val (looked, viaSpark) = both(eng, table, k.toString, driver)
      assert(looked == want, s"$table lookup($k) after $what")
      assert(viaSpark == want, s"$table Spark-path lookup($k) after $what")
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
        // SUM's widening and overflow stay with Spark: agg_sum falls back
        check(eng, name, probe, s"step ${step + 1} ($op)", driver = agg != AggType.Sum)
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
      assert(both(eng, "t", k.toString) == (want, want), s"lookup($k)")
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
      val p = eng.pointLookup("db", "t", k.toString)
      // the driver read opens the candidates' files of the routed bucket only
      val read = eng.pointFiles(p).get
      assert(read.size == candidates, s"lookup($k) driver read set")
      val bucket = p.bucket.get
      assert(read.flatMap(_.files).forall(
        _.filePath.toString.contains(s"/__graft_bucket=$bucket/")), s"lookup($k) files")
      // the Spark path reads the same candidates, in one stage
      val viaSpark = eng.sparkLookup(p)
      assert(parquetLeaves(viaSpark.queryExecution.analyzed) == candidates, s"lookup($k)")
      val got = viaSpark.collect().toSeq
      assert(shuffles(viaSpark.queryExecution.executedPlan) == 0, s"lookup($k) shuffles")
      val want = canon(eng.scan("db", "t").filter(col("k") === k).collect().toSeq)
      assert(canon(got) == want)
      assert(canon(eng.lookupByKey("db", "t", k.toString).collect().toSeq) == want)
    }
    assert(eng.lookupByKey("db", "t", "205").collect().map(_.getLong(1)).toSeq == Seq(1L))
  }

  test("a small Unique lookup starts no Spark job, built or collected") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-lk-jobs-"))
    eng.createDatabase("db")
    create(eng, "t", KeysType.Unique, AggType.None, partial = false, seq = false)
    eng.ingest("db", "t", frame(Seq("k", "v", "w"), (0L until 100L).map(k => Seq(k, k, k))))
    eng.ingest("db", "t", frame(Seq("k", "v", "w"), Seq(Seq(17L, 170L, 170L))))
    eng.deleteWhere("db", "t", "k = 18")
    // a fresh engine: the reader cache is cold too
    val fresh = new OlapEngine(spark, eng.warehouse)
    val (rows, jobs) = SparkTestSession.jobsDuring(spark)(Seq(17L, 18L, 19L).map(k =>
      fresh.lookupByKey("db", "t", k.toString).select("k", "v").collect().toSeq))
    assert(jobs == 0, s"the lookups started $jobs Spark job(s)")
    assert(rows == Seq(Seq(Row(17L, 170L)), Nil, Seq(Row(19L, 19L))))
  }

  test("lookups the driver fold does not take give the Spark path's answer") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-lk-fb-"))
    eng.createDatabase("db")
    models.foreach { case (name, keys, agg, partial, seq) =>
      create(eng, name, keys, agg, partial, seq)
      (0 until 2).foreach { i =>
        eng.ingest("db", name, frame(Seq("k") ++ valueCols ++ (if (seq) Seq("s") else Nil),
          (0L until 40L).map(k => Seq(k, k + i, k * i) ++ (if (seq) Seq(i.toLong) else Nil))))
      }
    }
    // a key no rowset can hold has no candidate file: it stays on the
    // driver whatever the candidates would have needed
    val (held, none) = (Seq(3L, 39L), Seq(77L))
    def checkAll(e: OlapEngine, what: String, driver: Boolean): Unit =
      models.foreach { case (name, _, _, _, _) =>
        check(e, name, held, what, driver = driver && name != "agg_sum")
        check(e, name, none, what, driver = name != "agg_sum")
      }
    // SUM: its widening and overflow rules stay with Spark
    checkAll(eng, "two loads", driver = true)
    // a candidate set over the byte bound goes to the Spark path; a session
    // conf does not move the bound
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
    try checkAll(eng, "two loads, 64-byte maxPartitionBytes", driver = true)
    finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    models.filter(_._1 != "agg_sum").foreach { case (name, _, _, _, _) =>
      held.foreach { k =>
        val p = eng.pointLookup("db", name, k.toString)
        assert(eng.pointFiles(p).isDefined, s"$name lookup($k) under the bound")
        assert(eng.pointFiles(p, maxBytes = 64).isEmpty, s"$name lookup($k) over a 64-byte bound")
      }
    }
    // rowsets without a recorded read schema (a manifest from before
    // schemas were recorded)
    models.foreach { case (name, _, _, _, _) => stripSchemas(eng, name) }
    checkAll(new OlapEngine(spark, eng.warehouse), "stripped schemas", driver = false)

    // a key with more records than a driver read holds
    eng.createTable(TableDef(db = "db", name = "hot", schema = TableSchema(KeysType.Duplicate,
        Seq(ColumnSpec.key("k", LongType), ColumnSpec.value("v", LongType))),
      bucketColumn = Some("k"), numBuckets = 2))
    eng.ingest("db", "hot", spark.range(PointRead.MaxRecords.toLong)
      .select(lit(0L).as("k"), col("id").as("v")))
    check(eng, "hot", Seq(0L), "a key at the record cap", driver = true)
    eng.ingest("db", "hot", frame(Seq("k", "v"), Seq(Seq(0L, -1L), Seq(1L, 1L))))
    check(eng, "hot", Seq(0L), "a key over the record cap", driver = false)
    check(eng, "hot", Seq(1L), "a key beside it", driver = true)
  }

  /** Drop the recorded read schemas from a table's manifest on disk. */
  private def stripSchemas(eng: OlapEngine, t: String): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val p = eng.tableRoot("db", t).resolve("_manifest.json")
    val doc = JsonMethods.parse(Files.readString(p))
    val stripped = doc removeField { case (n, _) => n == "schemas" || n == "schema" }
    Files.writeString(p, JsonMethods.compact(JsonMethods.render(stripped)))
  }

  test("RANDOM bucketing places rows round-robin, so lookups read every bucket") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-lk-rnd-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(db = "db", name = "r", schema = TableSchema(KeysType.Duplicate,
        Seq(ColumnSpec.key("k", LongType), ColumnSpec.value("v", LongType))),
      bucketType = BucketType.Random, bucketColumn = Some("k"), numBuckets = 4))
    eng.ingest("db", "r", frame(Seq("k", "v"), (0L until 1000L).map(k => Seq(k, -k))))
    (0L until 1000L by 25L).foreach { k =>
      assert(eng.pointLookup("db", "r", k.toString).bucket.isEmpty)
      assert(both(eng, "r", k.toString) == (Seq(s"$k|${-k}"), Seq(s"$k|${-k}")), s"lookup($k)")
    }
  }

  test("a lookup on a table with no bucket column fails naming the table") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-lk-nb-"))
    eng.createDatabase("db")
    eng.createTable(TableDef(db = "db", name = "nb", schema = TableSchema(KeysType.Duplicate,
      Seq(ColumnSpec.key("k", LongType), ColumnSpec.value("v", LongType)))))
    val e = intercept[IllegalArgumentException](eng.lookupByKey("db", "nb", "1"))
    assert(e.getMessage.contains("db.nb"), e.getMessage)
  }

  test("edge semantics agree on both paths: bad keys, tombstones, null partial " +
    "values, MIN/MAX/REPLACE_IF_NOT_NULL, delete masks, renames and defaults") {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-lk-edge-"))
    eng.createDatabase("db")
    create(eng, "u", KeysType.Unique, AggType.None, partial = false, seq = false)
    eng.ingest("db", "u", frame(Seq("k", "v", "w"), (0L until 20L).map(k => Seq(k, k, k))))
    // a value that does not cast to the key type fails in the route step,
    // before either path; a non-canonical spelling routes as its value
    val bad = intercept[IllegalArgumentException](eng.lookupByKey("db", "u", "seven"))
    assert(bad.getMessage.contains("db.u.k"), bad.getMessage)
    assert(both(eng, "u", "007") == (Seq("7|7|7"), Seq("7|7|7")))
    // the newest record is a tombstone: the key is gone; a later upsert
    // brings it back
    eng.ingestDeletes("db", "u", frame(Seq("k"), Seq(Seq(5L))))
    assert(both(eng, "u", "5") == (Nil, Nil))
    eng.ingest("db", "u", frame(Seq("k", "v", "w"), Seq(Seq(5L, 50L, 50L))))
    assert(both(eng, "u", "5") == (Seq("5|50|50"), Seq("5|50|50")))
    eng.ingestDeletes("db", "u", frame(Seq("k"), Seq(Seq(5L))))
    assert(both(eng, "u", "5") == (Nil, Nil))

    // partial update: a null value column means "not set"
    create(eng, "p", KeysType.Unique, AggType.None, partial = true, seq = false)
    eng.ingest("db", "p", frame(Seq("k", "v", "w"), Seq(Seq(1L, 10L, 20L), Seq(2L, 11L, 21L))))
    eng.ingestPartial("db", "p", spark.createDataFrame(
      Seq(Row(1L, null), Row(2L, 12L)).asJava,
      StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("v", LongType)))))
    eng.ingestPartial("db", "p", frame(Seq("k", "w"), Seq(Seq(1L, 30L))))
    assert(both(eng, "p", "1") == (Seq("1|10|30"), Seq("1|10|30")))
    assert(both(eng, "p", "2") == (Seq("2|12|21"), Seq("2|12|21")))

    // Aggregate MIN and MAX skip nulls; REPLACE_IF_NOT_NULL keeps the
    // latest non-null value
    eng.createTable(TableDef(db = "db", name = "a", schema = TableSchema(KeysType.Aggregate,
        Seq(ColumnSpec.key("k", LongType), ColumnSpec.value("lo", LongType, AggType.Min),
          ColumnSpec.value("hi", LongType, AggType.Max),
          ColumnSpec.value("rn", LongType, AggType.ReplaceIfNotNull))),
      bucketColumn = Some("k"), numBuckets = 2))
    def aRows(rows: Row*): DataFrame = spark.createDataFrame(rows.asJava,
      StructType(StructField("k", LongType, nullable = false) +:
        Seq("lo", "hi", "rn").map(StructField(_, LongType))))
    eng.ingest("db", "a", aRows(Row(1L, 5L, 5L, 10L), Row(2L, null, 3L, null)))
    eng.ingest("db", "a", aRows(Row(1L, null, 9L, null), Row(2L, 4L, null, 20L)))
    eng.ingest("db", "a", aRows(Row(1L, 2L, null, 30L)))
    assert(both(eng, "a", "1") == (Seq("1|2|9|30"), Seq("1|2|9|30")))
    assert(both(eng, "a", "2") == (Seq("2|4|3|20"), Seq("2|4|3|20")))

    // deleteWhere and DROP PARTITION markers mask older rows only
    eng.createTable(TableDef(db = "db", name = "d", schema = TableSchema(KeysType.Duplicate,
        Seq(ColumnSpec.key("k", LongType), ColumnSpec.value("d", StringType),
          ColumnSpec.value("v", LongType))),
      policy = PartitionPolicy.Range, partitionColumn = Some("d"),
      partitions = Seq(
        PartitionSpec("pa", upperExclusive = Some("b"), numBuckets = 2),
        PartitionSpec("pb", upperExclusive = Some("c"), numBuckets = 2)),
      bucketColumn = Some("k"), numBuckets = 2))
    def dRows(rows: (Long, String, Long)*): DataFrame = spark.createDataFrame(
      rows.map { case (k, d, v) => Row(k, d, v) }.asJava,
      StructType(Seq(StructField("k", LongType), StructField("d", StringType),
        StructField("v", LongType))))
    eng.ingest("db", "d", dRows((1L, "a1", 10L), (2L, "b1", 20L), (3L, "b2", 30L),
      (3L, "b3", 31L)))
    eng.deleteWhere("db", "d", "v >= 30")
    eng.ingest("db", "d", dRows((3L, "b4", 32L)))
    eng.dropPartition("db", "d", "pa")
    assert(both(eng, "d", "1") == (Nil, Nil))
    assert(both(eng, "d", "2") == (Seq("2|b1|20"), Seq("2|b1|20")))
    assert(both(eng, "d", "3") == (Seq("3|b4|32"), Seq("3|b4|32")))
    // a marker whose predicate names a dropped column resolves only against
    // the files: the driver path hands the lookup to the Spark path
    eng.dropColumn("db", "d", "v")
    assert(both(eng, "d", "3", driver = false) == (Seq("3|b4"), Seq("3|b4")))

    // markers the optimizer rewrites before Spark evaluates them: `nvl` is
    // RuntimeReplaceable, BETWEEN is too and shares its input through a
    // common expression; both mask on the driver. A scalar subquery is
    // only run by Spark, so that lookup takes the Spark path.
    create(eng, "m", KeysType.Unique, AggType.None, partial = false, seq = false)
    eng.ingest("db", "m", frame(Seq("k", "v", "w"), (0L until 20L).map(k => Seq(k, k, k))))
    eng.deleteWhere("db", "m", "nvl(k, 0) = 5")
    eng.deleteWhere("db", "m", "k BETWEEN 10 AND 12")
    eng.ingest("db", "m", frame(Seq("k", "v", "w"), Seq(Seq(11L, 110L, 110L))))
    Seq(4L -> Seq("4|4|4"), 5L -> Nil, 9L -> Seq("9|9|9"), 10L -> Nil,
        11L -> Seq("11|110|110"), 12L -> Nil, 13L -> Seq("13|13|13")).foreach { case (k, want) =>
      assert(both(eng, "m", k.toString) == (want, want), s"m lookup($k)")
    }
    eng.deleteWhere("db", "m", "k = (SELECT 3)")
    assert(both(eng, "m", "3", driver = false) == (Nil, Nil))
    assert(both(eng, "m", "4", driver = false) == (Seq("4|4|4"), Seq("4|4|4")))

    // a value column renamed, then one added with a DEFAULT: old rowsets
    // read the default, newer ones their own value
    eng.renameColumn("db", "u", "v", "vv")
    eng.addColumn("db", "u", ColumnSpec.value("x", LongType), Some("7"))
    eng.ingest("db", "u", spark.createDataFrame(Seq(Row(30L, 300L, 300L, null)).asJava,
      StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("vv", LongType), StructField("w", LongType), StructField("x", LongType)))))
    val all = eng.scan("db", "u").collect().toSeq
    Seq(3L -> "3|3|3|7", 30L -> "30|300|300|null").foreach { case (k, row) =>
      assert(canon(all.filter(_.getAs[Long]("k") == k)) == Seq(row))
      assert(both(eng, "u", k.toString) == (Seq(row), Seq(row)), s"lookup($k)")
    }
  }
}
