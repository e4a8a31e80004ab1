package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog._
import graft.engine.OlapEngine
import graft.model._

/** A Unique-key orders table driven through the engine's public load and
  * read calls, next to an in-memory model folded from the same batches:
  * last writer wins per key, partial loads set only their columns, deletes
  * remove keys. RANGE partitions on `o_orderdate`, 4 HASH buckets on
  * `o_orderkey`, `Retention.KeepVersions` so GC never depends on the clock.
  * Every write is timed as a `load` sample and followed by a look at the
  * warehouse for write amplification.
  */
final class OrdersTable(ctx: Ctx, val warehouse: java.nio.file.Path) {
  import OrdersTable._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  val amp = new DirTracker(warehouse)
  var engine: OlapEngine = tr.span("open")(new OlapEngine(spark, warehouse))
  private val model = mutable.HashMap.empty[Long, Array[Any]]
  /** Loads that wrote each key (upserts, partials, deletes). */
  private val writes = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
  private val recent = mutable.ArrayBuffer.empty[Long]
  private var nextKey = 1L
  var rowsCommitted = 0L
  val upserts = mutable.ArrayBuffer.empty[Row]
  val partials = mutable.ArrayBuffer.empty[Row]
  val deletes = mutable.ArrayBuffer.empty[Row]
  var lastKeys: IndexedSeq[Long] = IndexedSeq.empty

  engine.createDatabase(Db)
  engine.createTable(TableDef(
    db = Db, name = Name, schema = TableSchema(KeysType.Unique, Seq(
      ColumnSpec.key("o_orderkey", LongType),
      ColumnSpec.value("o_orderdate", TimestampType),
      ColumnSpec.value("o_custkey", LongType),
      ColumnSpec.value("o_status", StringType),
      ColumnSpec.value("o_totalprice", DoubleType),
      ColumnSpec.value("o_comment", StringType))),
    policy = PartitionPolicy.Range, partitionColumn = Some("o_orderdate"),
    partitions = Bounds.zipWithIndex.map { case (b, i) =>
      PartitionSpec(s"p$i", upperExclusive = b, numBuckets = 4) },
    bucketColumn = Some("o_orderkey"), numBuckets = 4,
    retention = Retention.KeepVersions(4), partialUpdate = true))
  amp.observe()

  /** Fresh keys and updates of recently written keys, about half each. */
  private def pickKeys(n: Int): IndexedSeq[Long] = {
    val r = ctx.rng
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < n) {
      if (recent.isEmpty || r.nextBoolean()) { keys += nextKey; nextKey += 1 }
      else {
        // exponential skew toward the most recently written keys
        val back = math.min(recent.size - 1, (-math.log(1 - r.nextDouble()) * 200).toInt)
        keys += recent(recent.size - 1 - back)
      }
    }
    keys.toIndexedSeq
  }

  private def remember(keys: Iterable[Long]): Unit = {
    recent ++= keys
    if (recent.size > 50000) recent.remove(0, recent.size - 50000)
  }

  private def fullRow(k: Long, gen: Int): Row = {
    val r = ctx.rng
    Row(k, dateOf(k), r.nextInt(1000).toLong + gen, Statuses(r.nextInt(3)),
      math.round(r.nextDouble() * 1e6) / 100.0, s"c${r.nextInt(100000)}-$gen")
  }

  private def load(what: String, rows: Int)(call: => graft.manifest.RowsetMeta)(
      check: graft.manifest.RowsetMeta => Boolean = _ != null): Boolean = {
    val ok = ctx.timed("load", s"$what of $rows rows")(tr.span(what)(call))(check)
    val fresh = amp.observe()
    tr.count("bytes_written", fresh.toDouble)
    tr.count("manifest_bytes", Amp.manifestBytes(engine.tableRoot(Db, Name)).toDouble)
    tr.count("publishes", 1)
    if (ok.isDefined) rowsCommitted += rows
    ok.isDefined
  }

  def upsert(n: Int, gen: Int): Boolean = {
    val keys = pickKeys(n)
    val rows = keys.map(fullRow(_, gen))
    val ok = load("ingest", n)(engine.ingest(Db, Name, spark.createDataFrame(rows.asJava, Schema)))(
      _.numRows == n)
    if (ok) {
      rows.foreach(r => model(r.getLong(0)) = r.toSeq.toArray)
      keys.foreach(k => writes(k) += 1)
      upserts ++= rows; remember(keys); lastKeys = keys
    }
    ok
  }

  /** Column update of existing keys: sets o_status and o_totalprice only. */
  def partial(n: Int, gen: Int): Boolean = {
    val r = ctx.rng
    val keys = pickKeys(n).filter(model.contains)
    if (keys.isEmpty) return true
    val rows = keys.map(k => Row(k, dateOf(k), Statuses(r.nextInt(3)),
      math.round(r.nextDouble() * 1e6) / 100.0 + gen))
    val ok = load("ingestPartial", keys.size)(
      engine.ingestPartial(Db, Name, spark.createDataFrame(rows.asJava, PartialSchema)))()
    if (ok) {
      rows.foreach { row =>
        val cur = model(row.getLong(0))
        cur(3) = row.getString(2); cur(4) = row.getDouble(3)
      }
      keys.foreach(k => writes(k) += 1)
      partials ++= rows; lastKeys = keys
    }
    ok
  }

  /** Deletes by key load (`ingestDeletes`) or by key range (`deleteWhere`). */
  def delete(n: Int, byRange: Boolean): Boolean = {
    val keys =
      if (byRange) {
        val hi = nextKey - 1 - ctx.rng.nextInt(math.max(1, (nextKey / 2).toInt))
        (hi - n + 1 to hi).filter(_ >= 1)
      } else pickKeys(n).filter(model.contains)
    if (keys.isEmpty) return true
    val ok =
      if (byRange) load("deleteWhere", keys.size)(engine.deleteWhere(Db, Name,
        s"o_orderkey >= ${keys.head} AND o_orderkey <= ${keys.last}"))()
      else load("ingestDeletes", keys.size)(engine.ingestDeletes(Db, Name,
        spark.createDataFrame(keys.map(k => Row(k, dateOf(k))).asJava, KeySchema)))()
    if (ok) {
      keys.foreach(model.remove)
      keys.foreach(k => writes(k) += 1)
      deletes ++= keys.map(k => Row(k, dateOf(k))); lastKeys = keys
    }
    ok
  }

  /** Read-your-writes: `n` keys of the last load must read as the model has
    * them, keys it wrote first before keys with history. A lookup's cost
    * depends on a key's history, so a fixed order of classes keeps the point
    * median from moving with the share the seed happened to draw.
    */
  def lookupRecent(n: Int): Unit = {
    val (fresh, old) = ctx.rng.shuffle(lastKeys).partition(writes(_) == 1)
    (fresh ++ old).take(n).foreach(lookup)
  }

  /** Live keys written once, by the newest load, and all other live keys. */
  def liveKeysByAge: (IndexedSeq[Long], IndexedSeq[Long]) = {
    val last = lastKeys.toSet
    model.keys.toIndexedSeq.sorted.partition(k => writes(k) == 1 && last(k))
  }

  def lookup(k: Long): Unit = {
    val want = model.get(k).map(v => Fingerprint.canon(Row.fromSeq(v.toSeq))).toSeq
    ctx.timed("point", s"lookupByKey($k) after ${writes(k)} writes") {
      val df = tr.span("lookupByKey")(engine.lookupByKey(Db, Name, k.toString).select(Cols.map(col): _*))
      tr.span("execute")(df.collect().toSeq)
    }(got => got.map(r => Fingerprint.canon(r)) == want)
  }

  /** Merged aggregate over the whole table, checked against the model. */
  def aggregate(kind: String = "query"): Unit = {
    val want = modelAggregate
    ctx.timed(kind, "merged aggregate") {
      val df = tr.span("scan")(engine.scan(Db, Name))
        .agg(count(lit(1)), sum("o_custkey"), sum("o_totalprice"))
      tr.span("execute")(df.collect().head)
    }(r => r.getLong(0) == want._1 && (want._1 == 0 ||
      (r.getLong(1) == want._2 && close(r.getDouble(2), want._3))))
  }

  private def modelAggregate: (Long, Long, Double) =
    (model.size.toLong, model.valuesIterator.map(_(2).asInstanceOf[Long]).sum,
      model.valuesIterator.map(_(4).asInstanceOf[Double]).sum)

  def compactAndGc(): Unit = {
    val before = engine.manifest(Db, Name).visibleRowsets.map(_.rowsetId).toSet
    ctx.timed("compact", "runScheduledCompaction") {
      tr.span("runScheduledCompaction")(engine.runScheduledCompaction())
    }(_ != null)
    tr.count("compact_in_rowsets",
      (before -- engine.manifest(Db, Name).visibleRowsets.map(_.rowsetId)).size.toDouble)
    tr.count("compact_rewrite_bytes", amp.observe().toDouble)
    ctx.timed("gc", "gc") {
      tr.span("gc")(engine.gc(Db, Name))
    } { deleted => tr.count("rowsets_deleted", deleted.size.toDouble); true }
    amp.observe()
  }

  /** Full merged scan equals the model, row for row. */
  def checkAgainstModel(what: String): Boolean = ctx.rec.verify(what) {
    val got = Fingerprint.of(engine.scan(Db, Name).select(Cols.map(col): _*))
    val want = Fingerprint.ofRows(model.valuesIterator.map(v => Row.fromSeq(v.toSeq)))
    got == want
  }

  /** A fresh engine over the same warehouse until its first merged read;
    * the median of [[Reopens]] opens after [[WarmReopens]] untimed ones
    * (the first opens of a JVM still compile their code paths), measured
    * again under steal.
    */
  def reopen(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      engine = tr.span("open")(new OlapEngine(spark, warehouse))
      tr.span("scan")(engine.scan(Db, Name).agg(count(lit(1))).collect())
      (System.nanoTime() - t0) / 1e6
    }
    (1 to WarmReopens).foreach(_ => once())
    ctx.leastStolen(Stats.median((1 to Reopens).map { _ =>
      val ms = once()
      ctx.rec.ops += (("reopen", "new OlapEngine and a merged count", ms))
      ms
    }))
  }

  /** write_amp and space_amp, against the batches written once as plain
    * parquet and the live rows written once as plain parquet.
    */
  def recordAmplification(): Unit = {
    val scratch = ctx.newDir("plain-")
    def plain(rows: Seq[Row], schema: StructType) =
      if (rows.isEmpty) 0L else Amp.plainParquetBytes(spark.createDataFrame(rows.asJava, schema), scratch)
    val user = plain(upserts.toSeq, Schema) + plain(partials.toSeq, PartialSchema) +
      plain(deletes.toSeq, KeySchema)
    val live = plain(model.valuesIterator.map(v => Row.fromSeq(v.toSeq)).toSeq, Schema)
    ctx.rec.scalars("write_amp") = Amp.ratio(amp.bytesCreated, user)
    ctx.rec.scalars("space_amp") = Amp.ratio(amp.bytesNow, live)
  }
}

object OrdersTable {
  /** `nA` keys of `a` and `nB` of `b`, topped up from the other when one runs short. */
  def mix(a: Seq[Long], b: Seq[Long], nA: Int, nB: Int): Seq[Long] = {
    val (xa, xb) = (a.take(nA), b.take(nB))
    xa ++ xb ++ (a.drop(xa.size) ++ b.drop(xb.size)).take(nA + nB - xa.size - xb.size)
  }

  val Db = "bench"
  val Reopens = 3
  val WarmReopens = 2
  val Name = "orders"
  val Cols = Seq("o_orderkey", "o_orderdate", "o_custkey", "o_status", "o_totalprice", "o_comment")
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_orderdate", TimestampType), StructField("o_custkey", LongType),
    StructField("o_status", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_comment", StringType)))
  val PartialSchema: StructType = StructType(Seq(Schema(0), Schema(1), Schema(3), Schema(4)))
  val KeySchema: StructType = StructType(Seq(Schema(0), Schema(1)))
  val Statuses: IndexedSeq[String] = IndexedSeq("O", "F", "P")
  val Bounds: Seq[Option[String]] = Seq(Some("1994-01-01"), Some("1996-01-01"), Some("1998-01-01"), None)
  private val Day0 = java.time.LocalDate.of(1992, 1, 1)

  /** A key's order date never changes, so a key never moves partition. */
  def dateOf(k: Long): Timestamp =
    Timestamp.valueOf(Day0.plusDays(Math.floorMod(k * 7919L, 2557L)).atStartOfDay())

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
