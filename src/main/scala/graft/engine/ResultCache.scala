package graft.engine

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.manifest.StatsHarvest

/** Version-keyed QUERY RESULT CACHE — the Doris/StarRocks "SQL cache" shape
  * re-expressed over this engine's MVCC layer: a query's result is stored
  * keyed by (query key, every input table's visible version + declared
  * schema), so a cache entry can never serve stale data — any ingest,
  * delete, restore, or schema change moves a table's fingerprint and the
  * old entry simply stops being addressable (the sweep reclaims it later).
  * Compaction deliberately does NOT move the fingerprint: it rewrites the
  * same visible contents under the same max version, so served results stay
  * valid across it — the cache survives exactly the maintenance that
  * preserves answers and misses on exactly the commits that change them.
  *
  * Scale posture: entries live under `warehouse/_qcache` as (tiny) parquet
  * results + a JSON sidecar; only results at or under `maxRows` are cached
  * (a 100 TB scan's 20-row dashboard aggregate is the target workload, not
  * row data). Hits are a driver-side fingerprint lookup + a small parquet
  * read; misses pay one extra parquet write of the result. Everything is
  * crash-safe: the result dir lands by atomic rename and the sidecar is
  * written last — a half-written entry is invisible and gets swept.
  *
  * (The reference has no query layer at all; this is engine-native
  * infrastructure the Doris lineage ships — SURVEY.md §2.11's "absent"
  * rows — built on the version graph the reference does define,
  * src/tablet.rs:116-128.)
  */
final class ResultCache(eng: OlapEngine, maxRows: Long = 100000L) {

  private val root: Path = eng.warehouse.resolve("_qcache")
  private implicit val formats: Formats = DefaultFormats

  /** Stable fingerprint of (query key, input tables' visible state). The
    * schema signature covers rename/add/drop-column evolution (metadata-only
    * commits that change RESULTS without moving versions).
    */
  private def fingerprint(key: String, tables: Seq[(String, String)]): String = {
    val sig = tables.sortBy(t => t._1 + "." + t._2).map { case (db, t) =>
      val td = eng.catalog.getTable(db, t).getOrElse(
        throw new NoSuchElementException(s"no table $db.$t"))
      val schemaSig = td.schema.columns
        .map(c => s"${c.name}:${c.dataType.simpleString}").mkString(",")
      s"$db.$t@${eng.manifest(db, t).maxVersion}#$schemaSig"
    }.mkString("|")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"$key||$sig".getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Serve `key` from the cache if its fingerprint is current, else run
    * `compute`, cache the result (when it fits `maxRows`), and return it.
    * Returns (result, wasHit).
    */
  def cached(key: String, tables: Seq[(String, String)],
             compute: => DataFrame): (DataFrame, Boolean) = {
    val fp = fingerprint(key, tables)
    val dir = root.resolve(fp)
    val meta = root.resolve(s"$fp.json")
    if (Files.exists(meta) && Files.exists(dir))
      return (eng.spark.read.parquet(dir.toString), true)

    val df = compute
    try {
      Files.createDirectories(root)
      val tmp = root.resolve(s"$fp.tmp${Thread.currentThread().getId}")
      // small results by contract: one file keeps the hit read one task
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val rows = StatsHarvest.harvest(tmp,
        eng.spark.sparkContext.hadoopConfiguration).rows
      if (rows > maxRows) {
        deleteRecursively(tmp)
        (df, false)
      } else {
        // result dir first (atomic), sidecar LAST — a crash in between
        // leaves an unaddressable dir for the sweep, never a bad serve
        if (Files.exists(dir)) deleteRecursively(dir)
        Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
        val doc = JObject(
          "key" -> JString(key),
          "tables" -> JArray(tables.map(t => JString(s"${t._1}.${t._2}")).toList),
          "rows" -> JLong(rows),
          "createdMs" -> JLong(System.currentTimeMillis()))
        val mTmp = root.resolve(s"$fp.json.tmp${Thread.currentThread().getId}")
        Files.writeString(mTmp, JsonMethods.compact(JsonMethods.render(doc)))
        Files.move(mTmp, meta, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        (eng.spark.read.parquet(dir.toString), false)
      }
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[graft] WARN result-cache store failed for $key: $e")
        (df, false)
    }
  }

  /** Entries currently addressable (their fingerprint matches some live
    * query's inputs) cannot be distinguished from stale ones by content —
    * the fingerprint is one-way — so the sweep re-derives each sidecar's
    * CURRENT fingerprint from its recorded (key, tables) and drops entries
    * whose stored name no longer matches (version moved, schema changed,
    * table dropped) plus any orphan dirs a crash left. Returns the number
    * of entries removed. Wired into MAINTAIN WAREHOUSE beside compaction
    * and group hygiene.
    */
  def sweep(): Int = {
    if (!Files.exists(root)) return 0
    import scala.jdk.CollectionConverters._
    var removed = 0
    val listing = Files.list(root).iterator().asScala.toSeq
    val metas = listing.filter(_.getFileName.toString.endsWith(".json"))
    val dirs = listing.filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    val liveFps = scala.collection.mutable.Set.empty[String]
    val sweptFps = scala.collection.mutable.Set.empty[String]
    metas.foreach { m =>
      val fp = m.getFileName.toString.stripSuffix(".json")
      val current =
        try {
          val doc = JsonMethods.parse(Files.readString(m))
          val key = (doc \ "key").extract[String]
          val tables = (doc \ "tables").extract[List[String]].map { qn =>
            val Array(db, t) = qn.split("\\.", 2)
            (db, t)
          }
          fingerprint(key, tables) == fp
        } catch { case NonFatal(_) => false }
      if (current) liveFps += fp
      else {
        Files.deleteIfExists(m)
        deleteRecursively(root.resolve(fp))
        sweptFps += fp
        removed += 1
      }
    }
    // orphan dirs: a crash between the result-dir rename and the sidecar
    // write, or an abandoned .tmp staging dir (a swept entry's dir is
    // already counted above)
    (dirs -- liveFps -- sweptFps).foreach { d =>
      deleteRecursively(root.resolve(d)); removed += 1
    }
    removed
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
}
