package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.engine.OlapEngine

/** The one owner of query fixtures: the engines built per (fixture, data
  * dir), the temp dirs they live in, and the staged arrival streams the
  * streaming fixtures drain.
  *
  * Every dir made by [[newDir]] is deleted when the JVM exits, by one hook
  * that never follows a symlink (a fixture dir may link to input data).
  */
object Fixtures {

  private val engines = TrieMap.empty[(String, String), OlapEngine]
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach(d => FastTmp.deleteTree(d))))
  }

  /** A fresh temp dir, deleted at exit. */
  def newDir(prefix: String): Path = {
    val d = FastTmp.newDir(prefix)
    dirs.add(d)
    d
  }

  /** The engine of fixture `name` over data dir `dir`, built once per JVM
    * by `build`. A build puts its warehouse under [[newDir]].
    */
  def engine(name: String, dir: String)(build: => OlapEngine): OlapEngine =
    engines.getOrElseUpdate((name, dir), build)

  /** Forgets the engines of the fixtures `which` selects and deletes their
    * warehouses: the next call rebuilds them, as data regenerated under a
    * dir already served needs.
    */
  def drop(which: String => Boolean): Unit =
    engines.keys.filter(k => which(k._1)).foreach { k =>
      engines.remove(k).foreach(e => FastTmp.deleteTree(e.warehouse))
    }

  /** Writes each part as one parquet file in a fresh dir, file i of n
    * modified at now − (n − i) minutes. Spark's file source takes the oldest
    * file first, so a stream over the dir sees the parts in order.
    */
  def stage(name: String, parts: Seq[DataFrame]): Path = {
    val sd = newDir(s"graft-$name-stream-")
    val now = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (df, i) =>
      val tmp = newDir(s"graft-$name-part-")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = scala.util.Using.resource(Files.list(tmp))(
        _.filter(_.toString.endsWith(".parquet")).findFirst.orElseThrow())
      val dest = Files.move(part, sd.resolve(s"part-$i.parquet"))
      Files.setLastModifiedTime(dest,
        FileTime.fromMillis(now - (parts.size - i) * 60000L))
    }
    sd
  }

  /** A stream over the [[stage]]d parts, one file per micro-batch. */
  def arrivals(spark: SparkSession, name: String, parts: Seq[DataFrame]): DataFrame =
    spark.readStream.schema(parts.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage(name, parts).toString)

  /** Drains the [[arrivals]] of `parts` into `fold`, one micro-batch per
    * part in part order, and returns when every part is folded.
    */
  def drain(spark: SparkSession, name: String, parts: Seq[DataFrame])(
      fold: (DataFrame, Long) => Unit): Unit =
    arrivals(spark, name, parts).writeStream
      .option("checkpointLocation", newDir(s"graft-$name-ckpt-").toString)
      .foreachBatch(fold)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
