package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame

/** Write and space accounting for one warehouse directory. Call [[observe]]
  * after every call that may write: each file that is new, or whose size or
  * modification time changed since the last observation, counts its current
  * size as bytes created. Files created and removed inside one call (temp
  * manifests) are not seen; GC'd files stay counted.
  */
final class DirTracker(val root: Path) {
  private var seen = Map.empty[String, (Long, Long)]
  private var created = 0L

  def bytesCreated: Long = created

  /** Returns the bytes created since the previous observation. */
  def observe(): Long = {
    val now = Amp.files(root)
    val fresh = now.collect { case (p, st @ (size, _)) if !seen.get(p).contains(st) => size }.sum
    seen = now
    created += fresh
    fresh
  }

  def bytesNow: Long = Amp.files(root).values.map(_._1).sum
}

object Amp {
  /** Regular files under `root`: path → (size, mtime ms). */
  def files(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).flatMap { p =>
        // a file GC or a publish removes mid-walk is simply not there
        try Some(p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        catch { case _: java.io.IOException => None }
      }.toMap
      finally s.close()
    }

  /** Size of a table's `_manifest.json`, or 0 when it has none yet. */
  def manifestBytes(tableRoot: Path): Long = {
    val m = tableRoot.resolve("_manifest.json")
    if (Files.exists(m)) Files.size(m) else 0L
  }

  /** Size of `df` written once as plain parquet (one file), the base that
    * write and space amplification are measured against.
    */
  def plainParquetBytes(df: DataFrame, scratch: Path): Long = {
    val out = scratch.resolve("plain-" + System.nanoTime())
    df.coalesce(1).write.parquet(out.toString)
    val bytes = files(out).collect { case (p, (n, _)) if p.endsWith(".parquet") => n }.sum
    deleteTree(out)
    bytes
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)) finally s.close()
  }

  /** bytes created ÷ user bytes, and bytes kept ÷ live bytes. */
  def ratio(num: Long, den: Long): Double = if (den <= 0) Double.NaN else num.toDouble / den
}
