package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive result fingerprint: the row count plus the sum and xor
  * of a 64-bit hash of each row's canonical text. Doubles and floats are
  * rounded to [[Fingerprint.Digits]] significant digits first, so a sum
  * whose last bits depend on task order still matches.
  */
final case class Fingerprint(rows: Long, sum: Long, xor: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, sum + o.sum, xor ^ o.xor)
  def show: String = f"$rows:$sum%016x:$xor%016x"
}

object Fingerprint {
  val Digits = 9
  val Empty: Fingerprint = Fingerprint(0L, 0L, 0L)
  private val mc = new MathContext(Digits)

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new JBigDecimal(d).round(mc).stripTrailingZeros.toString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case bytes: Array[Byte] => bytes.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def ofRow(r: Row): Fingerprint = {
    val text = canon(r)
    // two independent 32-bit hashes make one 64-bit row hash
    val h = (MurmurHash3.stringHash(text, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(text, 0x0b1e).toLong & 0xffffffffL)
    Fingerprint(1L, h, h)
  }

  def ofRows(rows: Iterator[Row]): Fingerprint = rows.foldLeft(Empty)(_ + ofRow(_))

  /** Computed on the executors; only one fingerprint per partition returns. */
  def of(df: DataFrame): Fingerprint =
    df.rdd.mapPartitions(it => Iterator(ofRows(it))).fold(Empty)(_ + _)
}
