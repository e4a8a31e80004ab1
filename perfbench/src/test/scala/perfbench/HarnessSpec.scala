package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("tail percentile: 90 when at least ten samples lie beyond it, lower otherwise") {
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.tailPercentile(1000) == 90)
    assert(Stats.tailPercentile(50) == 80)
    assert(Stats.tailPercentile(20) == 50)
    assert(Stats.tailPercentile(5) == 50)
    for (n <- 21 to 400) {
      val p = Stats.tailPercentile(n)
      val rank = math.ceil(p / 100.0 * n).toInt
      assert(n - rank >= 10, s"n=$n p=$p leaves ${n - rank} beyond")
      if (p < 90) {
        val next = math.ceil((p + 1) / 100.0 * n).toInt
        assert(n - next < 10, s"n=$n: p=${p + 1} would still leave ten beyond")
      }
    }
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90, 90.0)))
    // too few samples for any tail above the median: the tail is the median
    assert(Stats.tail(Seq(4.0, 1.0, 3.0, 2.0)) == ((50, 2.5)))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  private def write(p: Path, bytes: Int): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, Array.fill[Byte](bytes)(1))
  }

  test("write and space amplification on a hand-built directory") {
    val root = Files.createTempDirectory("perfbench-amp-")
    try {
      val t = new DirTracker(root)
      assert(t.observe() == 0L)
      write(root.resolve("r1/a.parquet"), 100)
      write(root.resolve("_manifest.json"), 10)
      assert(t.observe() == 110L)
      // nothing new: nothing counted
      assert(t.observe() == 0L)
      // a rewritten manifest counts again; a deleted rowset stays counted
      write(root.resolve("_manifest.json"), 20)
      Files.delete(root.resolve("r1/a.parquet"))
      write(root.resolve("r2/b.parquet"), 50)
      assert(t.observe() == 70L)
      assert(t.bytesCreated == 180L)
      assert(t.bytesNow == 70L)
      assert(Amp.ratio(t.bytesCreated, 60L) == 3.0)
      assert(Amp.ratio(t.bytesNow, 35L) == 2.0)
      assert(Amp.ratio(1L, 0L).isNaN)
    } finally Amp.deleteTree(root)
  }

  test("fingerprint ignores row order and rounds doubles; any other change shows") {
    val a = Seq(Row(1L, 0.1 + 0.2, "x"), Row(2L, 1.0 / 3, null), Row(3L, 2.5, "z"))
    val b = Seq(Row(3L, 2.5, "z"), Row(1L, 0.3, "x"), Row(2L, 0.33333333333, null))
    assert(Fingerprint.ofRows(a.iterator) == Fingerprint.ofRows(b.iterator))
    val c = Seq(Row(3L, 2.5, "z"), Row(1L, 0.3001, "x"), Row(2L, 1.0 / 3, null))
    assert(Fingerprint.ofRows(a.iterator) != Fingerprint.ofRows(c.iterator))
    // a duplicated row is not the same multiset
    assert(Fingerprint.ofRows((a :+ a.head).iterator) != Fingerprint.ofRows(a.iterator))
    assert(Fingerprint.canon(new java.math.BigDecimal("247392.00")) == "247392")
    assert(Fingerprint.canon(Seq(1, 2)) != Fingerprint.canon(Seq(2, 1)))
    assert(Fingerprint.canon(Map("b" -> 1, "a" -> 2)) == Fingerprint.canon(Map("a" -> 2, "b" -> 1)))
  }

  test("a lookup mix takes its share of each key class and tops up from the other") {
    assert(OrdersTable.mix(Seq(1L, 2L, 3L), Seq(7L, 8L), 2, 1) == Seq(1L, 2L, 7L))
    // too few old keys: new ones fill their place, and the reverse
    assert(OrdersTable.mix(Seq(1L, 2L, 3L), Nil, 2, 1) == Seq(1L, 2L, 3L))
    assert(OrdersTable.mix(Seq(1L), Seq(7L, 8L, 9L), 2, 1) == Seq(1L, 7L, 8L))
    assert(OrdersTable.mix(Seq(1L), Nil, 2, 1) == Seq(1L))
  }

  test("a wrong result or a throw is a failure and leaves no timing") {
    val rec = new Recorder
    assert(rec.timed("query", "right")(42)(_ == 42).contains(42))
    assert(rec.timed("query", "wrong")(41)(_ == 42).isEmpty)
    assert(rec.timed("query", "throws")(sys.error("boom"): Int)(_ => true).isEmpty)
    assert(!rec.verify("untimed check")(false))
    assert(rec.attempted == 4)
    assert(rec.failed == 3)
    assert(rec.samples("query").size == 1)
    assert(rec.failures.exists(_.startsWith("wrong: wrong result")))
    assert(rec.failures.exists(_.contains("boom")))
  }
}
