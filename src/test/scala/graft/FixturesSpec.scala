package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.OlapEngine

/** The fixture kit's own contract: one engine per (fixture, data dir),
  * staged parts drained one micro-batch each in part order, and fixture
  * dirs deleted at exit without following a symlink.
  */
class FixturesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("the same (name, dir) returns the same engine, built once") {
    val builds = new AtomicInteger()
    def get(): OlapEngine = Fixtures.engine("fixtures-spec-same", "/no/such/dir") {
      builds.incrementAndGet()
      new OlapEngine(spark, Fixtures.newDir("graft-fixtures-spec-"))
    }
    val a = get()
    assert(get() eq a)
    assert(builds.get() == 1)
  }

  test("different names give different engines over one dir") {
    def get(name: String): OlapEngine = Fixtures.engine(name, "/no/such/dir") {
      new OlapEngine(spark, Fixtures.newDir("graft-fixtures-spec-"))
    }
    val a = get("fixtures-spec-a")
    val b = get("fixtures-spec-b")
    assert(!(a eq b))
    assert(a.warehouse != b.warehouse)
  }

  test("staged parts drain as one micro-batch per part, in part order") {
    // part i holds 10 - i rows of marker i, so no order of names, sizes or
    // row content could hide a misordered arrival
    val parts = (0 until 4).map(i =>
      spark.range(10 - i).select(col("id"), lit(i).as("part")))
    val seen = new ConcurrentLinkedQueue[(Long, Seq[Int])]()
    Fixtures.drain(spark, "fixtures-spec", parts) { (batch, bid) =>
      seen.add((bid, batch.select("part").distinct().collect().map(_.getInt(0)).toSeq))
      ()
    }
    assert(seen.asScala.toSeq == (0 until 4).map(i => (i.toLong, Seq(i))))
  }

  test("the exit delete removes a fixture dir without following a symlink") {
    val outside = Files.createTempDirectory("graft-fixtures-spec-outside-")
    val kept = Files.writeString(outside.resolve("input.txt"), "input")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(java,
      "-cp", System.getProperty("java.class.path"),
      s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
      "graft.FixturesExitProbe", outside.toString)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes()).trim
    assert(p.waitFor() == 0, out)
    val dir = Paths.get(out.linesIterator.toSeq.last)
    assert(dir.getFileName.toString.startsWith("graft-fixtures-probe-"), out)
    assert(!Files.exists(dir), s"$dir survived the exit")
    assert(Files.readString(kept) == "input")
  }
}

/** Makes a fixture dir holding a file and a symlink to the dir named by its
  * argument, prints the fixture dir, and exits.
  */
object FixturesExitProbe {
  def main(args: Array[String]): Unit = {
    val d: Path = Fixtures.newDir("graft-fixtures-probe-")
    Files.writeString(d.resolve("own.txt"), "own")
    Files.createSymbolicLink(d.resolve("link"), Paths.get(args(0)))
    println(d)
  }
}
