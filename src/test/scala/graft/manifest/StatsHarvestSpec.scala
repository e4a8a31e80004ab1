package graft.manifest

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** The footer harvest reads what a Spark aggregate over the same rowset
  * dir computes: total and per-partition rows, per-column min, max and
  * null count, and the read schema; a parquet record filter in the Hadoop
  * conf it is given changes none of it.
  */
class StatsHarvestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import RowsetSchema.{BucketCol, PartCol}

  /** A rowset dir laid out as the engine writes one: 3 partitions × 4
    * buckets, key-sorted, with nulls in every value column and long,
    * string, timestamp (instant micros) and double columns.
    */
  private def rowsetDir(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft-harvest-").resolve("r1")
    val df = spark.range(0, 600).select(
      col("id").as("k"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 3 - 500).as("l"),
      when(col("id") % 5 === 0, lit(null))
        .otherwise(concat(lit("s"), (col("id") * 37 % 101).cast("string"))).as("s"),
      when(col("id") % 6 === 0, lit(null))
        .otherwise(timestamp_micros(lit(1700000000000000L) + col("id") * 7919L)).as("t"),
      when(col("id") % 4 === 0, lit(null)).otherwise(col("id") / 7.0 - 30.5).as("d"),
      concat(lit("p"), (col("id") % 3).cast("string")).as(PartCol),
      (col("id") % 4).cast("int").as(BucketCol))
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try df.repartition(col(PartCol), col(BucketCol))
      .sortWithinPartitions(col(PartCol), col(BucketCol), col("k"))
      .write.partitionBy(PartCol, BucketCol).option("compression", "lz4_raw")
      .parquet(dir.toString)
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    dir
  }

  test("the footer harvest equals a Spark aggregate over the same dir") {
    val dir = rowsetDir()
    val h = StatsHarvest.harvest(dir, spark.sparkContext.hadoopConfiguration)
    val read = spark.read.parquet(dir.toString)

    assert(h.rows == read.count())
    assert(h.rows == 600)
    val partRows = read.groupBy(PartCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(h.partRows == partRows)
    assert(h.schema.contains(RowsetSchema.pinLayout(read.schema)))

    val canon: Map[String, (String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] =
      Map("k" -> ("i", c => c.cast("string")), "l" -> ("i", c => c.cast("string")),
        "s" -> ("s", c => c), "t" -> ("i", c => unix_micros(c).cast("string")),
        "d" -> ("f", c => c))
    val aggs = canon.toSeq.sortBy(_._1).flatMap { case (n, (_, f)) =>
      Seq(f(min(col(n))), f(max(col(n))), count(when(col(n).isNull, 1)))
    }
    val got = read.agg(aggs.head, aggs.tail: _*).collect().head
    canon.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((n, (kind, _)), i) =>
      def str(v: Any): Option[String] = Option(v).map {
        case d: java.lang.Double => d.toString
        case o => o.toString
      }
      val want = ColStats(kind, str(got.get(3 * i)), str(got.get(3 * i + 1)),
        got.getLong(3 * i + 2))
      assert(h.stats.get(n).contains(want), s"$n: harvested ${h.stats.get(n)}, want $want")
    }
    assert(h.stats("l").nullCount > 0 && h.stats("s").nullCount > 0 &&
      h.stats("t").nullCount > 0 && h.stats("d").nullCount > 0)
    assert(h.bytes.keySet == Set("k", "l", "s", "t", "d"))

    // a record filter the conf carries filters no footer the harvest reads
    val conf = spark.sparkContext.hadoopConfiguration
    ParquetInputFormat.setFilterPredicate(conf,
      FilterApi.eq(FilterApi.longColumn("k"), java.lang.Long.valueOf(3L)))
    try assert(StatsHarvest.harvest(dir, conf) == h)
    finally Seq(ParquetInputFormat.FILTER_PREDICATE,
      ParquetInputFormat.FILTER_PREDICATE + ".human.readable").foreach(conf.unset)
  }
}
