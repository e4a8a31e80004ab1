package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Table loaders. `events.parquet`'s `ts` column has changed physical type
  * across driver testdata generations — TIMESTAMP(NANOS) (which Spark reads
  * as raw longs under `spark.sql.legacy.parquet.nanosAsLong`), and plain
  * TIMESTAMP_NTZ(micros). We normalize adaptively to session-UTC
  * `TimestampType` so every downstream query/oracle sees one shape:
  *   - LongType (legacy nanos-as-long): exact integer DIV 1000 → micros
  *     (double division would lose precision above 2^53 nanos).
  *   - TIMESTAMP_NTZ: cast to TimestampType (session tz is UTC everywhere,
  *     so the wall-clock value is preserved bit-for-bit).
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize a raw `ts` column to TimestampType, whatever the file had.
    * Every physical shape the parquet timestamp family can surface as gets an
    * explicit arm; an UNKNOWN shape fails loudly instead of passing through —
    * rounds 3→4 lost eight queries to a silent testdata-shape drift, and a
    * loud error at the one choke point is the difference between a 1-line fix
    * and a round of red streaming queries.
    */
  private[queries] def normalizeTs(tsType: DataType): Column = tsType match {
    // legacy TIMESTAMP(NANOS) read as raw longs under nanosAsLong: exact
    // integer DIV (double division loses precision above 2^53 nanos)
    case LongType         => timestamp_micros(expr("ts DIV 1000"))
    // TIMESTAMP_NTZ (micros or millis — Spark widens millis on read): the
    // session tz is UTC everywhere, so the wall-clock value is preserved
    case TimestampNTZType => col("ts").cast(TimestampType)
    // already session-tz TimestampType: INT96 and isAdjustedToUTC=true
    // MICROS/MILLIS all land here — nothing to normalize
    case TimestampType    => col("ts")
    case other => throw new IllegalStateException(
      s"events.ts has unrecognized physical type $other — teach " +
        "Tables.normalizeTs this shape rather than letting every " +
        "downstream events query mis-read it")
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.withColumn("ts", normalizeTs(raw.schema("ts").dataType))
  }

  private val rawSchemaCache =
    scala.collection.concurrent.TrieMap.empty[String, StructType]
  private val streamDirCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Raw file schema for the streaming file source (it needs an explicit
    * schema; ts normalization happens after `readStream`). Cached per dir —
    * the footer read is per-process fixture setup, not part of any query.
    */
  def eventsRawSchema(spark: SparkSession, dir: String): StructType =
    rawSchemaCache.getOrElseUpdate(dir, {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$dir/events.parquet").schema
    })

  /** The file stream source requires a *directory*; expose the single
    * events.parquet through a symlinked temp dir. Cached per dir (layout
    * setup, like q104's lateLayoutCache) — the source lists it fresh per
    * query, so sharing the dir is safe.
    */
  def eventsStreamDir(dir: String): String =
    streamDirCache.getOrElseUpdate(dir, {
      val streamDir = graft.Fixtures.newDir("graft-events-stream-")
      val src = java.nio.file.Paths.get(s"$dir/events.parquet")
      if (java.nio.file.Files.isDirectory(src)) {
        // Spark-written table (a directory of part files): the file stream
        // source does not recurse through a symlinked DIRECTORY, so link
        // each part file individually — zero data copies either way
        java.nio.file.Files.list(src).filter(_.toString.endsWith(".parquet"))
          .forEach(p => java.nio.file.Files.createSymbolicLink(
            streamDir.resolve(p.getFileName), p))
      } else
        java.nio.file.Files.createSymbolicLink(streamDir.resolve("events.parquet"), src)
      streamDir.toString
    })

  def eventsStreamFrom(spark: SparkSession, streamDir: String, schemaDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = eventsRawSchema(spark, schemaDir)
    spark.readStream.schema(schema)
      .parquet(streamDir)
      .withColumn("ts", normalizeTs(schema("ts").dataType))
  }

  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    eventsStreamFrom(spark, eventsStreamDir(dir), dir)
}
