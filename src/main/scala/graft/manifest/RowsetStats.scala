package graft.manifest

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StringType, StructType}

/** Per-column zone map of ONE rowset: min/max/null-count over every file the
  * rowset holds — the reference's write-time ZoneMapIndex
  * (src/index/mod.rs:61-108, built per page at src/column_writer.rs:54-60)
  * lifted one level up, to where an MVCC engine can actually use it. The
  * reference builds zone maps but never reads them (serialize-only,
  * src/index/mod.rs:95-108); Parquet already covers the page/row-group tier
  * at scan time, so the tier that's genuinely missing is ABOVE the file:
  * which rowsets of a snapshot can hold matching rows at all. Storing the
  * rowset-level zone map in the manifest lets the planner drop whole rowsets
  * — no directory listing, no file open, no task — and lets simple
  * MIN/MAX/COUNT aggregates answer from metadata alone.
  *
  * `kind` pins the comparison space the canonical strings live in, so a
  * later column-type change can never cause a mis-typed comparison:
  *  - "i": signed integral (also date = epoch days, timestamp = epoch
  *    micros) — canonical form is the decimal Long string;
  *  - "f": float/double — canonical form is `Double.toString`;
  *  - "s": UTF-8 string — canonical form is the value itself (ordering is
  *    unsigned-bytewise, the same order parquet stats and Spark's
  *    UTF8String use).
  *
  * `min`/`max` are None when every value in the rowset is null. A column
  * with no entry in a rowset's stats map is UNKNOWN (file lacked usable
  * stats) — readers must treat it as unbounded, never as empty.
  */
final case class ColStats(kind: String, min: Option[String], max: Option[String],
    nullCount: Long)

object ColStats {
  /** Compare two canonical strings in their kind's space (< 0, 0, > 0). */
  def compare(kind: String, a: String, b: String): Int = kind match {
    case "i" => java.lang.Long.compare(a.toLong, b.toLong)
    case "f" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _ =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
  }
}

/** What one footer pass over a rowset dir yields ([[StatsHarvest.harvest]]).
  * `bytes` holds each top-level column's uncompressed size over every
  * file.
  */
final case class Harvest(rows: Long, stats: Map[String, ColStats],
    bytes: Map[String, Long], partRows: Map[String, Long], schema: Option[StructType])

/** The schema a reader of a rowset dir sees: the data columns the files
  * were written with, then the two hive layout columns every rowset write
  * partitions by. The manifest records it per rowset at publish, so a
  * reader is built with it and never asks the files (no inference job).
  * `__graft_part` is always a string — partition names are engine-minted
  * identifiers, and a name like `2024` must not read as a number.
  */
object RowsetSchema {
  val PartCol = "__graft_part"
  val BucketCol = "__graft_bucket"

  /** The read schema of a rowset whose files hold `data`. Every field is
    * nullable, as a file-source relation makes them.
    */
  def of(data: StructType): StructType =
    StructType(data.fields.map(f => f.copy(dataType = nullable(f.dataType),
      nullable = true))).add(PartCol, StringType).add(BucketCol, IntegerType)

  /** An inferred rowset schema with the layout columns given their
    * recorded types (partition inference types a numeric-looking name as
    * a number).
    */
  def pinLayout(inferred: StructType): StructType =
    StructType(inferred.fields.map {
      case f if f.name == PartCol => f.copy(dataType = StringType)
      case f if f.name == BucketCol => f.copy(dataType = IntegerType)
      case f => f
    })

  private def nullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }
}

/** Harvests rowset zone maps from parquet FOOTERS — a metadata read, never a
  * data scan: cost is O(files in this rowset), so ingest pays for its OWN
  * load only (delta-sized, like every maintenance path in this engine). As a
  * bonus the footer pass yields the exact row count, replacing the count-back
  * Spark job the ingest path used to run.
  *
  * Trust contract: parquet row-group statistics are exact bounds — parquet-mr
  * DROPS binary min/max entirely rather than truncate them when oversized,
  * and a truncating writer must keep truncated bounds conservative — so
  * pruning on them is always safe. For metadata-SERVED min/max (where the
  * bound is returned as the answer, not just used to skip), the engine adds a
  * belt-and-braces guard: string stats at or beyond 64 chars are not served
  * (see OlapEngine.minMaxStats).
  */
object StatsHarvest {

  /** Total rows, per-column zone map and uncompressed bytes, per-PARTITION
    * row counts and read schema of every parquet file under `dir`. A column missing usable
    * stats in ANY file is dropped from the map (unknown, not empty).
    * Unsupported physical/logical types (decimal, INT96 timestamps,
    * unsigned ints, nested) are skipped the same way. Partition attribution
    * comes from the hive-layout path segment the engine itself wrote
    * (`__graft_part=<name>`) — partition names are engine-minted
    * identifiers, so no unescaping is needed; files outside such a segment
    * count under no partition (the map stays a partial attribution, summing
    * to ≤ total rows). The schema is the Spark schema every footer recorded
    * at write time — exactly what parquet schema inference would read —
    * with the layout columns appended ([[RowsetSchema.of]]); None when the
    * dir holds no file, or a footer lacks the schema or disagrees with
    * another.
    */
  def harvest(dir: Path, conf: Configuration): Harvest = {
    val files =
      if (!Files.exists(dir)) Seq.empty
      else Files.walk(dir).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.toString)
    var rows = 0L
    val acc = scala.collection.mutable.Map.empty[String, ColStats]
    val bad = scala.collection.mutable.Set.empty[String]
    val bytes = scala.collection.mutable.Map.empty[String, Long]
    val partAcc = scala.collection.mutable.Map.empty[String, Long]
    val schemas = scala.collection.mutable.Set.empty[Option[String]]
    files.foreach { f =>
      val part = f.iterator().asScala.map(_.toString)
        .find(_.startsWith(s"${RowsetSchema.PartCol}="))
        .map(_.stripPrefix(s"${RowsetSchema.PartCol}="))
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri), conf),
        FooterOptions)
      try {
        val footer = reader.getFooter
        val schema = footer.getFileMetaData.getSchema
        schemas += Option(footer.getFileMetaData.getKeyValueMetaData
          .get(SparkSchemaKey))
        footer.getBlocks.asScala.foreach { block =>
          rows += block.getRowCount
          part.foreach(p => partAcc(p) = partAcc.getOrElse(p, 0L) + block.getRowCount)
          block.getColumns.asScala.foreach { chunk =>
            val path = chunk.getPath.toArray
            if (path.length == 1) {
              val name = path(0)
              bytes(name) = bytes.getOrElse(name, 0L) + chunk.getTotalUncompressedSize
              if (!bad.contains(name)) {
                fileColStats(schema, name, chunk.getStatistics) match {
                  case Some(cs) =>
                    acc(name) = acc.get(name).map(merge(_, cs)).getOrElse(cs)
                  case None =>
                    bad += name; acc.remove(name)
                }
              }
            }
          }
        }
      } finally reader.close()
    }
    val sparkSchema = schemas.toSeq match {
      case Seq(Some(json)) =>
        scala.util.Try(DataType.fromJson(json)).toOption.collect {
          case st: StructType => RowsetSchema.of(st)
        }
      case _ => None
    }
    Harvest(rows, acc.toMap, bytes.toMap, partAcc.toMap, sparkSchema)
  }

  /** The read options of every footer open: parquet's defaults, the value
    * `ParquetFileReader.open(InputFile)` builds per call. Building them
    * makes a fresh Hadoop `Configuration`, which parses the default and
    * site XML resources again, a cost paid per file that dwarfed the
    * footer reads themselves. One JVM-wide value keeps the footers reading
    * exactly as with the per-call defaults, whatever the session conf
    * carries (a record filter, signed string min/max, decryption). The
    * harvest reads footers only, so the options' codec factory (which each
    * reader's close releases) never holds a codec, and concurrent loads can
    * share the value.
    */
  private lazy val FooterOptions: ParquetReadOptions = ParquetReadOptions.builder().build()

  /** The footer key Spark's parquet writer stores the written schema under
    * (`ParquetReadSupport.SPARK_METADATA_KEY`).
    */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def merge(a: ColStats, b: ColStats): ColStats = {
    require(a.kind == b.kind, s"stats kind mismatch: ${a.kind} vs ${b.kind}")
    def pick(x: Option[String], y: Option[String], keepMin: Boolean) = (x, y) match {
      case (Some(u), Some(v)) =>
        val c = ColStats.compare(a.kind, u, v)
        Some(if ((c <= 0) == keepMin) u else v)
      case (u, v) => u.orElse(v)
    }
    ColStats(a.kind,
      pick(a.min, b.min, keepMin = true),
      pick(a.max, b.max, keepMin = false),
      a.nullCount + b.nullCount)
  }

  /** One column chunk's stats in canonical form; None = unusable (drop the
    * column). All-null chunks are usable (min/max None, nullCount set).
    */
  private def fileColStats(schema: org.apache.parquet.schema.MessageType,
      name: String,
      stats: org.apache.parquet.column.statistics.Statistics[_]): Option[ColStats] = {
    if (stats == null || stats.isNumNullsSet == false) return None
    val idx = schema.getFields.asScala.indexWhere(_.getName == name)
    if (idx < 0 || !schema.getType(idx).isPrimitive) return None
    val prim = schema.getType(idx).asPrimitiveType()
    canonKind(prim).flatMap { case (kind, toCanon) =>
      if (!stats.hasNonNullValue)
        Some(ColStats(kind, None, None, stats.getNumNulls))
      else
        try {
          val mn = toCanon(stats.genericGetMin)
          val mx = toCanon(stats.genericGetMax)
          // NaN-poisoned float stats are not trustworthy bounds
          if (kind == "f" && (mn.toDouble.isNaN || mx.toDouble.isNaN)) None
          else Some(ColStats(kind, Some(mn), Some(mx), stats.getNumNulls))
        } catch { case NonFatal(_) => None }
    }
  }

  /** Comparison space + canonical-string codec for a primitive parquet type;
    * None = unsupported (decimal, unsigned, INT96, nested, etc.).
    */
  private def canonKind(prim: PrimitiveType): Option[(String, Any => String)] = {
    val logical = prim.getLogicalTypeAnnotation
    prim.getPrimitiveTypeName match {
      case INT32 | INT64 => logical match {
        case null => Some(("i", v => v.toString))
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
          Some(("i", v => v.toString))
        case it: LogicalTypeAnnotation.IntLogicalTypeAnnotation if it.isSigned =>
          Some(("i", v => v.toString))
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            // NTZ (non-UTC-adjusted) micros read as TimestampType shift with
            // the session zone — only instant-semantics stats are portable
            if ts.isAdjustedToUTC =>
          ts.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS =>
              Some(("i", v => v.toString))
            case LogicalTypeAnnotation.TimeUnit.MILLIS =>
              Some(("i", v => (v.asInstanceOf[java.lang.Long] * 1000L).toString))
            case _ => None
          }
        case _ => None
      }
      case FLOAT | DOUBLE => logical match {
        case null => Some(("f", {
          case f: java.lang.Float => f.doubleValue.toString
          case d => d.toString
        }))
        case _ => None
      }
      case BINARY => logical match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
          Some(("s", v => v.asInstanceOf[Binary].toStringUsingUTF8))
        case _ => None
      }
      case BOOLEAN | INT96 | FIXED_LEN_BYTE_ARRAY => None
      case _ => None
    }
  }
}
