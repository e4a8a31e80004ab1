package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._
import graft.catalog.TableDef
import graft.manifest.{RowsetMeta, RowsetSchema}
import graft.model.{AggType, KeysType}

/** A point lookup's route and candidates, the first two steps of
  * [[OlapEngine.lookupByKey]]: `key` is the lookup value cast to the key
  * type, `bucket` the routed bucket (None reads every bucket), `covering`
  * the one consistent capture and `candidates` its delete markers plus the
  * data rowsets that can hold the key.
  */
private[graft] final case class PointLookup(td: TableDef, keyCol: String,
    keyType: DataType, key: Any, bucket: Option[Int], covering: Seq[RowsetMeta],
    candidates: Seq[RowsetMeta])

/** One candidate data rowset of a driver read: its cached reader's
  * relation and its files in the routed bucket.
  */
private[graft] final case class PointRowset(meta: RowsetMeta,
    relation: HadoopFsRelation, files: Seq[PartitionedFile])

/** The driver side of a point lookup: read the candidate files with Spark's
  * parquet reader, mask them with the delete markers and fold the key
  * model's merge, all without a Spark job. Every rule here restates one of
  * `rawFromRowsets` or [[MergeView]], which stay the definition;
  * `LookupByKeySpec` holds the two equal on every model.
  */
private[engine] object PointRead {
  /** The most candidate file bytes a driver read takes; larger candidate
    * sets go to the Spark path. On a 4-core host the driver read beat the
    * one-job path for Unique and Duplicate keys of a few records up to
    * about 100 MB of candidate files (the column index finds the key's
    * pages, so bytes cost little); the bound sits well inside that.
    */
  val MaxBytes: Long = 32L << 20

  /** The most records of one key a driver read collects; past it the read
    * stops and the lookup goes to the Spark path. Matching rows, not bytes,
    * are what a driver read pays for: on the same host a hot Duplicate key
    * of about 13k rows still read faster on the driver, one of about 51k
    * did not.
    */
  val MaxRecords: Int = 16384

  private val VersionCol = "__graft_version"
  private val SeqCol = "__graft_seq"
  private val OpCol = "__graft_op"

  /** One stored record of the key: the declared columns' values, the
    * rowset's version, the load-order seq, the op flag and the partition.
    */
  final case class Rec(values: Array[Any], version: Long, seq: Any, op: Any, part: String)

  /** Key types whose Catalyst values compare and group by plain equality,
    * as Spark's own equality and grouping do (floats would need NaN and
    * -0.0 normalizing, binary a content compare).
    */
  def plainKey(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | _: DecimalType => true
    case s: StringType => s == StringType
    case _ => false
  }

  /** A rowset's physical column names under the current declared names:
    * each renameColumn applies where the old name is present and the new
    * one absent, in the same order as the read path's renames.
    */
  def renamed(physical: Seq[String], renames: Map[String, String]): Seq[String] =
    renames.foldLeft(physical) { case (ns, (o, n)) =>
      if (ns.contains(o) && !ns.contains(n)) ns.map(x => if (x == o) n else x) else ns
    }

  /** The records of `p.key` in `rowsets`, or None past `limit` of them
    * (the read stops there). The key is pushed down to the parquet reader,
    * so row-group statistics and the column index skip, and then checked on
    * each row. A missing file fails the read.
    */
  def records(spark: SparkSession, p: PointLookup, rowsets: Seq[PointRowset],
      limit: Int): Option[Seq[Rec]] = {
    var left = limit
    val cols = p.td.schema.columns
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    // DEFAULT backfill for a declared column the rowset does not hold
    val defaults = cols.map(c => p.td.columnDefaults.get(c.name)
      .map(v => Cast(Literal(v), c.dataType, tz).eval()).orNull)
    // one reader per distinct rowset schema (usually one per lookup)
    val recs = rowsets.groupBy(r => (r.relation.dataSchema, r.relation.partitionSchema)).toSeq.flatMap {
      case ((dataSchema, partSchema), group) =>
        val names = renamed(dataSchema.fieldNames.toSeq, p.td.renamedColumns)
        val keyAt = names.indexOf(p.keyCol)
        val at = cols.map(c => names.indexOf(c.name))
        val seqAt = names.indexOf(SeqCol)
        val opAt = names.indexOf(OpCol)
        val partAt = dataSchema.length + partSchema.fieldIndex(RowsetSchema.PartCol)
        val physKey = dataSchema.fieldNames(keyAt)
        val pushed =
          if (physKey.exists(ch => ch == '.' || ch == '`')) Nil
          else Seq(org.apache.spark.sql.sources.EqualTo(physKey,
            CatalystTypeConverters.convertToScala(p.key, p.keyType)))
        val options = group.head.relation.options
        val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark,
          dataSchema, partSchema, dataSchema, pushed,
          options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
          spark.sessionState.newHadoopConfWithOptions(options))
        // physical types equal the declared ones (the driver read's guard)
        def get(row: InternalRow, i: Int): Any =
          if (i < 0 || row.isNullAt(i)) null else row.get(i, dataSchema(i).dataType)
        group.flatMap { r =>
          r.files.iterator.takeWhile(_ => left >= 0).flatMap { f =>
            val it = read(f)
            try {
              val got = it.filter(row => !row.isNullAt(keyAt) && row.get(keyAt, p.keyType) == p.key)
                .map { shared =>
                  val row = shared.copy()
                  Rec(cols.indices.map(i => if (at(i) < 0) defaults(i) else get(row, at(i))).toArray,
                    r.meta.version.end, get(row, seqAt), get(row, opAt),
                    Option(row.getUTF8String(partAt)).map(_.toString).orNull)
                }.take(left + 1).toVector
              left -= got.size
              got
            } finally it match {
              case c: java.io.Closeable => c.close()
              case _ => ()
            }
          }
        }
    }
    if (left < 0) None else Some(recs)
  }

  /** `cond` in a form `eval` runs, or None. The analyzed plan still holds
    * what only the optimizer rewrites: RuntimeReplaceable nodes (`nvl`,
    * `left`, `BETWEEN`, ...) are replaced by Spark's own
    * [[org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions]] and the
    * `With` common expressions that leaves (BETWEEN's input) are inlined.
    * A predicate that still holds an unevaluable node (a subquery) or is
    * nondeterministic gives None.
    */
  def evaluable(cond: Expression): Option[Expression] = {
    val replaced = ReplaceExpressions(Filter(cond, LocalRelation())).expressions.head
    def inline(e: Expression): Expression = e.transformUp {
      case With(child, defs) =>
        val byId = defs.map(d => d.id -> d.child).toMap
        child.transformUp { case r: CommonExpressionRef if byId.contains(r.id) => byId(r.id) }
    }
    // an attribute is unevaluable only until it is bound
    Some(inline(replaced)).filter(c => c.deterministic && c.find {
      case _: Attribute => false
      case e => e.isInstanceOf[Unevaluable]
    }.isEmpty)
  }

  /** The delete markers as one mask over records, or None when a marker's
    * predicate does not resolve against the declared columns or is not
    * [[evaluable]]. A DROP PARTITION marker masks its partition; a predicate
    * marker is analyzed once (no job) and evaluated as `coalesce(pred,
    * false) AND version < marker.start`, the read path's mask.
    */
  def mask(spark: SparkSession, td: TableDef,
      markers: Seq[RowsetMeta]): Option[Rec => Boolean] = {
    val attrs = td.schema.columns.map(c => AttributeReference(c.name, c.dataType)()) :+
      AttributeReference(VersionCol, LongType)()
    val version = attrs.last
    val rules = markers.map { mk =>
      mk.deletePartition match {
        case Some(name) => Some((r: Rec) => r.part == name && r.version < mk.version.start)
        case None =>
          scala.util.Try(org.apache.spark.sql.graft.shim.ofRows(spark, LocalRelation(attrs))
              .where(expr(mk.deletePredicate.get)).queryExecution.analyzed).toOption
            .collect { case Filter(cond, _) => evaluable(cond) }.flatten
            .map { cond =>
              val pred = Predicate.createInterpreted(BindReferences.bindReference(
                And(Coalesce(Seq(cond, Literal(false))),
                  LessThan(version, Literal(mk.version.start))): Expression, attrs))
              pred.initialize(0)
              (r: Rec) => pred.eval(new GenericInternalRow(r.values :+ r.version))
            }
      }
    }
    if (rules.exists(_.isEmpty)) None
    else Some(r => rules.exists(_.get(r)))
  }

  /** Fold one key's records to the merged rows, by MergeView's rules: the
    * ordering is (sequence column, version, seq); Unique keeps the latest
    * record and drops the key when that record is a tombstone, and under
    * partial update each value column takes its latest non-null value;
    * Aggregate MIN/MAX skip nulls, REPLACE takes the value at the top of
    * the ordering, REPLACE_IF_NOT_NULL the latest non-null value. SUM and
    * HLL_UNION are not folded here. `hasOp` says whether the read carries
    * the op column at all.
    */
  def fold(td: TableDef, recs: Seq[Rec], hasOp: Boolean): Seq[InternalRow] = {
    val schema = td.schema
    val cols = schema.columns
    if (schema.keysType == KeysType.Duplicate)
      return recs.map(r => new GenericInternalRow(r.values))
    val seqAt = td.sequenceColumn.map(sc => cols.indexWhere(_.name == sc))
    val ordering = InterpretedOrdering.forSchema(
      seqAt.map(cols(_).dataType).toSeq ++ Seq(LongType, LongType))
    def ord(r: Rec): InternalRow =
      new GenericInternalRow((seqAt.map(r.values(_)).toSeq ++ Seq(r.version, r.seq)).toArray)
    val keyAt = cols.indices.filter(cols(_).isKey)
    recs.groupBy(r => keyAt.map(r.values(_))).values.toSeq.flatMap { group =>
      val ordered = group.map(r => (ord(r), r))
      def latest(rs: Seq[(InternalRow, Rec)]): Option[Rec] =
        if (rs.isEmpty) None else Some(rs.maxBy(_._1)(ordering)._2)
      def latestSet(i: Int): Any =
        latest(ordered.filter(_._2.values(i) != null)).map(_.values(i)).orNull
      def present(i: Int): Seq[Any] = group.map(_.values(i)).filter(_ != null)
      val top = latest(ordered).get
      val merged = cols.indices.map { i =>
        val c = cols(i)
        if (c.isKey) top.values(i)
        else if (schema.keysType == KeysType.Unique) {
          if (td.partialUpdate) latestSet(i) else top.values(i)
        } else c.agg match {
          case AggType.Min => present(i).minOption(TypeUtils.getInterpretedOrdering(c.dataType)).orNull
          case AggType.Max => present(i).maxOption(TypeUtils.getInterpretedOrdering(c.dataType)).orNull
          case AggType.Replace | AggType.None => top.values(i)
          case AggType.ReplaceIfNotNull => latestSet(i)
          case other => throw new IllegalStateException(s"${other.name} is not folded on the driver")
        }
      }
      val live = schema.keysType != KeysType.Unique || !hasOp || (top.op match {
        case n: java.lang.Number => n.longValue == 0L
        case _ => false
      })
      if (live) Seq(new GenericInternalRow(merged.toArray)) else Nil
    }
  }

  /** Whether [[fold]] covers the table's merge. */
  def foldable(td: TableDef): Boolean =
    td.schema.keysType != KeysType.Aggregate ||
      td.schema.valueColumns.forall(c => c.agg != AggType.Sum && c.agg != AggType.HllUnion)
}
