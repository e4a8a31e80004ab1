package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.OlapEngine

/** Transparent METADATA aggregates — `SELECT min(x), max(y), count(*)` over
  * an engine table's full snapshot scan answers from the manifest's rowset
  * zone maps and row counts, with the scan deleted from the plan entirely
  * (the Aggregate becomes a one-row Project of literals). The API faces
  * (`OlapEngine.minMaxStats` / `countStar`) already serve these; this rule
  * removes the API requirement the way BucketPruneRewrite does for point
  * lookups: any plan — DataFrame or `spark.sql` over a registered view —
  * with this shape is served. At 100 TB the commonest health-check query
  * costs a driver-side manifest fold and zero tasks.
  *
  * Fires only when provably exact, mirroring [[RollupRewrite]]'s stance:
  *  - the child must reduce (via [[ScanMatch]]) to the table's CURRENT
  *    covering data rowset directories exactly — no filters, no stale or
  *    partial snapshots, renames only if they are the engine's own
  *    rename-era projections;
  *  - grouping must be empty; every aggregate must be an unfiltered,
  *    non-distinct MIN/MAX over a column `OlapEngine.zoneFold` can serve
  *    (Duplicate model, no delete markers, complete stats, matching type
  *    space, string bounds under the truncation guard) or COUNT(*) /
  *    COUNT(col) (row counts minus null counts — same metadata);
  *  - any miss leaves the plan untouched (a scan is always correct).
  *
  * Idempotent: the rewritten plan contains no Aggregate over a scan.
  */
object StatsAggRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!TableRegistry.readsAny(plan)) plan
    else plan.transformUp {
      case agg: Aggregate =>
        try rewrite(agg).getOrElse(agg)
        catch { case e: Exception => // never fail a query over a missed rewrite
          logWarning(s"stats-agg rewrite bailed: $e"); agg }
    }

  /** Shared precondition of every metadata serve: the plan subtree must
    * reduce to EXACTLY the table's current covering data directories — no
    * filters, no stale/partial snapshots, renames only the engine's own
    * era projections, Duplicate model, no delete markers.
    */
  private final case class Matched(eng: OlapEngine, db: String, table: String,
      totalRows: Long)

  private def matchScan(child: LogicalPlan): Option[Matched] = {
    val scan = ScanMatch.baseScan(child).getOrElse(return None)
    // any residual filter restricts rows — the stats describe the WHOLE set
    if (scan.filters.nonEmpty) return None
    if (scan.leafPaths.isEmpty) return None
    val TableRegistry.Table(eng, db, table) =
      TableRegistry.ofDirs(scan.leafPaths).getOrElse(return None)
    if (!ScanMatch.renamesOk(eng, db, table, scan.renames)) return None
    val td = eng.catalog.getTable(db, table).getOrElse(return None)
    if (td.schema.keysType != graft.model.KeysType.Duplicate) return None
    val m = eng.manifest(db, table)
    val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
    val covering = m.captureConsistentVersions(lo, m.maxVersion)
    if (covering.exists(_.isDeleteMarker)) return None
    // the plan must read EXACTLY the current covering data dirs — a stale,
    // partial, or post-rewrite plan never matches
    if (scan.leafPaths != eng.coveringDirs(db, table)) return None
    Some(Matched(eng, db, table, covering.map(_.numRows).sum))
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    if (agg.groupingExpressions.nonEmpty) return rewriteGrouped(agg)
    val Matched(eng, db, table, totalRows) =
      matchScan(agg.child).getOrElse(return None)

    def internalLit(dt: DataType, v: Option[String]): Option[Literal] = v match {
      case None => Some(Literal(null, dt))
      case Some(s) => dt match {
        case ByteType => Some(Literal(s.toLong.toByte, dt))
        case ShortType => Some(Literal(s.toLong.toShort, dt))
        case IntegerType => Some(Literal(s.toLong.toInt, dt))
        case LongType => Some(Literal(s.toLong, dt))
        case DateType => Some(Literal(s.toLong.toInt, dt))
        case TimestampType => Some(Literal(s.toLong, dt))
        case FloatType => Some(Literal(s.toDouble.toFloat, dt))
        case DoubleType => Some(Literal(s.toDouble, dt))
        case StringType => Some(Literal(UTF8String.fromString(s), dt))
        case _ => None
      }
    }

    /** The served literal for one aggregate call, or None (bail whole plan —
      * partial serving would still scan, gaining nothing).
      */
    def serve(ae: AggregateExpression): Option[Literal] = {
      if (ae.isDistinct || ae.filter.nonEmpty) return None
      ae.aggregateFunction match {
        case Count(Seq(l: Literal)) if l.value != null =>
          Some(Literal(totalRows, LongType))
        case Count(Seq(a: AttributeReference)) =>
          eng.zoneFold(db, table, a.name).flatMap { case (_, _, _, nonNull) =>
            nonNull.map(Literal(_, LongType)) // None = counts inexact (Unique)
          }
        case Min(a: AttributeReference) =>
          eng.zoneFold(db, table, a.name).flatMap { case (dt, mn, _, _) =>
            if (dt != a.dataType) None else internalLit(dt, mn)
          }
        case Max(a: AttributeReference) =>
          eng.zoneFold(db, table, a.name).flatMap { case (dt, _, mx, _) =>
            if (dt != a.dataType) None else internalLit(dt, mx)
          }
        // SUM/AVG from the exact per-rowset sum stats (sum_stats_columns,
        // OlapEngine.sumFold/avgFold — see their exactness arguments).
        // Spark's integral Sum yields LongType and Average DoubleType;
        // anything else (decimal, float input) is not served.
        case s: Sum => s.child match {
          case a: AttributeReference if ae.dataType == LongType =>
            eng.sumFold(db, table, a.name).flatMap { case (dt, sm, _) =>
              if (dt != a.dataType) None
              else Some(Literal(sm.map(java.lang.Long.valueOf).orNull, LongType))
            }
          case _ => None
        }
        case av: Average => av.child match {
          case a: AttributeReference if ae.dataType == DoubleType =>
            eng.avgFold(db, table, a.name).flatMap { case (dt, v) =>
              if (dt != a.dataType) None
              else Some(Literal(v.map(java.lang.Double.valueOf).orNull, DoubleType))
            }
          case _ => None
        }
        case _ => None
      }
    }

    val served = agg.aggregateExpressions.map {
      case al @ Alias(ae: AggregateExpression, name) =>
        serve(ae).map(l =>
          Alias(l, name)(exprId = al.exprId, qualifier = al.qualifier)).getOrElse(return None)
      case _ => return None
    }
    Some(Project(served, OneRowRelation()))
  }

  /** Convert a histogram cell's string form back to the column's INTERNAL
    * value — exact for the types `dict_stats_columns` admits (the string
    * form is injective there by the TableDef type guard).
    */
  private def dictInternal(dt: DataType, s: String): Option[Any] =
    try dt match {
      case StringType => Some(UTF8String.fromString(s))
      case LongType => Some(s.toLong)
      case IntegerType => Some(s.toInt)
      case ShortType => Some(s.toShort)
      case ByteType => Some(s.toByte)
      case BooleanType => Some(s.toBoolean)
      case DateType => Some(java.time.LocalDate.parse(s).toEpochDay.toInt)
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The GROUPED metadata serve: `SELECT c, count(*) FROM t GROUP BY c`
    * over a declared dict column replaces the whole Aggregate with a
    * LocalRelation folded from the per-rowset value histograms
    * ([[OlapEngine.groupCounts]]) — the scan disappears. Servable outputs:
    * the grouping column itself, COUNT(*)/COUNT(1), and COUNT(c) of the
    * grouping column (its null group counts 0). Anything else — another
    * column's aggregate, expressions over the group key, DISTINCT — bails
    * to the scan, which is always correct.
    */
  private def rewriteGrouped(agg: Aggregate): Option[LogicalPlan] = {
    val gattr = agg.groupingExpressions match {
      case Seq(a: AttributeReference) => a
      case _ => return None
    }
    val Matched(eng, db, table, _) = matchScan(agg.child).getOrElse(return None)
    val (dt, cells) = eng.groupCounts(db, table, gattr.name).getOrElse(return None)
    if (dt != gattr.dataType) return None
    // convert every cell's group value up front; any failure bails whole
    val conv: Seq[(Any, Long)] = cells.map { case (v, n) =>
      (v match {
        case Some(s) => dictInternal(dt, s).getOrElse(return None)
        case None => null
      }, n)
    }
    // one value-maker per output expression
    val makers: Seq[(Any, Long) => Any] = agg.aggregateExpressions.map {
      case a: AttributeReference if a.exprId == gattr.exprId =>
        (v: Any, _: Long) => v
      case al: Alias => al.child match {
        case a: AttributeReference if a.exprId == gattr.exprId =>
          (v: Any, _: Long) => v
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case Count(Seq(l: Literal)) if l.value != null =>
              (_: Any, n: Long) => n
            case Count(Seq(a: AttributeReference)) if a.exprId == gattr.exprId =>
              (v: Any, n: Long) => if (v == null) 0L else n
            case _ => return None
          }
        case _ => return None
      }
      case _ => return None
    }
    val rows = conv.map { case (v, n) =>
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(makers.map(mk => mk(v, n)))
    }
    Some(org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      agg.output, rows))
  }
}
