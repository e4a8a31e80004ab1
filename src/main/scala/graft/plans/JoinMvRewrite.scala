package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.engine.{MvJoinDef, OlapEngine}
import graft.model.{AggType, KeysType}

/** Transparent join-MV selection — the StarRocks/Doris async-MV rewrite as a
  * Catalyst optimizer rule, one level up from [[RollupRewrite]]: the USER
  * writes `fact JOIN dim ON fk = pk |> GROUP BY dims |> Sum/Min/Max/count(*)`
  * against the BASE engine tables; the optimizer notices a fresh materialized
  * view stores that exact pre-joined pre-aggregation and swaps the whole
  * join+aggregate subtree for a (much smaller) scan of the MV parquet.
  *
  * Safety over cleverness — the rewrite fires only when provably exact:
  *  - the child must be an INNER equi-join whose single join predicate is
  *    exactly the MV's declared `factKey = dimKey` (either attribute order,
  *    either child order);
  *  - each join input must reduce ([[ScanMatch]]) to parquet leaves equal to
  *    the matching table's CURRENT covering rowset directories — so stale
  *    plans, partial snapshots, and already-rewritten plans never match;
  *  - build freshness is re-checked against BOTH live manifests: a
  *    load into the fact OR the dim disables the rewrite until refresh;
  *  - both tables must be Duplicate model (merge-on-read models change row
  *    multiplicity between materialization and query);
  *  - filters (above the join or pushed into either side) may touch MV
  *    dimension columns only, and are replayed over the MV scan;
  *  - aggregates must be non-distinct unfiltered Sum/Min/Max over the MV's
  *    source columns, or count(*)/count(lit) via the stored row count.
  *
  * At 100 TB this is the strongest plan rewrite in the engine: the fact-side
  * shuffle AND the join disappear entirely — the plan reads group-reduction×
  * fewer rows and zero fact bytes. The rule is idempotent (a rewritten plan's
  * leaves are MV files, never rowset directories).
  */
object JoinMvRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** One live MV build over the scanned tables: definition plus the (fact,
    * dim) versions and parquet path it materialized (read from
    * [[graft.engine.MvManager.list]] at plan time).
    */
  private final case class Build(eng: OlapEngine, d: MvJoinDef,
      factV: Long, dimV: Long, path: String)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!TableRegistry.readsAny(plan)) plan
    else plan.transformUp {
      case agg: Aggregate =>
        try rewrite(agg).getOrElse(agg)
        catch { case e: Exception => // never fail a query over a missed rewrite
          logWarning(s"join-MV rewrite bailed: $e"); agg }
    }

  /** The join subtree reduced to its two scans + equi-join attribute names +
    * filters found between the Aggregate and the Join (side-internal filters
    * stay inside each [[ScanMatch.Scan]]).
    */
  private final case class Shape(left: ScanMatch.Scan, right: ScanMatch.Scan,
      leftKey: String, rightKey: String, filters: Seq[Expression])

  private def joinMatch(plan: LogicalPlan): Option[Shape] = plan match {
    case p: Project if p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      joinMatch(p.child)
    case s: SubqueryAlias => joinMatch(s.child)
    case f: Filter if f.condition.deterministic =>
      joinMatch(f.child).map(sh => sh.copy(filters = f.condition +: sh.filters))
    case j @ Join(l, r, Inner, Some(cond), _) =>
      splitConjunctivePredicates(cond) match {
        case Seq(EqualTo(a: AttributeReference, b: AttributeReference)) =>
          for {
            ls <- ScanMatch.baseScan(l)
            rs <- ScanMatch.baseScan(r)
          } yield {
            // bind each key name to the side that produces it
            val (lk, rk) =
              if (l.outputSet.exists(_.exprId == a.exprId)) (a.name, b.name)
              else (b.name, a.name)
            Shape(ls, rs, lk, rk, Nil)
          }
        case _ => None
      }
    case _ => None
  }

  private def rewrite(agg: Aggregate): Option[Aggregate] = {
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    val shape = joinMatch(agg.child).getOrElse(return None)
    // either join side may be the fact table
    val sides = Seq(shape.left, shape.right)
      .map(sc => TableRegistry.ofDirs(sc.leafPaths).getOrElse(return None))
    val built = sides.distinct.flatMap(t => t.eng.mvs.list(t.db, t.name).map {
      case (d, fv, dv) => Build(t.eng, d, fv, dv, t.eng.mvs.storedPath(d, fv, dv))
    })
    val entry = built.filter(e => covers(e, groupAttrs, shape))
      .minByOption(_.d.groupCols.size).getOrElse(return None)

    val mvPlan = entry.eng.spark.read.parquet(entry.path).queryExecution.analyzed
    val byName = mvPlan.output.map(a => a.name -> a).toMap
    if (!(entry.d.groupCols ++ entry.d.aggs.map(_._1) ++ entry.d.countCol)
      .forall(byName.contains)) return None

    val newGrouping = groupAttrs.map(a => byName(a.name))

    // Swap one aggregate call for its MV-side re-aggregation; cast back to
    // the base query's exact result type (decimal sums widen per level).
    def mapAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.filter.nonEmpty || ae.isDistinct) return None
      def fromStored(src: String, aggType: AggType): Option[Expression] =
        entry.d.aggs.find(r => r._2 == src && r._3 == aggType).map { stored =>
          (aggType match {
            case AggType.Min => Min(byName(stored._1))
            case AggType.Max => Max(byName(stored._1))
            case _ => Sum(byName(stored._1))
          }).toAggregateExpression()
        }
      val reAgg: Option[Expression] = ae.aggregateFunction match {
        case Sum(c: AttributeReference, _) => fromStored(c.name, AggType.Sum)
        case Min(c: AttributeReference) => fromStored(c.name, AggType.Min)
        case Max(c: AttributeReference) => fromStored(c.name, AggType.Max)
        case Count(Seq(l: Literal)) if l.value != null =>
          entry.d.countCol.map(cc => Sum(byName(cc)).toAggregateExpression())
        case _ => None
      }
      reAgg.map(re => if (re.dataType == ae.dataType) re else Cast(re, ae.dataType))
    }

    // Rebuild result expressions: aggregate calls via mapAgg, remaining
    // attrs must be MV dimensions (two-pass marker trick, see RollupRewrite).
    val newResult: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if entry.d.groupCols.contains(a.name) =>
        Alias(byName(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(child, name) =>
        var ok = true
        val markers = scala.collection.mutable.Map.empty[ExprId, Expression]
        val marked = child.transformDown {
          case ae: AggregateExpression =>
            mapAgg(ae) match {
              case Some(re) =>
                val m = AttributeReference(s"__mv_m${markers.size}", ae.dataType)()
                markers(m.exprId) = re
                m
              case None => ok = false; ae
            }
          case a: AttributeReference =>
            if (entry.d.groupCols.contains(a.name)) byName(a.name)
            else { ok = false; a }
        }
        if (!ok) return None
        val newChild = marked.transformUp {
          case a: AttributeReference if markers.contains(a.exprId) => markers(a.exprId)
        }
        Alias(newChild, name)(exprId = al.exprId)
      case _ => return None
    }

    // Replay every residual filter conjunct (join-level and side-internal;
    // covers verified each is dimension-only) over the MV scan. `isnotnull`
    // on a join key — inferred by InferFiltersFromConstraints on every inner
    // equi-join — is tautological over MV rows (a null key never joins) and
    // is dropped rather than replayed.
    val allFilters = residualFilters(entry, shape).getOrElse(return None)
      .filterNot(isJoinKeyNotNull(entry.d, _))
    val replayed = allFilters.foldLeft(mvPlan) { (p, cond) =>
      Filter(cond.transform {
        case a: AttributeReference => byName.getOrElse(a.name, return None)
      }, p)
    }
    Some(Aggregate(newGrouping, newResult, replayed))
  }

  /** Build selectable for this shape: both builds fresh, both tables
    * Duplicate model, the two scans are exactly the two tables' current
    * covering rowset sets, the join keys are the declared ones, and dims
    * cover grouping + every filter.
    */
  private def covers(e: Build, groupAttrs: Seq[AttributeReference],
      shape: Shape): Boolean = {
    val d = e.d
    if (e.factV != e.eng.manifest(d.factDb, d.factTable).maxVersion) return false
    if (e.dimV != e.eng.manifest(d.dimDb, d.dimTable).maxVersion) return false
    if (!e.eng.catalog.getTable(d.factDb, d.factTable)
      .exists(_.schema.keysType == KeysType.Duplicate)) return false
    if (!e.eng.catalog.getTable(d.dimDb, d.dimTable)
      .exists(_.schema.keysType == KeysType.Duplicate)) return false
    val factDirs = e.eng.coveringDirs(d.factDb, d.factTable)
    val dimDirs = e.eng.coveringDirs(d.dimDb, d.dimTable)
    if (factDirs.isEmpty || dimDirs.isEmpty) return false
    // orient the join children onto (fact, dim)
    val oriented =
      if (shape.left.leafPaths == factDirs && shape.right.leafPaths == dimDirs)
        Some((shape.leftKey, shape.rightKey))
      else if (shape.right.leafPaths == factDirs && shape.left.leafPaths == dimDirs)
        Some((shape.rightKey, shape.leftKey))
      else None
    // each side's aliases must be that table's own physical→current rename
    // projections, never a user relabeling (see ScanMatch.renamesOk)
    val factScan = if (shape.left.leafPaths == factDirs) shape.left else shape.right
    val dimScan = if (shape.left.leafPaths == factDirs) shape.right else shape.left
    if (!ScanMatch.renamesOk(e.eng, d.factDb, d.factTable, factScan.renames) ||
      !ScanMatch.renamesOk(e.eng, d.dimDb, d.dimTable, dimScan.renames)) return false
    oriented.exists { case (fk, dk) =>
      fk == d.factKey && dk == d.dimKey &&
        groupAttrs.forall(a => d.groupCols.contains(a.name)) &&
        residualFilters(e, shape).exists(_.forall(f =>
          isJoinKeyNotNull(d, f) ||
            f.references.forall(a => d.groupCols.contains(a.name))))
    }
  }

  /** All collected filters flattened to conjuncts, with each side's CURRENT
    * snapshot delete-marker conjuncts consumed (the MV was materialized over
    * those exact snapshots — `covers` pins both versions). None = a side's
    * snapshot conjuncts are missing from that side's filters (a stale
    * pre-delete plan) or unresolvable — the rewrite must not fire. Conjuncts
    * are matched per side so an identically-named column on the other side
    * can't satisfy (or be consumed by) a fact-side delete predicate.
    */
  private def residualFilters(e: Build, shape: Shape): Option[Seq[Expression]] = {
    val d = e.d
    val factDirs = e.eng.coveringDirs(d.factDb, d.factTable)
    val (factScan, dimScan) =
      if (shape.left.leafPaths == factDirs) (shape.left, shape.right)
      else (shape.right, shape.left)
    def side(scan: ScanMatch.Scan, db: String, table: String): Option[Seq[Expression]] = {
      val snap = (try ScanMatch.snapshotConjuncts(e.eng, db, table)
        catch { case _: Exception => None }).getOrElse(return None)
      val conj = scan.filters.flatMap(splitConjunctivePredicates)
      if (!snap.forall(conj.map(ScanMatch.normalize).contains)) None
      else Some(conj.filterNot(c => snap.contains(ScanMatch.normalize(c))))
    }
    for {
      f <- side(factScan, d.factDb, d.factTable)
      dm <- side(dimScan, d.dimDb, d.dimTable)
    } yield shape.filters.flatMap(splitConjunctivePredicates) ++ f ++ dm
  }

  /** `isnotnull(k)` where k is one of the MV's join keys — implied by the
    * inner join itself, hence true of every MV row.
    */
  private def isJoinKeyNotNull(d: MvJoinDef, f: Expression): Boolean = f match {
    case IsNotNull(a: AttributeReference) =>
      a.name == d.factKey || a.name == d.dimKey
    case _ => false
  }
}
