package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import graft.engine.{OlapEngine, RollupDef}
import graft.model.{AggType, KeysType}

/** Transparent rollup selection as a Catalyst optimizer rule — the query-time
  * half of the reference's declared-but-empty `rollup_indexes`
  * (src/partition.rs:52-57,74-75), done the way Doris/StarRocks do it: the
  * USER writes the aggregation against the BASE table; the optimizer notices
  * a fresh materialized rollup covers it and swaps the scan.
  *
  * [[graft.engine.RollupManager.aggregate]] already selects rollups when the
  * caller goes through the engine API; this rule removes that requirement.
  * Any `Aggregate` — from the DataFrame API or `spark.sql` — whose child is
  * exactly the current full snapshot scan of a Duplicate-model engine table
  * ([[TableRegistry]]), whose grouping columns are a subset of a fresh
  * rollup's dimensions, and whose aggregates are Sum/Min/Max over the
  * rollup's source columns, is rewritten to re-aggregate the (much smaller)
  * rollup parquet instead.
  *
  * Safety over cleverness — the rewrite fires only when provably exact:
  *  - the scan subtree must consist of Project-of-attributes / Union /
  *    SubqueryAlias / Filter nodes over parquet relations, and its leaf paths
  *    must equal the table's CURRENT covering rowset directories (so a stale
  *    plan, a partial snapshot, or any post-rewrite plan never matches);
  *  - build freshness is re-checked against the live manifest, so a
  *    load published after materialization disables the rewrite until the
  *    rollup is refreshed;
  *  - Filters are allowed only on rollup dimension columns (they commute
  *    with the pre-aggregation) and are replayed over the rollup scan;
  *  - aggregates must be non-distinct, unfiltered Sum/Min/Max — the ones
  *    that compose over partial aggregates ([[RollupDef]] enforces the same
  *    closure on the write side).
  *
  * At 100 TB this is the highest-leverage optimization in the engine: a
  * dashboard aggregation over a few group keys reads a rollup that is
  * orders of magnitude smaller than the fact table, with zero query
  * changes. The rule is idempotent (a rewritten plan's leaves are rollup
  * files, which never equal rowset directories), so it is safe in the
  * fixed-point operator-optimization batch and in
  * `spark.experimental.extraOptimizations`.
  */
object RollupRewrite extends Rule[LogicalPlan] {

  /** One live rollup build of the scanned table: definition plus the
    * snapshot version and parquet path it materialized (read from
    * [[graft.engine.RollupManager.list]] at plan time).
    */
  private final case class Build(eng: OlapEngine, db: String, table: String,
      rd: RollupDef, version: Long, path: String)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!TableRegistry.readsAny(plan)) plan
    else plan.transformUp {
      case agg: Aggregate =>
        try rewrite(agg).getOrElse(agg)
        catch { case e: Exception => // never fail a query over a missed rewrite
          logWarning(s"rollup rewrite bailed: $e"); agg }
    }

  private def rewrite(agg: Aggregate): Option[Aggregate] = {
    // Grouping must be plain columns (no computed dimensions).
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    val scan = ScanMatch.baseScan(agg.child).getOrElse(return None)
    val t = TableRegistry.ofDirs(scan.leafPaths).getOrElse(return None)
    val built = t.eng.rollups.list(t.db, t.name).map { case (rd, v) =>
      Build(t.eng, t.db, t.name, rd, v, t.eng.rollups.storedPath(t.db, t.name, rd.name, v))
    }
    // Among covering rollups, fewest dimensions wins: coarser grouping means
    // fewer stored rows to re-aggregate (Doris picks its rollup the same way).
    val entry = built.filter(e => covers(e, agg, groupAttrs, scan))
      .minByOption(_.rd.groupCols.size).getOrElse(return None)

    val rollupPlan = entry.eng.spark.read.parquet(entry.path)
      .queryExecution.analyzed
    val byName = rollupPlan.output.map(a => a.name -> a).toMap
    // Registration guarantees dims ⊆ rollup columns, but the stored parquet
    // is the ground truth — bail if any expected column is missing.
    if (!(entry.rd.groupCols ++ entry.rd.aggs.map(_._1) ++ entry.rd.countCol)
      .forall(byName.contains)) return None

    val newGrouping = groupAttrs.map(a => byName(a.name))

    // COUNT(DISTINCT x) needs two levels (merge bitmaps per bucket, then sum
    // cardinalities), so when any distinct aggregate appears EVERY aggregate
    // routes through an inner per-(dims, bucket) partial and an outer final.
    val hasDistinct = agg.aggregateExpressions.exists(_.exists {
      case ae: AggregateExpression => ae.isDistinct
      case _ => false
    })
    val innerPartials = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
    val partialCache = scala.collection.mutable.Map.empty[String, Attribute]
    def partial(key: String, build: => Expression): Attribute =
      partialCache.getOrElseUpdate(key, {
        val al = Alias(build, s"__p${innerPartials.size}")()
        innerPartials += al
        al.toAttribute
      })

    // Swap one aggregate call for its rollup-side re-aggregation. Sum over
    // decimal widens precision each level, so the result is cast back to the
    // base query's exact type to keep downstream references binding.
    def mapAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.filter.nonEmpty) return None
      def fromStored(src: String, aggType: AggType): Option[Expression] =
        entry.rd.aggs.find(r => r._2 == src && r._3 == aggType).map { stored =>
          def agg1(child: Expression): Expression = (aggType match {
            case AggType.Min => Min(child)
            case AggType.Max => Max(child)
            case _ => Sum(child)
          }).toAggregateExpression()
          if (!hasDistinct) agg1(byName(stored._1))
          else agg1(partial(s"$aggType:$src", agg1(byName(stored._1))))
        }
      def fromCount: Option[Expression] = entry.rd.countCol.map { cc =>
        if (!hasDistinct) Sum(byName(cc)).toAggregateExpression()
        else Sum(partial("count", Sum(byName(cc)).toAggregateExpression()))
          .toAggregateExpression()
      }
      val reAgg: Option[Expression] =
        if (ae.isDistinct) ae.aggregateFunction match {
          // COUNT(DISTINCT src) = Σ over buckets of |OR of stored bitmaps| —
          // exact, because buckets partition the value space
          case Count(Seq(c: AttributeReference))
              if entry.rd.bitmapCol.exists(b => b._2 == c.name && byName.contains(b._1)) =>
            val bm = partial("bitmap",
              BitmapOrAgg(byName(entry.rd.bitmapCol.get._1)).toAggregateExpression())
            // BitmapCount is RuntimeReplaceable; past analysis we must plant
            // its replacement expression directly
            Some(Sum(BitmapCount(bm).replacement).toAggregateExpression())
          case _ => None
        } else ae.aggregateFunction match {
          case Sum(c: AttributeReference, _) => fromStored(c.name, AggType.Sum)
          case Min(c: AttributeReference) => fromStored(c.name, AggType.Min)
          case Max(c: AttributeReference) => fromStored(c.name, AggType.Max)
          // count(*) / count(lit): rows per group = sum of stored counts
          case Count(Seq(l: Literal)) if l.value != null => fromCount
          case _ => None
        }
      reAgg.map(re => if (re.dataType == ae.dataType) re else Cast(re, ae.dataType))
    }

    // Result expressions may be plain grouping attrs, aliased aggregates, or
    // — after CollapseProject — arbitrary scalar trees over both (e.g.
    // `cast(sum(x) as double)`). Rebuild each tree top-down: aggregate calls
    // go through mapAgg, remaining attrs must be dimension columns.
    val newResult: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if entry.rd.groupCols.contains(a.name) =>
        Alias(byName(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(child, name) =>
        var ok = true
        // Two passes: aggregate calls first become leaf markers (so the
        // dimension check below never descends into rollup-side attrs),
        // then markers expand to their re-aggregations.
        val markers = scala.collection.mutable.Map.empty[ExprId, Expression]
        val marked = child.transformDown {
          case ae: AggregateExpression =>
            mapAgg(ae) match {
              case Some(re) =>
                val m = AttributeReference(s"__rr_m${markers.size}", ae.dataType)()
                markers(m.exprId) = re
                m
              case None => ok = false; ae
            }
          case a: AttributeReference =>
            if (entry.rd.groupCols.contains(a.name)) byName(a.name)
            else { ok = false; a }
        }
        if (!ok) return None
        val newChild = marked.transformUp {
          case a: AttributeReference if markers.contains(a.exprId) => markers(a.exprId)
        }
        Alias(newChild, name)(exprId = al.exprId)
      case _ => return None
    }
    // Replay the RESIDUAL base-side filters (dimension columns only) over
    // the rollup — the rollup's own filter conjuncts, already applied at
    // materialization, are consumed rather than replayed.
    val replayed = residualFilters(entry, scan).getOrElse(return None)
      .foldLeft(rollupPlan) { (p, cond) =>
        Filter(cond.transform {
          case a: AttributeReference => byName.getOrElse(a.name, return None)
        }, p)
      }
    val child =
      if (!hasDistinct) replayed
      else {
        // inner level: requested dims + bitmap bucket -> merged partials
        val bkt = byName.getOrElse(graft.engine.RollupDef.BmBucketCol, return None)
        Aggregate((newGrouping :+ bkt).map(a => a: Expression),
          newGrouping.map(a => a: NamedExpression) ++ innerPartials.toSeq, replayed)
      }
    Some(Aggregate(newGrouping, newResult, child))
  }

  private def splitAnd(e: Expression): Seq[Expression] = ScanMatch.splitAnd(e)

  private def normalize(e: Expression): Expression = ScanMatch.normalize(e)

  /** The rollup's own WHERE predicate, analyzed against the live base scan
    * (so literal typing/cast insertion matches what the query side gets) and
    * attr-normalized for structural comparison.
    */
  private def rollupPredConjuncts(e: Build): Seq[Expression] = {
    val analyzed = e.eng.scan(e.db, e.table)
      .filter(org.apache.spark.sql.functions.expr(e.rd.filter.get))
      .queryExecution.analyzed
    val cond = analyzed.collectFirst { case Filter(c, _) => c }.get
    splitAnd(normalize(cond))
  }

  /** Query-side filter conjuncts with (a) the CURRENT snapshot's own
    * delete-marker conjuncts and (b) the rollup's own predicate consumed.
    * None = the query does NOT carry the snapshot's delete conjuncts (a
    * stale pre-delete plan) or a filtered rollup's predicate — the rewrite
    * must not fire.
    */
  private def residualFilters(e: Build, scan: ScanMatch.Scan): Option[Seq[Expression]] = {
    val snap = (try ScanMatch.snapshotConjuncts(e.eng, e.db, e.table)
      catch { case _: Exception => None }).getOrElse(return None)
    val all = scan.filters.flatMap(splitAnd)
    if (!snap.forall(all.map(normalize).contains)) return None
    val conjuncts = all.filterNot(c => snap.contains(normalize(c)))
    e.rd.filter match {
      case None => Some(conjuncts)
      case Some(_) =>
        val rp = try rollupPredConjuncts(e) catch { case _: Exception => return None }
        if (!rp.forall(p => conjuncts.exists(c => normalize(c) == p))) None
        else {
          // isnotnull(x) conjuncts the optimizer infers FROM the predicate
          // are implied by it (a null fails the comparison), so the rollup
          // data already excludes those rows — consume them too
          val predRefs = rp.flatMap(_.collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
          }).toSet
          Some(conjuncts.filterNot { c =>
            rp.contains(normalize(c)) || (c match {
              case IsNotNull(a: AttributeReference) => predRefs.contains(a.name)
              case _ => false
            })
          })
        }
    }
  }

  /** Build selectable for this aggregate: still fresh, Duplicate model,
    * scan is exactly the current covering rowset set,
    * dims cover grouping + residual filters (a filtered rollup additionally
    * requires its predicate to appear among the query's conjuncts).
    */
  private def covers(e: Build, agg: Aggregate, groupAttrs: Seq[AttributeReference],
      scan: ScanMatch.Scan): Boolean = {
    if (e.version != e.eng.manifest(e.db, e.table).maxVersion &&
      !freshForQueriedPartitions(e, scan)) return false
    if (!e.eng.catalog.getTable(e.db, e.table)
      .exists(_.schema.keysType == KeysType.Duplicate)) return false
    val expected = e.eng.coveringDirs(e.db, e.table)
    expected.nonEmpty && expected == scan.leafPaths &&
      // any alias the plan applies must be the engine's own physical→current
      // rename projection, never a user relabeling (see ScanMatch.renamesOk)
      ScanMatch.renamesOk(e.eng, e.db, e.table, scan.renames) &&
      groupAttrs.forall(a => e.rd.groupCols.contains(a.name)) &&
      residualFilters(e, scan).exists(
        _.forall(_.references.forall(a => e.rd.groupCols.contains(a.name))))
  }

  /** Partition-scoped staleness (the per-partition `rollup_indexes`
    * granularity the reference declares at src/partition.rs:74-75): a load
    * that landed ONLY in partitions the query excludes does not stale the
    * rollup FOR THIS QUERY. Holds exactly when:
    *  - the table is partitioned and the partition column is a rollup dim
    *    (so the stored rows are partition-scoped and the filter replays);
    *  - the query pins the partition column to literal value(s) whose owning
    *    partitions no post-materialization rowset touches (physical
    *    `__graft_part=` dirs are the ground truth; a DELETE marker has no
    *    dirs and may mask any partition, so it always stales).
    * Everything else about `covers` still applies — in particular the query
    * scan must be the CURRENT covering snapshot, so this never serves a
    * stale plan; it only recognizes that the new data cannot reach the
    * queried partitions.
    */
  private def freshForQueriedPartitions(e: Build, scan: ScanMatch.Scan): Boolean = {
    val td = e.eng.catalog.getTable(e.db, e.table).getOrElse(return false)
    val partCol = td.partitionColumn.getOrElse(return false)
    if (!e.rd.groupCols.contains(partCol)) return false
    val conjuncts = scan.filters.flatMap(splitAnd)
    val values: Set[String] = conjuncts.collectFirst {
      case EqualTo(a: AttributeReference, Literal(v, _)) if a.name == partCol && v != null =>
        Set(v.toString)
      case EqualTo(Literal(v, _), a: AttributeReference) if a.name == partCol && v != null =>
        Set(v.toString)
      case In(a: AttributeReference, vs) if a.name == partCol &&
          vs.forall(x => x.isInstanceOf[Literal] && x.asInstanceOf[Literal].value != null) =>
        vs.map(_.asInstanceOf[Literal].value.toString).toSet
    }.getOrElse(return false)
    // unroutable values can hold no rows in ANY rowset — they constrain nothing
    val queried = values.flatMap(v =>
      td.policy.findPartition(td.partitions, v).map(_.name))
    val newer = e.eng.manifest(e.db, e.table).visibleRowsets
      .filter(_.version.end > e.version)
    newer.nonEmpty && newer.forall { r =>
      !r.isDeleteMarker && partitionsTouched(e, r).intersect(queried).isEmpty
    }
  }

  /** Physical partitions a rowset wrote, from its `__graft_part=` dirs. */
  private def partitionsTouched(e: Build, r: graft.manifest.RowsetMeta): Set[String] = {
    import scala.jdk.CollectionConverters._
    val dir = e.eng.tableRoot(e.db, e.table).resolve(r.relDir)
    if (!java.nio.file.Files.isDirectory(dir)) Set.empty
    else java.nio.file.Files.list(dir).iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("__graft_part="))
      .map(_.getFileName.toString.stripPrefix("__graft_part="))
      .toSet
  }
}
