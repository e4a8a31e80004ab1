package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}


/** Stats-informed join planning — broadcast a MERGED engine dimension when
  * the manifest's own statistics prove the post-merge side is small, even
  * though Spark's size estimate says it is big.
  *
  * The gap this closes: Spark decides broadcast-vs-shuffle from file-size
  * based `sizeInBytes`, which for a Unique table's merge-on-read view is the
  * RAW bytes of every visible rowset. A heavily-updated dimension (the
  * classic OLAP shape: full refresh upserts, CDC churn) carries N× its live
  * size in superseded versions, so Spark sees "too big", picks a sort-merge
  * join, and shuffles the entire fact side — at 100 TB the single most
  * expensive wrong decision a plan can make. The engine, however, KNOWS the
  * post-merge cardinality: every rowset writes a DataSketches HLL NDV
  * sidecar per declared stats column ([[graft.manifest.NdvSketch]]), and the
  * merge view emits at most one row per distinct key, so
  * `rows ≤ ∏ NDV(key_i)` folds from metadata alone — no scan, no sampling.
  *
  * The rule finds a join side that is (a chain of row-preserving or
  * row-reducing operators over) an `Aggregate` whose grouping attributes all
  * trace to NDV-sketched columns of ONE registered engine table's current
  * snapshot scan, bounds its output size by `∏(NDV_i + 1) × rowBytes ×
  * Safety`, and when that bound fits under
  * `spark.sql.autoBroadcastJoinThreshold` — while Spark's own estimate does
  * not — plants a BROADCAST hint on that side. Strategy hints never change
  * results, so the blast radius of an estimate error is memory pressure,
  * bounded by the HLL's ~1.6% relative error times the safety margin.
  *
  * Soundness of the row bound:
  *  - an Aggregate emits at most one row per distinct grouping tuple, and
  *    distinct tuples ≤ ∏ per-column distinct values — regardless of how
  *    many times the input multiplies rows below;
  *  - operators stripped above the Aggregate (Project/Filter/Sort/Limit/
  *    Window/Repartition/alias) never increase row count;
  *  - grouping attrs must trace through value-preserving steps only (bare
  *    attributes, aliases, casts — a deterministic single-input function
  *    maps distinct inputs to at most as many distinct outputs) down to the
  *    relation column; `+1` per column absorbs a null group introduced by
  *    union null-fill;
  *  - the scan's leaf dirs must be a SUBSET of the table's current covering
  *    data dirs — a time-travel scan over stale rowsets (whose keys may
  *    since have vanished) never matches, and a partition/bucket-pruned scan
  *    only shrinks the true set.
  *
  * Anything unprovable leaves the plan untouched; the shuffle join is always
  * correct. Respects `autoBroadcastJoinThreshold <= 0` (user disabled
  * broadcasts) and any explicit per-side hint already present.
  */
object StatsBroadcastRewrite extends Rule[LogicalPlan] {

  /** Inflation over the metadata fold: HLL relative error (~1.6% at lgK=12)
    * plus headroom for the defaultSize-based row width being approximate.
    */
  private val Safety = 1.25

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!TableRegistry.readsAny(plan)) plan
    else {
      val threshold = conf.autoBroadcastJoinThreshold
      if (threshold <= 0) plan
      else plan.transformUp {
        case j: Join =>
          try hintJoin(j, threshold)
          catch { case e: Exception => // never fail a query over a missed hint
            logWarning(s"stats-broadcast rewrite bailed: $e"); j }
      }
    }

  private def hintJoin(j: Join, threshold: Long): Join = {
    // which side may legally be the broadcast build side for this join type
    def buildRightOk = j.joinType match {
      case _: InnerLike | LeftOuter | LeftSemi | LeftAnti => true
      case _: ExistenceJoin => true
      case _ => false
    }
    def buildLeftOk = j.joinType match {
      case _: InnerLike | RightOuter => true
      case _ => false
    }
    def upgraded(side: LogicalPlan, existing: Option[HintInfo],
                 legal: Boolean): Option[HintInfo] =
      if (existing.nonEmpty || !legal) existing
      // Spark already broadcasts this side on its own estimate — stay out
      else if (side.stats.sizeInBytes <= threshold) existing
      else estimatedBytes(side) match {
        case Some(est) if est <= threshold =>
          Some(HintInfo(strategy = Some(BROADCAST)))
        case _ => existing
      }
    val lh = upgraded(j.left, j.hint.leftHint, buildLeftOk)
    val rh = upgraded(j.right, j.hint.rightHint, buildRightOk)
    if (lh == j.hint.leftHint && rh == j.hint.rightHint) j
    else j.copy(hint = JoinHint(lh, rh))
  }

  /** Metadata-only size bound for a plan subtree, or None when no sound
    * bound is provable. Public so audits/specs can pin the fold the rule
    * decides with.
    */
  def estimatedBytes(side: LogicalPlan): Option[Double] = {
    val agg = findAggregate(side).getOrElse(return None)
    val cols = boundColumns(agg).getOrElse(return None)
    val ndvs = cols.map { case (t, c) =>
      cachedNdv(t, c).getOrElse(return None)
    }
    val rowBound = ndvs.map(_ + 1.0).product
    val rowBytes = (8 + side.output.map(_.dataType.defaultSize).sum).toDouble
    Some(rowBound * rowBytes * Safety)
  }

  // The NDV fold reads one sidecar file per covering rowset — on a remote
  // FS that's a round-trip per rowset per JOIN OPTIMIZATION. A manifest
  // version bump invalidates naturally (the key carries maxVersion, and
  // rowset sets only change with a version move), so the fold runs once
  // per (table snapshot, column) per driver, not once per query.
  private val ndvCache = TrieMap.empty[(String, Long, String), Option[Double]]

  private def cachedNdv(t: TableRegistry.Table, c: String): Option[Double] =
    ndvCache.getOrElseUpdate(
      // table ROOT (not db.table): scratch engines in different warehouses
      // may reuse the same qualified name
      (t.root.toAbsolutePath.normalize.toString, t.manifest.maxVersion, c),
      t.eng.approxNdv(t.db, t.name, c))

  /** Strip row-preserving / row-reducing operators down to a grouped
    * Aggregate; anything that can EXPAND rows (Generate, Expand, a join)
    * refuses the match.
    */
  private def findAggregate(p: LogicalPlan): Option[Aggregate] = p match {
    case a: Aggregate if a.groupingExpressions.nonEmpty => Some(a)
    case u: UnaryNode => u match {
      case _: Project | _: Filter | _: Sort | _: SubqueryAlias |
           _: GlobalLimit | _: LocalLimit | _: Window |
           _: RepartitionOperation =>
        findAggregate(u.child)
      case _ => None
    }
    case _ => None
  }

  /** For each grouping expression of `agg`, the registered table + CURRENT
    * column name whose NDV bounds it — or None if any grouping expr fails
    * to trace to a sketched column of one registered table's current
    * snapshot.
    */
  private def boundColumns(agg: Aggregate): Option[Seq[(TableRegistry.Table, String)]] = {
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    if (groupAttrs.isEmpty) return None
    val (leafDirs, physNames) = trace(agg.child, groupAttrs).getOrElse(return None)
    val t = TableRegistry.ofDirs(leafDirs).getOrElse(return None)
    val td = t.definition.getOrElse(return None)
    // freshness guard: every scanned dir must belong to the CURRENT covering
    // data set — the NDV fold describes now, not a stale snapshot whose keys
    // may since have been deleted
    if (!leafDirs.subsetOf(t.eng.coveringDirs(t.db, t.name))) return None
    Some(physNames.map { names =>
      // each branch saw its era's physical name; all must map to ONE
      // current declared column (renameColumn is metadata-only)
      val curr = names.map(n => td.renamedColumns.getOrElse(n, n))
      if (curr.size != 1) return None
      val c = curr.head
      if (!td.schema.columns.exists(_.name == c)) return None
      (t, c)
    })
  }

  /** Trace `attrs` through the scan subtree to per-relation physical column
    * names, collecting leaf rowset dirs. Allowed nodes are exactly the
    * shapes [[OlapEngine.scan]]'s raw union emits (projects with attribute /
    * alias / cast / literal entries, deterministic filters, unions, parquet
    * relations); a traced attr must resolve through value-preserving
    * expressions only.
    */
  private def trace(plan: LogicalPlan, attrs: Seq[Attribute])
      : Option[(Set[String], Seq[Set[String]])] = plan match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        val names = attrs.map { a =>
          lr.output.find(_.exprId == a.exprId) match {
            case Some(o) => Set(o.name)
            case None => return None
          }
        }
        Some((fs.location.rootPaths.map(_.toUri.getPath).toSet, names))
      case _ => None
    }
    case p: Project =>
      val mapped = attrs.map { a =>
        p.projectList.find(_.toAttribute.exprId == a.exprId) match {
          case Some(ar: AttributeReference) => ar
          case Some(Alias(ar: AttributeReference, _)) => ar
          case Some(Alias(c: Cast, _)) => c.child match {
            case ar: AttributeReference => ar
            case _ => return None
          }
          case _ => return None
        }
      }
      trace(p.child, mapped)
    case f: Filter if f.condition.deterministic => trace(f.child, attrs)
    case s: SubqueryAlias => trace(s.child, attrs)
    case u: Union if !u.byName =>
      val idxs = attrs.map { a =>
        val i = u.output.indexWhere(_.exprId == a.exprId)
        if (i < 0) return None else i
      }
      val parts = u.children.map(c => trace(c, idxs.map(i => c.output(i))))
      if (parts.exists(_.isEmpty)) None
      else Some((
        parts.flatMap(_.get._1).toSet,
        idxs.indices.map(k => parts.flatMap(_.get._2(k)).toSet)))
    case _ => None
  }
}
