package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.catalog.{PartitionPolicy, RangeBound, TableDef}

/** Transparent PARTITION pruning — the query-time completion of the engine's
  * Range/List partition routing (reference src/partition.rs:172-189, which
  * routes writes but never prunes reads): a filter on the PARTITION COLUMN
  * (`=`, `<`, `<=`, `>`, `>=`, `IN`) maps to the set of partitions whose
  * range/values can intersect it, and the scan gets a `__graft_part IN (…)`
  * filter — so whole partition directories are skipped before any file
  * opens. [[graft.engine.OlapEngine.scanPartitions]] already does this for
  * callers who name partitions; this rule serves the far more common query
  * (`WHERE order_date < '1997-01-01'`) with zero API.
  *
  * Correctness contract: the engine routes by STRING comparison of the cast
  * partition key (src/partition.rs:180-184 semantics), so the rule compares
  * in the same string space and only prunes on columns whose string order
  * equals their typed order (string / date / timestamp — ISO forms). The
  * computed partition set is a SUPERSET of the partitions that can hold
  * matching rows (boundary overlaps stay included); the original row filter
  * still runs, so pruning can never change an answer. The slots are read
  * from the live [[TableDef]] at plan time, so ADD/DROP PARTITION take
  * effect on the next plan.
  */
object PartitionPruneRewrite extends Rule[LogicalPlan] {

  private val PartCol = "__graft_part"

  /** One partition's routing slot: [lower, upper) in routing-string space
    * (None = unbounded), or an explicit value list.
    */
  final case class Slot(name: String, lower: Option[String], upper: Option[String],
      values: Seq[String])

  /** The routing slots of `td`'s live partitions, or None when the table
    * is unpartitioned or its partition column is not string-order-safe
    * (string / date / timestamp — the routing compares string casts, so the
    * interval math is only meaningful when string order equals typed order;
    * an integral partition key would break at "10" < "9").
    */
  private def slots(td: TableDef): Option[Seq[Slot]] = {
    val safe = td.partitionColumn.exists(pc =>
      td.schema.columns.find(_.name == pc).map(_.dataType).exists {
        case StringType | DateType | TimestampType => true
        case _ => false
      })
    if (!safe) return None
    td.policy match {
      case PartitionPolicy.Range =>
        // lower bound of each slot = the next rung DOWN in the full
        // (active + dropped) ladder — rows below it routed elsewhere
        val ladder = (td.partitions.map((_, true)) ++ td.droppedPartitions.map((_, false)))
          .sortBy(_._1.upperExclusive.getOrElse(RangeBound.MaxValue))
        Some(ladder.zipWithIndex.collect { case ((p, live), i) if live =>
          Slot(p.name, lower = if (i == 0) None else ladder(i - 1)._1.upperExclusive,
            upper = p.upperExclusive, values = Nil)
        })
      case PartitionPolicy.List =>
        Some(td.partitions.map(p => Slot(p.name, None, None, p.listValues)))
      case PartitionPolicy.Unpartitioned => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!TableRegistry.readsAny(plan)) plan
    else plan.transformUp {
      // match the relation directly, or through a pruning filter another
      // graft rule (bucket pruning) already injected below the user filter
      case f @ Filter(cond, lr: LogicalRelation) =>
        try prune(cond, lr).map(pf => Filter(cond, Filter(pf, lr))).getOrElse(f)
        catch { case e: Exception => // never fail a query over a missed prune
          logWarning(s"partition prune bailed: $e"); f }
      case f @ Filter(cond, inner @ Filter(ic, lr: LogicalRelation))
          if ic.references.forall(_.name.startsWith("__graft_")) &&
            !ic.references.exists(_.name == PartCol) =>
        try prune(cond, lr).map(pf => Filter(cond, Filter(pf, inner))).getOrElse(f)
        catch { case e: Exception =>
          logWarning(s"partition prune bailed: $e"); f }
    }

  /** Routing-string form of a literal: the same `cast(key as string)` the
    * write path used (UTC, matching the engine session).
    */
  private def routingString(l: Literal): Option[String] =
    if (l.value == null) None
    else Option(Cast(l, StringType, Some("UTC")).eval(null)).map(_.toString)

  /** Can a slot contain a value satisfying `op lit`? Conservative: true
    * unless provably disjoint in routing-string space.
    */
  private def mayMatch(s: Slot, op: String, lit: String): Boolean =
    if (s.values.nonEmpty) op match {
      case "=" => s.values.contains(lit)
      case _ => true // range predicates over list partitions: keep all
    } else op match {
      case "=" => s.lower.forall(_ <= lit) && s.upper.forall(lit < _)
      case "<" => s.lower.forall(_ < lit)
      case "<=" => s.lower.forall(_ <= lit)
      case ">" | ">=" => s.upper.forall(lit < _)
      case _ => true
    }

  private def prune(cond: Expression, lr: LogicalRelation): Option[Expression] = {
    if (cond.references.exists(_.name == PartCol)) return None
    val fs = lr.relation match {
      case h: HadoopFsRelation if h.partitionSchema.fieldNames.contains(PartCol) => h
      case _ => return None
    }
    val td = TableRegistry.ofDirs(fs.location.rootPaths.map(_.toUri.getPath))
      .flatMap(_.definition).getOrElse(return None)
    val partitionCol = td.partitionColumn.getOrElse(return None)
    val tableSlots = slots(td).getOrElse(return None)
    val partAttr = lr.output.find(_.name == PartCol).getOrElse(return None)

    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // intersect the allowed-slot sets across every conjunct on the column
    var allowed: Option[Set[String]] = None
    def restrict(pred: Slot => Boolean): Unit = {
      val s = tableSlots.filter(pred).map(_.name).toSet
      allowed = Some(allowed.fold(s)(_ intersect s))
    }
    conjuncts(cond).foreach {
      case EqualTo(a: AttributeReference, l: Literal) if a.name == partitionCol =>
        routingString(l).foreach(v => restrict(mayMatch(_, "=", v)))
      case EqualTo(l: Literal, a: AttributeReference) if a.name == partitionCol =>
        routingString(l).foreach(v => restrict(mayMatch(_, "=", v)))
      case LessThan(a: AttributeReference, l: Literal) if a.name == partitionCol =>
        routingString(l).foreach(v => restrict(mayMatch(_, "<", v)))
      case LessThanOrEqual(a: AttributeReference, l: Literal) if a.name == partitionCol =>
        routingString(l).foreach(v => restrict(mayMatch(_, "<=", v)))
      case GreaterThan(a: AttributeReference, l: Literal) if a.name == partitionCol =>
        routingString(l).foreach(v => restrict(mayMatch(_, ">", v)))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) if a.name == partitionCol =>
        routingString(l).foreach(v => restrict(mayMatch(_, ">=", v)))
      // reversed comparisons: lit OP col ≡ col OP' lit
      case LessThan(l: Literal, a: AttributeReference) if a.name == partitionCol =>
        routingString(l).foreach(v => restrict(mayMatch(_, ">", v)))
      case GreaterThan(l: Literal, a: AttributeReference) if a.name == partitionCol =>
        routingString(l).foreach(v => restrict(mayMatch(_, "<", v)))
      case In(a: AttributeReference, ls) if a.name == partitionCol &&
          ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
        val vs = ls.flatMap(l => routingString(l.asInstanceOf[Literal]))
        if (vs.size == ls.size)
          restrict(s => vs.exists(v => mayMatch(s, "=", v)))
      case _ => ()
    }
    allowed match {
      // every candidate partition excluded (e.g. the range was dropped):
      // nothing can match — rows physically present are delete-masked anyway
      case Some(names) if names.isEmpty => Some(Literal(false, BooleanType))
      // only rewrite when something is actually pruned
      case Some(names) if names.size < tableSlots.size =>
        Some(In(partAttr, names.toSeq.sorted.map(n => Literal(n))))
      case _ => None
    }
  }
}
