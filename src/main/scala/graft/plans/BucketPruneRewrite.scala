package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** Transparent bucket pruning — the read-side completion of the reference's
  * FNV-1a hash bucketing (src/partition.rs:28-47): an equality (or IN) filter
  * on a table's bucket column routes to the bucket(s) that can hold those
  * keys, and the scan reads ONLY those hive `__graft_bucket=N` directories.
  *
  * [[graft.engine.OlapEngine.lookupByKey]] already does this when the caller
  * goes through the engine API; this rule removes that requirement: any plan
  * — DataFrame or SQL — filtering a registered hash-bucketed table's scan by
  * its bucket key is pruned. At 100 TB with 1024 buckets a point query reads
  * 1/1024 of each partition instead of all of it, before the parquet bloom
  * filter prunes further within the bucket.
  *
  * Mechanics: by the time user rules run, Catalyst has pushed the user's
  * filter down to sit directly on each rowset's parquet relation (through
  * the snapshot read's Project/Union). The rule matches
  * `Filter(cond, relation)` where the relation is hive-partitioned by
  * `__graft_bucket` and rooted in a registered table, extracts
  * `key = lit` / `key IN (lits)` conjuncts, routes each literal with the
  * SAME driver-side FNV the write path used, and inserts a
  * `__graft_bucket IN (...)` filter below — which partition pruning then
  * turns into directory-level pruning (no file of another bucket is opened).
  *
  * Only provably-safe cases fire: hash buckets (random buckets carry no key
  * routing), integral/string literals (whose Spark string form equals the
  * write path's `cast(key as string)`), and conjuncts at the top level of
  * the pushed-down condition.
  */
object BucketPruneRewrite extends Rule[LogicalPlan] {

  private val BucketCol = "__graft_bucket"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!TableRegistry.readsAny(plan)) plan
    else plan.transformUp {
      // match the relation directly, or through a pruning filter another
      // graft rule (partition pruning) already injected below the user filter
      case f @ Filter(cond, lr: LogicalRelation) =>
        try prune(cond, lr).map(bf => Filter(cond, Filter(bf, lr))).getOrElse(f)
        catch { case e: Exception => // never fail a query over a missed prune
          logWarning(s"bucket prune bailed: $e"); f }
      case f @ Filter(cond, inner @ Filter(ic, lr: LogicalRelation))
          if ic.references.forall(_.name.startsWith("__graft_")) &&
            !ic.references.exists(_.name == BucketCol) =>
        try prune(cond, lr).map(bf => Filter(cond, Filter(bf, inner))).getOrElse(f)
        catch { case e: Exception =>
          logWarning(s"bucket prune bailed: $e"); f }
    }

  /** The literal's routing string must equal what `cast(key as string)`
    * produced at write time — guaranteed for integrals and strings, not in
    * general (e.g. double "1.0" vs "1"), so only these types route.
    */
  private def routable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  private def keyString(l: Literal): Option[String] =
    if (l.value == null || !routable(l.dataType)) None else Some(l.value.toString)

  private def prune(cond: Expression, lr: LogicalRelation): Option[Expression] = {
    // already pruned (idempotence in the fixed-point batch)
    if (cond.references.exists(_.name == BucketCol)) return None
    val fs = lr.relation match {
      case h: HadoopFsRelation if h.partitionSchema.fieldNames.contains(BucketCol) => h
      case _ => return None
    }
    // every root path must be a rowset dir of ONE registered hash-bucketed table
    val td = TableRegistry.ofDirs(fs.location.rootPaths.map(_.toUri.getPath))
      .flatMap(_.definition).getOrElse(return None)
    if (td.bucketType != graft.catalog.BucketType.Hash) return None
    val bucketCol = td.bucketColumn.getOrElse(return None)
    def bucketForKey(k: String): Int = td.bucketType.bucketForKey(k, td.numBuckets)
    // layout guard: every scanned rowset must be written under the CURRENT
    // bucket layout (rowset ids from `bucketLayoutFloor` on, set by
    // OlapEngine.rebucket), else routing literals would point at wrong
    // directories — a time-travel scan of the old layout stays unpruned
    if (td.bucketLayoutFloor > 0L) {
      val allCurrent = fs.location.rootPaths.forall { p =>
        val seg = p.getName
        seg.length > 1 && seg.startsWith("r") &&
          seg.drop(1).forall(_.isDigit) &&
          seg.drop(1).toLong >= td.bucketLayoutFloor
      }
      if (!allCurrent) return None
    }
    val bucketAttr = lr.output.find(_.name == BucketCol).getOrElse(return None)

    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // buckets the filter allows for the key column; None = no key conjunct
    val allowed: Option[Seq[Int]] = conjuncts(cond).collectFirst {
      case EqualTo(a: AttributeReference, l: Literal) if a.name == bucketCol =>
        keyString(l).map(k => Seq(bucketForKey(k)))
      case EqualTo(l: Literal, a: AttributeReference) if a.name == bucketCol =>
        keyString(l).map(k => Seq(bucketForKey(k)))
      case In(a: AttributeReference, ls) if a.name == bucketCol &&
          ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
        val keys = ls.map(l => keyString(l.asInstanceOf[Literal]))
        if (keys.exists(_.isEmpty)) None
        else Some(keys.map(k => bucketForKey(k.get)).distinct)
    }.flatten
    allowed.map { bs =>
      if (bs.size == 1) EqualTo(bucketAttr, Literal(bs.head, IntegerType))
      else In(bucketAttr, bs.sorted.map(b => Literal(b, IntegerType)))
    }
  }
}
