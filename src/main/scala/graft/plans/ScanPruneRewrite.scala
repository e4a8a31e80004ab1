package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.{BucketType, PartitionPolicy, RangeBound, TableDef}
import graft.manifest.{ColStats, RowsetBloom, RowsetMeta}

/** Transparent scan pruning: the reference's three skipping tiers — FNV-1a
  * hash buckets (src/partition.rs:28-47), Range/List partitions
  * (src/partition.rs:172-189, which routes writes but never prunes reads) and
  * segment zone maps with bloom filters (src/index/mod.rs:61-108, 152-211) —
  * applied to reads as ONE metadata decision per scanned rowset.
  *
  * An engine snapshot is a union of per-rowset parquet scans, and by the time
  * user rules run Catalyst has pushed the query's filter down onto each of
  * them. The rule matches `Filter(cond, relation)`, through any layout filters
  * it injected earlier, resolves the rowset dir through [[TableRegistry]] once
  * and decides, in order:
  *  1. Rowset: when [[refutes]] proves `cond` false for every row of the
  *     rowset (zone map, bloom or n-gram sidecar), the branch becomes an
  *     empty [[LocalRelation]] with the same output — no listing, no footer
  *     read, no task.
  *  2. Layout: `=`/`IN` on a hash-bucketed table's bucket key pins
  *     `__graft_bucket` to the keys' buckets, and a comparison on a Range/List
  *     table's partition column pins `__graft_part` to the partitions whose
  *     slot can match; Spark's partition pruning then skips whole directories.
  *     A pin is added unless `cond`'s own `=`/`IN` conjuncts on that column
  *     already hold it to a subset of the allowed values. That is the one
  *     "already pruned" test: a delete mask (`NOT __graft_part = …`) does not
  *     pass it, and an injected pin still does after Spark's OptimizeIn and
  *     CombineFilters rewrite it. An empty allowed set empties the branch.
  *
  * Every rewrite is exact: a pin is implied by `cond` under the routing the
  * write path used, an empty branch is the node's actual output, and the
  * original row filter still runs. Each decision bails on its own: an
  * exception logs a warning and leaves that decision out, never failing the
  * query. A dir no registered table lists is scanned whole.
  */
object ScanPruneRewrite extends Rule[LogicalPlan] {

  private val BucketCol = "__graft_bucket"
  private val PartCol = "__graft_part"

  /** A parquet relation beneath any stack of graft layout filters, with the
    * peeled conditions (pins this rule injected, delete masks on `__graft_*`).
    */
  private object Scan {
    def unapply(p: LogicalPlan): Option[(LogicalRelation, Seq[Expression])] = p match {
      case lr: LogicalRelation => Some((lr, Nil))
      case Filter(c, child) if c.references.forall(_.name.startsWith("__graft_")) =>
        unapply(child).map { case (lr, cs) => (lr, c +: cs) }
      case _ => None
    }
  }

  /** `attr op literal` with the attribute on the left: comparisons either way
    * round, and `<=>` against a non-null literal as `=`.
    */
  private object Cmp {
    private val flip = Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")
    def unapply(e: Expression): Option[(AttributeReference, String, Literal)] = e match {
      case b: BinaryComparison =>
        val op = if (b.symbol != "<=>") Some(b.symbol)
          else Seq(b.left, b.right).collectFirst { case l: Literal if l.value != null => "=" }
        (b.left, b.right) match {
          case (a: AttributeReference, l: Literal) => op.map((a, _, l))
          case (l: Literal, a: AttributeReference) => op.map(o => (a, flip(o), l))
          case _ => None
        }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!TableRegistry.readsAny(plan)) plan
    else plan.transformUp { case f @ Filter(_, Scan(lr, peeled)) => prune(f, lr, peeled) }

  /** The parquet dirs a relation reads; empty for any other relation. */
  private def dirsOf(lr: LogicalRelation): Seq[String] = lr.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath).distinct
    case _ => Nil
  }

  private def prune(f: Filter, lr: LogicalRelation, peeled: Seq[Expression]): LogicalPlan = {
    val dirs = dirsOf(lr)
    if (dirs.isEmpty) return f
    lazy val table = TableRegistry.ofDirs(dirs)
    val refuted = guard("rowset", false)(dirs match {
      case Seq(dir) => table.flatMap(_.rowsetAt(dir)).exists(refutes(f.condition, dir, _))
      case _ => false
    })
    if (refuted) return LocalRelation(f.output)
    val cs = conjuncts(f.condition) ++ peeled.flatMap(conjuncts)
    lazy val td = table.flatMap(_.definition)
    val decided = Seq(
      BucketCol -> guard("bucket", Option.empty[Seq[Literal]])(td.flatMap(bucketPin(_, cs, dirs))),
      PartCol -> guard("partition", Option.empty[Seq[Literal]])(td.flatMap(partitionPin(_, cs))))
    val needed = decided.collect { case (c, Some(allowed))
        if !pinned(cs, c).exists(vs => strings(vs).subsetOf(strings(allowed))) => (c, allowed) }
    if (needed.exists(_._2.isEmpty)) return LocalRelation(f.output)
    val pins = needed.flatMap { case (c, allowed) =>
      lr.output.find(_.name == c).map(a =>
        if (allowed.size == 1) EqualTo(a, allowed.head) else In(a, allowed))
    }
    if (pins.isEmpty) f else Filter(f.condition, Filter(pins.reduce(And), f.child))
  }

  private def guard[T](decision: String, default: T)(body: => T): T =
    try body catch { case e: Exception => // never fail a query over a missed prune
      logWarning(s"$decision prune bailed: $e"); default }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def strings(ls: Seq[Literal]): Set[String] = ls.map(_.value.toString).toSet

  /** The non-null values `cs`'s `=` / `IN` conjuncts on column `name` allow
    * (OptimizeIn's `InSet` form included), intersected across conjuncts;
    * None when no such conjunct exists.
    */
  private def pinned(cs: Seq[Expression], name: String): Option[Seq[Literal]] =
    cs.collect {
      case Cmp(a, "=", l) if a.name == name => Seq(l)
      case In(a: AttributeReference, ls) if a.name == name &&
          ls.forall(_.isInstanceOf[Literal]) => ls.map(_.asInstanceOf[Literal])
      case InSet(a: AttributeReference, hs) if a.name == name =>
        hs.toSeq.map(Literal(_, a.dataType))
    }.map(_.filter(_.value != null))
      .reduceOption { (x, y) => val ys = strings(y); x.filter(l => ys(l.value.toString)) }

  /** Buckets the key's `=`/`IN` conjuncts route to, with the SAME driver-side
    * FNV the write path used. Only hash buckets route (random buckets carry
    * no key), and only integral and string literals, whose string form equals
    * the write path's `cast(key as string)` (a double's "1.0" would not).
    * Layout guard: every scanned rowset must be written under the CURRENT
    * bucket layout (rowset ids from `bucketLayoutFloor` on, set by
    * [[graft.engine.OlapEngine.rebucket]]); a time-travel scan of an older
    * layout stays unpruned.
    */
  private def bucketPin(td: TableDef, cs: Seq[Expression],
      dirs: Seq[String]): Option[Seq[Literal]] = {
    if (td.bucketType != BucketType.Hash) return None
    val key = td.bucketColumn.getOrElse(return None)
    val current = td.bucketLayoutFloor <= 0L || dirs.forall { d =>
      val seg = java.nio.file.Paths.get(d).getFileName.toString
      seg.length > 1 && seg.startsWith("r") && seg.drop(1).forall(_.isDigit) &&
        seg.drop(1).toLong >= td.bucketLayoutFloor
    }
    if (!current) return None
    pinned(cs, key).filter(_.forall(l => routable(l.dataType))).map(ls =>
      ls.map(l => td.bucketType.bucketForKey(l.value.toString, td.numBuckets))
        .distinct.sorted.map(b => Literal(b)))
  }

  private def routable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** One partition's routing slot: [lower, upper) in routing-string space
    * (None = unbounded), or an explicit value list.
    */
  private final case class Slot(name: String, lower: Option[String], upper: Option[String],
      values: Seq[String])

  /** The routing slots of `td`'s live partitions, or None when the table is
    * unpartitioned or its partition column is not string-order-safe. The
    * engine routes by STRING comparison of the cast partition key
    * (src/partition.rs:180-184), so interval math is only sound where string
    * order equals typed order (string / date / timestamp — ISO forms); an
    * integral key would break at "10" < "9". Slots are read from the live
    * [[TableDef]], so ADD/DROP PARTITION take effect on the next plan.
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
    if (s.values.nonEmpty) op != "=" || s.values.contains(lit)
    else op match {
      case "=" => s.lower.forall(_ <= lit) && s.upper.forall(lit < _)
      case "<" => s.lower.forall(_ < lit)
      case "<=" => s.lower.forall(_ <= lit)
      case ">" | ">=" => s.upper.forall(lit < _)
      case _ => true
    }

  /** The live partitions whose slot every partition-column conjunct can
    * match — a SUPERSET of those holding matching rows (boundary overlaps
    * stay in). None when no conjunct narrows the set.
    */
  private def partitionPin(td: TableDef, cs: Seq[Expression]): Option[Seq[Literal]] = {
    val pc = td.partitionColumn.getOrElse(return None)
    val ranges = cs.collect { case Cmp(a, op, l) if a.name == pc && op != "=" =>
      routingString(l).map(v => (s: Slot) => mayMatch(s, op, v))
    }.flatten
    val points = pinned(cs, pc).map(ls => (s: Slot) =>
      ls.flatMap(routingString).exists(mayMatch(s, "=", _)))
    val tests = ranges ++ points
    if (tests.isEmpty) return None
    val all = slots(td).getOrElse(return None)
    val names = all.filter(s => tests.forall(_(s))).map(_.name)
    if (names.size == all.size) None else Some(names.sorted.map(n => Literal(n)))
  }

  /** The one rowset-pruning predicate: is `cond` provably false for every
    * row of rowset `r`, whose files sit in `dir`? True when some
    * deterministic conjunct is refuted by the zone map or a bloom or n-gram
    * sidecar. Attribute names are read as the rowset's physical column
    * names. This rule calls it per scan branch at optimization;
    * [[graft.engine.OlapEngine.lookupByKey]] calls it per covering rowset
    * before it builds the union.
    */
  def refutes(cond: Expression, dir: String, r: RowsetMeta): Boolean =
    conjuncts(cond).exists(c => c.deterministic && disjoint(c, dir, r))

  /** Introspection twin of the rowset decision (`EXPLAIN PRUNE`): for every
    * rowset-scan branch of a plan optimized WITH THIS RULE EXCLUDED, the
    * decision the rule would make — `(rowset dir, Some("zone-map" | "bloom"
    * | "ngram") if pruned, None if scanned)`. The caller excludes the rule so
    * the pruned branches still EXIST to be inspected (an enabled run replaces
    * them with empty relations). Tier attribution: a conjunct refuted by
    * stats alone reports "zone-map"; one that needed the bloom sidecar
    * "bloom"; one that needed the trigram sidecar "ngram".
    */
  def explain(plan: LogicalPlan): Seq[(String, Option[String])] =
    plan.collect {
      case Filter(cond, Scan(lr, _)) =>
        dirsOf(lr) match {
          case Seq(dir) => TableRegistry.ofDirs(Seq(dir)).flatMap(_.rowsetAt(dir)).map { r =>
            val cs = conjuncts(cond).filter(_.deterministic)
            val zone = cs.exists(c =>
              disjoint(c, dir, r, useBloom = false, useNgram = false))
            val bloom = zone || cs.exists(c => disjoint(c, dir, r, useNgram = false))
            val full = bloom || cs.exists(c => disjoint(c, dir, r))
            val reason = if (zone) Some("zone-map")
              else if (bloom) Some("bloom")
              else if (full) Some("ngram") else None
            (dir, reason)
          }
          case _ => None
        }
    }.flatten

  /** Comparison space of an attribute's type; the zone map's `kind`s this
    * space may read. Integral stats widen into the double space (a column
    * type widened int→double still compares correctly); nothing else mixes.
    */
  private def space(dt: DataType): Option[(String, Set[String])] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType =>
      Some(("i", Set("i")))
    case FloatType | DoubleType => Some(("f", Set("i", "f")))
    case StringType => Some(("s", Set("s")))
    case _ => None
  }

  /** Literal's value projected into its comparison space: Long / Double /
    * UTF8String. None = null or unsupported.
    */
  private def litValue(l: Literal): Option[Any] = Option(l.value).flatMap { v =>
    l.dataType match {
      case ByteType => Some(v.asInstanceOf[Byte].toLong)
      case ShortType => Some(v.asInstanceOf[Short].toLong)
      case IntegerType | DateType => Some(v.asInstanceOf[Int].toLong)
      case LongType | TimestampType => Some(v.asInstanceOf[Long])
      case FloatType =>
        val d = v.asInstanceOf[Float].toDouble
        if (d.isNaN) None else Some(d)
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (d.isNaN) None else Some(d)
      case StringType => Some(v.asInstanceOf[UTF8String])
      case _ => None
    }
  }

  /** cmp(statValue, literal) in the literal's space. */
  private def cmpStat(kind: String, stat: String, lit: Any): Int = lit match {
    case l: Long => java.lang.Long.compare(stat.toLong, l)
    case d: Double =>
      java.lang.Double.compare(if (kind == "i") stat.toLong.toDouble else stat.toDouble, d)
    case s: UTF8String => UTF8String.fromString(stat).compareTo(s)
    case other => throw new IllegalStateException(s"bad literal space $other")
  }

  /** Is this conjunct provably unsatisfiable for every row of the rowset?
    * `useBloom = false` / `useNgram = false` restrict the proof to the lower
    * tiers — the introspection path uses them to attribute WHICH tier pruned.
    */
  private def disjoint(c: Expression, dir: String, r: RowsetMeta,
      useBloom: Boolean = true, useNgram: Boolean = true): Boolean = {
    def stats(a: AttributeReference): Option[ColStats] =
      space(a.dataType).flatMap { case (_, okKinds) =>
        r.stats.get(a.name).filter(s => okKinds.contains(s.kind))
      }
    // a comparison needs a non-null value; an all-null column satisfies none
    def bounds(a: AttributeReference): Option[(ColStats, String, String)] =
      stats(a).flatMap(s => (s.min, s.max) match {
        case (Some(mn), Some(mx)) => Some((s, mn, mx))
        case _ => None
      })
    def allNull(a: AttributeReference): Boolean =
      stats(a).exists(s => s.min.isEmpty && s.max.isEmpty &&
        s.nullCount >= r.numRows && r.numRows > 0)

    // bloom probe: every literal provably absent from the rowset's bloom
    // sidecar. Hash = the SAME Catalyst XxHash64 (seed 42) the build side
    // used; typeTag must match the attribute's physical type (a widened
    // column's old sidecars hash a different byte form — skip, never trust).
    // False negatives are impossible by construction, so pruning is exact.
    def bloomExcludes(a: AttributeReference, ls: Seq[Literal]): Boolean =
      useBloom && r.bloomCols.contains(a.name) &&
        RowsetBloom.load(dir, a.name).exists { b =>
          b.typeTag == a.dataType.catalogString && ls.nonEmpty && ls.forall { l =>
            // a null element never matches (IN yields null, not true)
            l.value == null || (l.dataType == a.dataType && !b.mightContain(
              new XxHash64(Seq(l), 42L).eval(null).asInstanceOf[Long]))
          }
        }

    // trigram probe: the needle has ≥ 3 chars and SOME 3-gram of it is
    // provably absent from the rowset's ngram sidecar — then no stored
    // value can contain the needle (containment requires every gram).
    // Slicing is UTF8String character indexing, the same space Spark's
    // `substring` used at build time; hashing is the same Catalyst
    // XxHash64(seed 42). typeTag pins gram width + type.
    def ngramLit(a: AttributeReference, l: Literal): Boolean = {
      val n = RowsetBloom.NgramSize
      useNgram && a.dataType == StringType && l.dataType == StringType &&
        l.value != null && r.ngramCols.contains(a.name) && {
          val needle = l.value.asInstanceOf[UTF8String]
          needle.numChars >= n &&
            RowsetBloom.load(dir, a.name, RowsetBloom.KindNgram).exists { b =>
              b.typeTag == s"ngram$n:string" && (0 to needle.numChars - n).exists { i =>
                val g = needle.substring(i, i + n)
                !b.mightContain(new XxHash64(Seq(Literal(g, StringType)), 42L)
                  .eval(null).asInstanceOf[Long])
              }
            }
        }
    }

    def outside(s: ColStats, mn: String, mx: String, v: Any): Boolean =
      cmpStat(s.kind, mn, v) > 0 || cmpStat(s.kind, mx, v) < 0

    c match {
      case Cmp(a, "=", l) =>
        allNull(a) || litValue(l).exists(v => bounds(a).exists { case (s, mn, mx) =>
          outside(s, mn, mx, v)
        }) || bloomExcludes(a, Seq(l)) || ngramLit(a, l)
      case Cmp(a, op, l) =>
        allNull(a) || litValue(l).exists(v => bounds(a).exists { case (s, mn, mx) =>
          op match {
            case "<" => cmpStat(s.kind, mn, v) >= 0 // min >= lit: no row < lit
            case "<=" => cmpStat(s.kind, mn, v) > 0
            case ">" => cmpStat(s.kind, mx, v) <= 0
            case ">=" => cmpStat(s.kind, mx, v) < 0
          }
        })
      case In(a: AttributeReference, ls)
          if ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
        allNull(a) || bounds(a).exists { case (s, mn, mx) =>
          ls.forall(l => litValue(l.asInstanceOf[Literal]).forall(outside(s, mn, mx, _)))
        } || bloomExcludes(a, ls.map(_.asInstanceOf[Literal]))
      case IsNull(a: AttributeReference) =>
        stats(a).exists(_.nullCount == 0) && r.numRows > 0
      case IsNotNull(a: AttributeReference) => allNull(a)
      case StartsWith(a: AttributeReference, l: Literal) if l.value != null =>
        // v startsWith p ⇒ p <= v < nextPrefix(p); disjoint when the whole
        // zone map sits outside that interval
        allNull(a) || bounds(a).exists { case (s, mn, mx) =>
          val p = l.value.asInstanceOf[UTF8String]
          s.kind == "s" && p.numBytes > 0 &&
            (UTF8String.fromString(mx).compareTo(p) < 0 ||
              nextPrefix(p).exists(np => UTF8String.fromString(mn).compareTo(np) >= 0))
        // a prefix is also a contained substring — the trigram index
        // refutes it when any of its grams is absent
        } || ngramLit(a, l)
      // LIKE '%needle%': Catalyst's LikeSimplification rewrites it to
      // Contains in the same optimization batch this rule runs in
      case Contains(a: AttributeReference, l: Literal) => allNull(a) || ngramLit(a, l)
      case EndsWith(a: AttributeReference, l: Literal) => allNull(a) || ngramLit(a, l)
      case _ => false
    }
  }

  /** Smallest string strictly greater than every string with prefix `p`:
    * increment the last non-0xFF byte, drop the tail. None when all bytes
    * are 0xFF (unbounded above).
    */
  private def nextPrefix(p: UTF8String): Option[UTF8String] = {
    val bytes = p.getBytes.clone()
    var i = bytes.length - 1
    while (i >= 0 && bytes(i) == 0xFF.toByte) i -= 1
    if (i < 0) None
    else {
      bytes(i) = (bytes(i) + 1).toByte
      Some(UTF8String.fromBytes(java.util.Arrays.copyOf(bytes, i + 1)))
    }
  }
}
