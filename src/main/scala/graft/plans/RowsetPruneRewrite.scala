package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.manifest.{ColStats, RowsetMeta}

/** Transparent ROWSET pruning by manifest zone maps — the reference's
  * ZoneMapIndex (src/index/mod.rs:61-108) finally wired into reads, one
  * level above where the reference built it. An engine snapshot is a UNION
  * of per-rowset parquet scans; when a pushed-down filter's bounds are
  * provably disjoint from a rowset's stored min/max ([[graft.manifest
  * .StatsHarvest]], persisted in the manifest), that rowset's branch
  * collapses to an empty relation at OPTIMIZATION time — no directory
  * listing, no footer read, no task. Parquet's own row-group stats already
  * prune WITHIN a file; this tier prunes files that never open, which at
  * 100 TB with years of versioned loads is the difference between touching
  * one day's rowsets and all of them.
  *
  * Correctness: the rewrite is locally exact — `Filter(cond, scan)` is
  * replaced by an empty [[LocalRelation]] (same output attributes) ONLY when
  * no row of the rowset can satisfy `cond`: some deterministic conjunct's
  * bounds are disjoint from the zone map, or the conjunct needs a non-null
  * value from an all-null column. Stats bound the file contents by the
  * parquet writer's contract; a column absent from the map is UNKNOWN and
  * never prunes. Since the replacement equals the node's actual output,
  * whatever sits above (merge-on-read windows, delete masks, unions) is
  * untouched.
  *
  * Each rowset dir resolves through [[TableRegistry]] to its manifest entry
  * (visible, stale or clone-borrowed), so the stats are read live at plan
  * time; a dir no registered table lists is scanned.
  */
object RowsetPruneRewrite extends Rule[LogicalPlan] {

  /** The relation beneath any stack of graft-injected pruning filters
    * (bucket + partition pruning may each have nested one).
    */
  private object PeeledRelation {
    def unapply(p: LogicalPlan): Option[LogicalRelation] = p match {
      case lr: LogicalRelation => Some(lr)
      case Filter(ic, child)
          if ic.references.forall(_.name.startsWith("__graft_")) =>
        unapply(child)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!TableRegistry.readsAny(plan)) plan
    else plan.transformUp {
      case f @ Filter(cond, PeeledRelation(lr)) =>
        try { if (mustBeEmpty(cond, lr)) LocalRelation(f.output) else f }
        catch { case e: Exception => // never fail a query over a missed prune
          logWarning(s"rowset prune bailed: $e"); f }
    }

  private def mustBeEmpty(cond: Expression, lr: LogicalRelation): Boolean =
    rowsetOf(lr).exists { case (dir, r) => refutes(cond, dir, r) }

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

  /** The one rowset dir a relation reads and its manifest entry. */
  private def rowsetOf(lr: LogicalRelation): Option[(String, RowsetMeta)] =
    lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.map(_.toUri.getPath).distinct match {
          case Seq(dir) => TableRegistry.rowset(dir).map(r => (dir, r))
          case _ => None
        }
      case _ => None
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Introspection twin of the rewrite (`EXPLAIN PRUNE`): for every
    * rowset-scan branch of an OPTIMIZED-WITH-THE-RULE-DISABLED plan, the
    * decision the enabled rule would make — `(rowset dir, Some("zone-map" |
    * "bloom") if pruned, None if scanned)`. The caller disables the rule
    * while optimizing precisely so the pruned branches still EXIST to be
    * inspected (an enabled run replaces them with empty relations, erasing
    * the per-branch conditions). Tier attribution: a conjunct refuted by
    * stats alone reports "zone-map"; one that needed the sidecar reports
    * "bloom".
    */
  def explain(plan: LogicalPlan): Seq[(String, Option[String])] =
    plan.collect {
      case Filter(cond, PeeledRelation(lr)) =>
        rowsetOf(lr).map { case (dir, r) =>
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

  /** Literal's value projected into its comparison space: Left(long) /
    * Right-double encoded as Double / string. None = null or unsupported.
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
    * `useBloom = false` restricts the proof to zone maps — the introspection
    * path uses it to attribute WHICH tier pruned.
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
        graft.manifest.RowsetBloom.load(dir, a.name).exists { b =>
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
    def ngramExcludes(a: AttributeReference, needle: UTF8String): Boolean = {
      val n = graft.manifest.RowsetBloom.NgramSize
      useNgram && a.dataType == StringType && needle != null &&
        needle.numChars >= n && r.ngramCols.contains(a.name) &&
        graft.manifest.RowsetBloom.load(dir, a.name,
          graft.manifest.RowsetBloom.KindNgram).exists { b =>
          b.typeTag == s"ngram$n:string" && (0 to needle.numChars - n).exists { i =>
            val g = needle.substring(i, i + n)
            !b.mightContain(new XxHash64(Seq(Literal(g, StringType)), 42L)
              .eval(null).asInstanceOf[Long])
          }
        }
    }
    def ngramLit(a: AttributeReference, l: Literal): Boolean =
      l.dataType == StringType && l.value != null &&
        ngramExcludes(a, l.value.asInstanceOf[UTF8String])

    def eqDisjoint(a: AttributeReference, l: Literal): Boolean =
      allNull(a) || (litValue(l) match {
        case Some(v) => bounds(a).exists { case (s, mn, mx) =>
          cmpStat(s.kind, mn, v) > 0 || cmpStat(s.kind, mx, v) < 0
        }
        case None => false
      }) || bloomExcludes(a, Seq(l)) || ngramLit(a, l)

    def cmp(a: AttributeReference, l: Literal, op: String): Boolean =
      allNull(a) || (litValue(l) match {
        case Some(v) => bounds(a).exists { case (s, mn, mx) =>
          op match {
            case "<" => cmpStat(s.kind, mn, v) >= 0 // min >= lit: no row < lit
            case "<=" => cmpStat(s.kind, mn, v) > 0
            case ">" => cmpStat(s.kind, mx, v) <= 0
            case ">=" => cmpStat(s.kind, mx, v) < 0
          }
        }
        case None => false
      })

    c match {
      case EqualTo(a: AttributeReference, l: Literal) => eqDisjoint(a, l)
      case EqualTo(l: Literal, a: AttributeReference) => eqDisjoint(a, l)
      case EqualNullSafe(a: AttributeReference, l: Literal) if l.value != null =>
        eqDisjoint(a, l)
      case EqualNullSafe(l: Literal, a: AttributeReference) if l.value != null =>
        eqDisjoint(a, l)
      case LessThan(a: AttributeReference, l: Literal) => cmp(a, l, "<")
      case LessThanOrEqual(a: AttributeReference, l: Literal) => cmp(a, l, "<=")
      case GreaterThan(a: AttributeReference, l: Literal) => cmp(a, l, ">")
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => cmp(a, l, ">=")
      case LessThan(l: Literal, a: AttributeReference) => cmp(a, l, ">")
      case LessThanOrEqual(l: Literal, a: AttributeReference) => cmp(a, l, ">=")
      case GreaterThan(l: Literal, a: AttributeReference) => cmp(a, l, "<")
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => cmp(a, l, "<=")
      case In(a: AttributeReference, ls)
          if ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
        allNull(a) || bounds(a).exists { case (s, mn, mx) =>
          ls.forall { l =>
            litValue(l.asInstanceOf[Literal]).forall(v =>
              cmpStat(s.kind, mn, v) > 0 || cmpStat(s.kind, mx, v) < 0)
          }
        } || bloomExcludes(a, ls.map(_.asInstanceOf[Literal]))
      case IsNull(a: AttributeReference) =>
        stats(a).exists(_.nullCount == 0) && r.numRows > 0
      case IsNotNull(a: AttributeReference) => allNull(a)
      case StartsWith(a: AttributeReference, l: Literal) if l.value != null =>
        // v startsWith p ⇒ p <= v < nextPrefix(p); disjoint when the whole
        // zone map sits outside that interval
        allNull(a) || bounds(a).exists { case (s, mn, mx) =>
          if (s.kind != "s") false
          else {
            val p = l.value.asInstanceOf[UTF8String]
            if (p.numBytes == 0) false
            else if (UTF8String.fromString(mx).compareTo(p) < 0) true
            else nextPrefix(p).exists(np =>
              UTF8String.fromString(mn).compareTo(np) >= 0)
          }
        // a prefix is also a contained substring — the trigram index
        // refutes it when any of its grams is absent
        } || ngramLit(a, l)
      // LIKE '%needle%': Catalyst's LikeSimplification rewrites it to
      // Contains in the same optimization batch this rule runs in
      case Contains(a: AttributeReference, l: Literal) =>
        allNull(a) || ngramLit(a, l)
      case EndsWith(a: AttributeReference, l: Literal) =>
        allNull(a) || ngramLit(a, l)
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
