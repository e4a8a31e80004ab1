package graft.sql

import org.apache.spark.sql.types.DataType
import graft.catalog.PartitionSpec
import graft.model.{AggType, ColumnSpec}

/** Parsed engine statement — the SQL front door's AST. One case per
  * lifecycle verb the reference's lineage (Doris/StarRocks) exposes as SQL
  * and this engine exposes as Scala API ([[graft.engine.OlapEngine]]):
  * DDL (CREATE/ALTER/DROP), DML (INSERT/DELETE), MVCC lifecycle
  * (RESTORE/CLONE/COMPACT/VACUUM/BACKUP), and introspection (SHOW).
  *
  * The reference itself has NO SQL at all (SURVEY.md TL;DR: "no parser, no
  * planner"); its users drive these operations through `examples/
  * basic_usage.rs`-style API calls. The SQL surface is the Spark-world
  * completion of that API: the same operations, phrased the way the Doris
  * family phrases them, so `spark.sql("...")` is the only entry point a
  * user needs.
  */
sealed trait GraftStatement

object GraftStatement {
  final case class CreateDatabase(db: String, ifNotExists: Boolean) extends GraftStatement
  /** Doris-flavored CREATE TABLE: column list with per-column aggregate
    * markers, a `<MODEL> KEY (...)` clause naming the key columns, optional
    * RANGE/LIST partitioning, `DISTRIBUTED BY HASH|RANDOM ... BUCKETS n`,
    * and a PROPERTIES map for the lifecycle dials (retention, dynamic
    * partitioning, varchar mode, sequence column, ...).
    */
  final case class CreateTable(
      db: String, table: String,
      columns: Seq[ColumnSpec],
      keysType: String,                       // DUPLICATE | UNIQUE | AGGREGATE
      keyColumns: Seq[String],
      partitionBy: Option[(String, String)],  // (RANGE|LIST, column)
      partitions: Seq[PartitionSpec],
      bucketType: String,                     // HASH | RANDOM
      bucketColumn: Option[String],
      numBuckets: Int,
      properties: Map[String, String],
      // column DEFAULT literals (Doris `c INT DEFAULT "0"`): read-time
      // backfill for pre-column rowsets, ingest fill for omitting loads
      defaults: Map[String, String] = Map.empty,
      // Doris `BIGINT ... AUTO_INCREMENT` column marker (at most one)
      autoIncrement: Option[String] = None,
      // Doris generated columns (`col TYPE AS (expr)`): raw Spark-SQL
      // expression text, engine-computed at every write
      generated: Map[String, String] = Map.empty) extends GraftStatement
  /** INSERT INTO db.t <query> — the query tail is raw Spark SQL, executed
    * by the session and ingested as one load (one MVCC version).
    */
  final case class InsertInto(db: String, table: String, query: String) extends GraftStatement
  /** CREATE TABLE db.t <MODEL> KEY (...) [DISTRIBUTED BY ...]
    * [PROPERTIES (...)] AS <query> — CTAS: the schema derives from the
    * query's output (keys flagged from the KEY clause), created and loaded
    * as one statement. The model clause IS the graft marker; a plain Spark
    * `CREATE TABLE t AS SELECT` never reaches this shape.
    */
  final case class CreateTableAs(
      db: String, table: String,
      keysType: String, keyColumns: Seq[String],
      bucketType: String, bucketColumn: Option[String], numBuckets: Int,
      properties: Map[String, String], query: String) extends GraftStatement
  /** INSERT OVERWRITE [TABLE] db.t [PARTITION (p, ...)] <query> — atomic
    * scope replace (engine `overwrite`: mask + load under one group). The
    * query tail is raw Spark SQL. Spark has its own INSERT OVERWRITE, so
    * an unclaimed table genuinely delegates.
    */
  final case class InsertOverwrite(db: String, table: String,
      partitions: Seq[String], query: String) extends GraftStatement
  /** DELETE FROM db.t WHERE <predicate> — the predicate tail is raw Spark
    * SQL, stored as a metadata-only delete version (engine `deleteWhere`).
    */
  final case class DeleteFrom(db: String, table: String, predicate: String) extends GraftStatement
  /** UPDATE db.t SET c = expr [, ...] WHERE pred — Unique-model
    * read-modify-write (engine `updateWhere`). The whole `SET ...` tail is
    * carried RAW and split at exec time ([[GraftSqlParser.splitUpdateTail]]):
    * parsing stays total, so an UPDATE naming a non-engine table still
    * DELEGATES (the contract), and malformed tails fail loudly only once
    * the statement is claimed.
    */
  final case class UpdateTable(db: String, table: String,
      setTail: String) extends GraftStatement
  final case class RestoreToVersion(db: String, table: String, version: Long) extends GraftStatement
  final case class ShallowClone(srcDb: String, srcTable: String,
      dstDb: String, dstTable: String, asOfVersion: Option[Long]) extends GraftStatement
  final case class Compact(db: String, table: String,
      cumulativeAt: Option[Long]) extends GraftStatement
  final case class Vacuum(db: String, table: String) extends GraftStatement
  final case class BackupTable(db: String, table: String, dest: String) extends GraftStatement
  /** EXPORT TABLE db.t [PARTITION (p, ...)] TO '<dir>' [FORMAT parquet|csv|json]
    * — merged-snapshot egress (engine `exportTable`).
    */
  final case class ExportTable(db: String, table: String,
      partitions: Seq[String], dest: String, format: String) extends GraftStatement
  final case class RestoreFromBackup(db: String, table: String, src: String) extends GraftStatement
  final case class ShowRowsets(db: String, table: String) extends GraftStatement
  final case class ShowPartitions(db: String, table: String) extends GraftStatement
  final case class ShowTablesIn(db: String) extends GraftStatement
  /** SHOW ROLLUPS IN db.t — the registered rollups with freshness. */
  final case class ShowRollups(db: String, table: String) extends GraftStatement
  /** SHOW MATERIALIZED VIEWS IN db.t — the registered join MVs (fact side). */
  final case class ShowMvs(db: String, table: String) extends GraftStatement
  /** SHOW STATS IN db.t — the manifest's folded per-column zone maps
    * (min/max/null-count and stats coverage), i.e. what rowset pruning and
    * metadata-served MIN/MAX can answer from.
    */
  final case class ShowStats(db: String, table: String) extends GraftStatement
  /** EXPLAIN PRUNE db.t WHERE '<pred>' — per-rowset decision (scanned /
    * zone-map / bloom) the transparent prune rules make for that filter
    * ([[graft.engine.OlapEngine.explainPrune]]). Spark's own EXPLAIN forms
    * delegate (no PRUNE keyword).
    */
  final case class ExplainPrune(db: String, table: String,
      predicate: String) extends GraftStatement
  /** SHOW CLONES IN db.t — live shallow clones borrowing this table's rowsets. */
  final case class ShowClones(db: String, table: String) extends GraftStatement
  /** BEGIN LOAD GROUP / COMMIT LOAD GROUP / ABORT LOAD GROUP — the SQL face
    * of [[graft.engine.OlapEngine]]'s cross-table load groups: INSERT/DELETE
    * statements between BEGIN and COMMIT stage invisibly and land atomically
    * at COMMIT (across however many tables they touched); ABORT reaps them.
    */
  /** MAINTAIN WAREHOUSE — one SQL verb for the engine's scheduled
    * maintenance tick: the C1-C3 compaction loop over every registered
    * table plus the load-group hygiene sweep (heal committed stragglers,
    * retire fully-activated ledger ids, reap abandoned stages). What a
    * production owner crons.
    */
  /** TRUNCATE TABLE db.t [PARTITION (p)] — empty the table (or one
    * partition) as metadata: retire-all behind an empty spanning version,
    * or a partition-mask marker that newer loads version past.
    */
  final case class TruncateTable(db: String, table: String,
      partition: Option[String]) extends GraftStatement
  case object MaintainWarehouse extends GraftStatement
  /** MAINTAIN WAREHOUSE TIERED — the scale-shaped tick: cumulative-merge
    * delta tiers, full-compact only under delete debt or a fragmented base
    * ([[graft.engine.OlapEngine.runTieredCompaction]]).
    */
  case object MaintainWarehouseTiered extends GraftStatement
  case object BeginLoadGroup extends GraftStatement
  case object CommitLoadGroup extends GraftStatement
  case object AbortLoadGroup extends GraftStatement
  final case class DropTable(db: String, table: String) extends GraftStatement
  final case class AddColumn(db: String, table: String, spec: ColumnSpec,
      default: Option[String] = None) extends GraftStatement
  final case class DropColumn(db: String, table: String, name: String) extends GraftStatement
  final case class ModifyColumn(db: String, table: String, name: String,
      to: DataType) extends GraftStatement
  final case class AddPartition(db: String, table: String,
      spec: PartitionSpec) extends GraftStatement
  final case class DropPartition(db: String, table: String, name: String) extends GraftStatement
  /** ALTER TABLE db.t DISTRIBUTED BY HASH(col) BUCKETS n — the online
    * re-bucketing schema-change job ([[graft.engine.OlapEngine.rebucket]]).
    */
  final case class Rebucket(db: String, table: String,
      bucketColumn: Option[String], numBuckets: Int) extends GraftStatement
  /** ALTER TABLE db.t SET ("k" = "v", ...) — Doris's post-create property
    * verb, restricted to the dials safe to flip on existing data
    * ([[graft.engine.OlapEngine.alterProperties]]). Spark spells its own
    * property verb SET TBLPROPERTIES, so the bare-parenthesis shape never
    * collides with delegated Spark DDL.
    */
  final case class SetTableProps(db: String, table: String,
      props: Seq[(String, String)]) extends GraftStatement
  /** ALTER TABLE db.t ADD ROLLUP name (dims) AGG (SUM(c) AS o, COUNT(*) AS
    * n, BITMAP(c) AS b, HLL(c) AS h) [WHERE '<pred>'] — materializes a
    * Doris-style sync rollup; the transparent [[graft.plans.RollupRewrite]]
    * then serves matching aggregations from it.
    */
  final case class AddRollup(db: String, table: String,
      rd: graft.engine.RollupDef) extends GraftStatement
  final case class RefreshRollup(db: String, table: String,
      name: String) extends GraftStatement
  /** CREATE MATERIALIZED VIEW name ON db.fact JOIN db.dim ON fk = dk
    * GROUP BY (g1, ...) AGG (SUM(c) AS o, COUNT(*) AS n) — the async join
    * MV; [[graft.plans.JoinMvRewrite]] serves matching join-aggregates.
    */
  final case class CreateMv(d: graft.engine.MvJoinDef) extends GraftStatement
  final case class RefreshMv(db: String, table: String,
      name: String) extends GraftStatement
  final case class RenameColumn(db: String, table: String,
      oldName: String, newName: String) extends GraftStatement
  /** SHOW CREATE TABLE db.t — renders the engine table's DDL in exactly the
    * grammar this parser accepts (round-trip pinned by `SqlSurfaceSpec`).
    */
  final case class ShowCreateTable(db: String, table: String) extends GraftStatement
  /** DESCRIBE db.t — the Doris-shaped column listing (key flag, aggregate,
    * varchar bound), claimed only for engine tables (Spark keeps its own
    * DESCRIBE for everything else).
    */
  final case class DescribeTable(db: String, table: String) extends GraftStatement
  /** CREATE [OR REPLACE] TEMP VIEW v AS SCAN db.t [VERSION AS OF n |
    * TIMESTAMP AS OF 'ts'] [PARTITIONS (p, ...)] — the READ half: registers
    * an engine scan (head, version-as-of, wall-clock time travel, or
    * partition-restricted) as a Spark temp view, after which the full Spark
    * SQL surface queries it. Deliberately a view registration rather than a
    * parser-rewritten SELECT: the engine never has to re-implement Spark's
    * own query language to be queryable from it.
    */
  final case class ScanView(view: String, replace: Boolean,
      db: String, table: String,
      asOfVersion: Option[Long], asOfTimestamp: Option[String],
      partitions: Seq[String]) extends GraftStatement
}

final class GraftParseException(msg: String) extends IllegalArgumentException(msg)

/** Hand-rolled tokenizer + recursive-descent parser for the engine's SQL
  * command grammar. `parse` is purely syntactic: it returns `Some(stmt)`
  * when the text matches a graft statement shape and `None` when it does
  * not (the caller then delegates to Spark's own parser) — and it THROWS
  * [[GraftParseException]] when the text unambiguously claims a graft-only
  * verb (RESTORE ... TO VERSION, COMPACT TABLE, SHALLOW CLONE, AS SCAN,
  * SHOW ROWSETS) but the tail is malformed, so a typo in an engine command
  * fails loudly instead of falling through to Spark and producing a
  * confusing unrelated error.
  *
  * Statements with raw Spark-SQL tails (INSERT's query, DELETE's predicate)
  * capture the tail verbatim — the tail's grammar belongs to Spark, not to
  * this parser.
  */
object GraftSqlParser {

  // ---- tokens ---------------------------------------------------------------

  private sealed trait Tok { def pos: Int }
  private final case class Ident(s: String, pos: Int) extends Tok
  private final case class Str(s: String, pos: Int) extends Tok
  private final case class Num(s: String, pos: Int) extends Tok
  private final case class Sym(c: Char, pos: Int) extends Tok

  private def tokenize(text: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && i + 1 < n && text.charAt(i + 1) == '-') {
        while (i < n && text.charAt(i) != '\n') i += 1
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (text.charAt(i).isLetterOrDigit || text.charAt(i) == '_')) i += 1
        out += Ident(text.substring(start, i), start)
      } else if (c.isDigit) {
        val start = i
        while (i < n && text.charAt(i).isDigit) i += 1
        out += Num(text.substring(start, i), start)
      } else if (c == '\'' || c == '"') {
        val quote = c
        val start = i
        i += 1
        val sb = new StringBuilder
        var closed = false
        while (i < n && !closed) {
          val ch = text.charAt(i)
          if (ch == quote) {
            if (i + 1 < n && text.charAt(i + 1) == quote) { sb += quote; i += 2 } // '' escape
            else { closed = true; i += 1 }
          } else { sb += ch; i += 1 }
        }
        if (!closed) throw new GraftParseException(
          s"unterminated string literal starting at offset $start")
        out += Str(sb.toString, start)
      } else {
        out += Sym(c, i)
        i += 1
      }
    }
    out.result()
  }

  // ---- cursor ---------------------------------------------------------------

  private final class Cursor(toks: Vector[Tok], text: String) {
    var i = 0
    def atEnd: Boolean = i >= toks.length
    def peek: Option[Tok] = toks.lift(i)
    def next(): Tok = {
      val t = toks.lift(i).getOrElse(fail("unexpected end of statement"))
      i += 1; t
    }
    /** Case-insensitive keyword test without consuming. */
    def isKw(kw: String): Boolean = peek match {
      case Some(Ident(s, _)) => s.equalsIgnoreCase(kw)
      case _ => false
    }
    def tryKw(kw: String): Boolean = { val ok = isKw(kw); if (ok) i += 1; ok }
    def kw(kwd: String): Unit =
      if (!tryKw(kwd)) fail(s"expected keyword $kwd, got ${describe(peek)}")
    def ident(): String = next() match {
      case Ident(s, _) => s
      case t => fail(s"expected identifier, got ${describe(Some(t))}")
    }
    def num(): Long = next() match {
      case Num(s, _) => s.toLong
      case t => fail(s"expected number, got ${describe(Some(t))}")
    }
    def str(): String = next() match {
      case Str(s, _) => s
      case t => fail(s"expected string literal, got ${describe(Some(t))}")
    }
    def sym(c: Char): Unit = next() match {
      case Sym(`c`, _) => ()
      case t => fail(s"expected '$c', got ${describe(Some(t))}")
    }
    def trySym(c: Char): Boolean = peek match {
      case Some(Sym(`c`, _)) => i += 1; true
      case _ => false
    }
    /** `db.t` qualified name. */
    def qname(): (String, String) = {
      val a = ident(); sym('.'); val b = ident(); (a, b)
    }
    /** Consume the REST of the statement as raw text (a query tail whose
      * grammar belongs to Spark — CTAS). Leaves the cursor at end.
      */
    def rest(): String = {
      val out = peek.map(t => text.substring(t.pos)).getOrElse("")
      i = toks.length
      out
    }
    /** Consume a parenthesized RAW text region: the current token must be
      * '('; returns the original text between it and its MATCHING ')'
      * (string literals already hide their parens from the tokenizer),
      * leaving the cursor past the ')'. For expression tails whose grammar
      * belongs to Spark — generated-column definitions.
      */
    def rawParen(): String = peek match {
      case Some(Sym('(', open)) =>
        var depth = 0
        var j = i
        while (j < toks.length) {
          toks(j) match {
            case Sym('(', _) => depth += 1
            case Sym(')', p) =>
              depth -= 1
              if (depth == 0) { i = j + 1; return text.substring(open + 1, p).trim }
            case _ => ()
          }
          j += 1
        }
        fail("unbalanced parentheses in expression")
      case t => fail(s"expected '(', got ${describe(t)}")
    }
    def end(): Unit =
      if (!atEnd && !trySemicolonEnd()) fail(s"trailing input: ${describe(peek)}")
    private def trySemicolonEnd(): Boolean = {
      if (trySym(';')) { if (!atEnd) fail(s"trailing input: ${describe(peek)}"); true }
      else false
    }
    private def describe(t: Option[Tok]): String = t match {
      case Some(Ident(s, p)) => s"'$s' at offset $p"
      case Some(Str(s, p)) => s"string '${s.take(20)}' at offset $p"
      case Some(Num(s, p)) => s"number $s at offset $p"
      case Some(Sym(c, p)) => s"'$c' at offset $p"
      case None => "end of statement"
    }
    def fail(msg: String): Nothing =
      throw new GraftParseException(s"$msg in: ${text.trim.take(120)}")
  }

  // ---- raw-tail prefixes (the tail's grammar belongs to Spark) --------------

  private val InsertRe =
    """(?is)\s*INSERT\s+INTO\s+([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)\s+(.+)""".r
  private val InsertOverwriteRe =
    ("""(?is)\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?([A-Za-z_]\w*)\s*\.\s*""" +
      """([A-Za-z_]\w*)\s*(?:PARTITION\s*\(([^)]*)\))?\s+(.+)""").r
  private val DeleteRe =
    """(?is)\s*DELETE\s+FROM\s+([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)\s+WHERE\s+(.+)""".r
  private val UpdateRe =
    """(?is)\s*UPDATE\s+([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)\s+SET\s+(.+)""".r

  /** Split an UPDATE tail `a = e1, b = e2 WHERE pred` into assignments and
    * the predicate. The RHS grammar belongs to Spark, so this only locates
    * the TOP-LEVEL structure: commas and the WHERE keyword counted at paren
    * depth 0 (the tokenizer already hides commas/keywords inside string
    * literals). WHERE is mandatory — an unbounded UPDATE must be written
    * `WHERE true`, never implied.
    */
  def splitUpdateTail(tail: String): (Seq[(String, String)], String) = {
    val toks = tokenize(tail)
    var depth = 0
    var whereAt = -1   // char offset of the top-level WHERE token
    var whereEnd = -1  // char offset just past it
    val commas = Vector.newBuilder[Int]
    var i = 0
    while (i < toks.length && whereAt < 0) {
      toks(i) match {
        case Sym('(', _) => depth += 1
        case Sym(')', _) => depth -= 1
        case Sym(',', p) if depth == 0 => commas += p
        case Ident(s, p) if depth == 0 && s.equalsIgnoreCase("WHERE") =>
          whereAt = p; whereEnd = p + s.length
        case _ => ()
      }
      i += 1
    }
    if (whereAt < 0)
      throw new GraftParseException(
        s"UPDATE needs a WHERE clause (use WHERE true to update all rows) " +
          s"in: SET ${tail.trim.take(80)}")
    val assignText = tail.substring(0, whereAt)
    val predicate = stripTrailing(tail.substring(whereEnd))
    if (predicate.isEmpty)
      throw new GraftParseException("UPDATE has an empty WHERE predicate")
    val cuts = commas.result().filter(_ < whereAt)
    val bounds = (-1 +: cuts) :+ assignText.length
    val AssignRe = """(?s)\s*([A-Za-z_]\w*)\s*=\s*(.+)""".r
    val sets = bounds.zip(bounds.tail).map { case (a, b) =>
      assignText.substring(a + 1, b) match {
        case AssignRe(name, rhs) =>
          val r = rhs.trim
          if (r.isEmpty)
            throw new GraftParseException(s"UPDATE SET $name has an empty expression")
          name -> r
        case other =>
          throw new GraftParseException(
            s"malformed UPDATE assignment: '${other.trim.take(60)}' " +
              "(expected column = expression)")
      }
    }.toSeq
    (sets, predicate)
  }

  private val aggNames =
    Set("SUM", "MIN", "MAX", "REPLACE", "REPLACE_IF_NOT_NULL", "HLL_UNION")

  // ---- entry ----------------------------------------------------------------

  /** Parse `text` as a graft statement. `None` = not ours (delegate). */
  def parse(text: String): Option[GraftStatement] = {
    import GraftStatement._
    text match {
      case InsertOverwriteRe(db, t, parts, tail) =>
        val names = Option(parts).toSeq.flatMap(_.split(",")).map(_.trim)
          .filter(_.nonEmpty)
        return Some(InsertOverwrite(db, t, names, stripTrailing(tail)))
      case InsertRe(db, t, tail) => return Some(InsertInto(db, t, stripTrailing(tail)))
      case DeleteRe(db, t, tail) => return Some(DeleteFrom(db, t, stripTrailing(tail)))
      case UpdateRe(db, t, tail) => return Some(UpdateTable(db, t, tail))
      case _ => ()
    }
    val c = new Cursor(tokenize(text), text)
    if (c.atEnd) return None
    c.peek match {
      case Some(Ident(v, _)) => v.toUpperCase match {
        case "RESTORE" => parseRestore(c)
        case "COMPACT" => Some(parseCompact(c))
        case "VACUUM"  => { c.kw("VACUUM"); val (db, t) = c.qname(); c.end()
                            Some(Vacuum(db, t)) }
        case "BACKUP"  => Some(parseBackup(c))
        case "EXPORT"  => Some(parseExport(c))
        case "TRUNCATE" => attempt {
          c.kw("TRUNCATE"); c.kw("TABLE")
          val save = c.i
          val db = c.ident()
          // one-part names are Spark's own TRUNCATE TABLE — delegate
          if (!c.trySym('.')) { c.i = save; None }
          else {
            val t = c.ident()
            val part = if (c.tryKw("PARTITION")) {
              c.sym('('); val p = c.ident(); c.sym(')'); Some(p)
            } else None
            c.end()
            Some(TruncateTable(db, t, part))
          }
        }
        case "MAINTAIN" => { c.kw("MAINTAIN")
                             if (!c.tryKw("WAREHOUSE")) None
                             else if (c.tryKw("TIERED")) {
                               c.end(); Some(MaintainWarehouseTiered)
                             } else { c.end(); Some(MaintainWarehouse) } }
        case "SHOW"    => parseShow(c)
        case "EXPLAIN" =>
          // only the PRUNE shape is ours; Spark's own EXPLAIN delegates
          c.kw("EXPLAIN")
          if (!c.tryKw("PRUNE")) None
          else {
            val (db, t) = c.qname(); c.kw("WHERE")
            val pred = c.str(); c.end()
            Some(GraftStatement.ExplainPrune(db, t, pred))
          }
        case "CREATE"  => parseCreate(c, text)
        case "ALTER"   => parseAlter(c)
        case "DROP"    => parseDrop(c)
        case "REFRESH" => parseRefresh(c)
        case "DESCRIBE" | "DESC" => parseDescribe(c)
        case "BEGIN"   => parseGroupVerb(c, "BEGIN", BeginLoadGroup)
        case "COMMIT"  => parseGroupVerb(c, "COMMIT", CommitLoadGroup)
        case "ABORT"   => parseGroupVerb(c, "ABORT", AbortLoadGroup)
        case _ => None
      }
      case _ => None
    }
  }

  private def stripTrailing(tail: String): String = {
    val t = tail.trim
    if (t.endsWith(";")) t.dropRight(1).trim else t
  }

  // ---- per-verb parsers -----------------------------------------------------

  import GraftStatement._

  private def parseRefresh(c: Cursor): Option[GraftStatement] = {
    c.kw("REFRESH")
    if (c.tryKw("ROLLUP")) {
      val name = c.ident(); c.kw("ON"); val (db, t) = c.qname(); c.end()
      Some(RefreshRollup(db, t, name))
    } else if (c.tryKw("MATERIALIZED")) {
      c.kw("VIEW")
      val name = c.ident(); c.kw("ON"); val (db, t) = c.qname(); c.end()
      Some(RefreshMv(db, t, name))
    } else None // not our REFRESH shape
  }

  /** The (out, src, agg) items of a rollup/MV AGG clause. Returns
    * (sum/min/max aggs, count-star column, bitmap column, hll column).
    */
  private def parseAggItems(c: Cursor)
  : (Seq[(String, String, AggType)], Option[String],
     Option[(String, String)], Option[(String, String)]) = {
    c.kw("AGG"); c.sym('(')
    val aggs = Seq.newBuilder[(String, String, AggType)]
    var cnt: Option[String] = None
    var bm: Option[(String, String)] = None
    var hll: Option[(String, String)] = None
    var more = true
    while (more) {
      val fn = c.ident().toUpperCase
      c.sym('(')
      fn match {
        case "COUNT" =>
          c.sym('*'); c.sym(')'); c.kw("AS")
          cnt = Some(c.ident())
        case "SUM" | "MIN" | "MAX" =>
          val src = c.ident(); c.sym(')'); c.kw("AS")
          aggs += ((c.ident(), src, AggType.fromName(fn)))
        case "BITMAP" =>
          val src = c.ident(); c.sym(')'); c.kw("AS")
          bm = Some((c.ident(), src))
        case "HLL" =>
          val src = c.ident(); c.sym(')'); c.kw("AS")
          hll = Some((c.ident(), src))
        case other =>
          c.fail(s"unknown rollup aggregate '$other' (SUM|MIN|MAX|COUNT|BITMAP|HLL)")
      }
      more = c.trySym(',')
    }
    c.sym(')')
    (aggs.result(), cnt, bm, hll)
  }

  private def parseIdentList(c: Cursor): Seq[String] = {
    c.sym('(')
    val out = Seq.newBuilder[String]
    out += c.ident()
    while (c.trySym(',')) out += c.ident()
    c.sym(')')
    out.result()
  }

  /** `<verb> LOAD GROUP` — claimed only with the full marker (a bare
    * BEGIN/COMMIT is not ours and delegates).
    */
  private def parseGroupVerb(c: Cursor, verb: String,
                             stmt: GraftStatement): Option[GraftStatement] = {
    c.kw(verb)
    if (!c.tryKw("LOAD")) return None
    c.kw("GROUP"); c.end()
    Some(stmt)
  }

  private def parseRestore(c: Cursor): Option[GraftStatement] = {
    c.kw("RESTORE")
    if (!c.tryKw("TABLE")) return None // not our RESTORE shape
    val (db, t) = c.qname()
    if (c.tryKw("TO")) {
      c.kw("VERSION"); val v = c.num(); c.end()
      Some(RestoreToVersion(db, t, v))
    } else if (c.tryKw("FROM")) {
      val p = c.str(); c.end()
      Some(RestoreFromBackup(db, t, p))
    } else c.fail("expected TO VERSION <n> or FROM '<path>' after RESTORE TABLE")
  }

  private def parseCompact(c: Cursor): GraftStatement = {
    c.kw("COMPACT"); c.kw("TABLE")
    val (db, t) = c.qname()
    val cum = if (c.tryKw("CUMULATIVE")) { c.kw("AT"); Some(c.num()) } else None
    c.end()
    Compact(db, t, cum)
  }

  private def parseBackup(c: Cursor): GraftStatement = {
    c.kw("BACKUP"); c.kw("TABLE")
    val (db, t) = c.qname()
    c.kw("TO"); val p = c.str(); c.end()
    BackupTable(db, t, p)
  }

  private def parseExport(c: Cursor): GraftStatement = {
    c.kw("EXPORT"); c.kw("TABLE")
    val (db, t) = c.qname()
    var parts = Seq.empty[String]
    if (c.tryKw("PARTITION")) {
      c.sym('(')
      val ps = Seq.newBuilder[String]
      ps += c.ident()
      while (c.trySym(',')) ps += c.ident()
      c.sym(')')
      parts = ps.result()
    }
    c.kw("TO"); val p = c.str()
    val fmt = if (c.tryKw("FORMAT")) c.ident() else "parquet"
    c.end()
    ExportTable(db, t, parts, p, fmt)
  }

  /** DESCRIBE/DESC db.t — two-part names only (one-part and EXTENDED/
    * FORMATTED forms are Spark's own DESCRIBE).
    */
  private def parseDescribe(c: Cursor): Option[GraftStatement] = {
    c.i += 1 // the DESCRIBE/DESC keyword
    if (c.tryKw("TABLE")) () // optional, as in Spark
    c.peek match {
      case Some(Ident(_, _)) =>
        val save = c.i
        val db = c.ident()
        if (!c.trySym('.')) { c.i = save; return None }
        val t = c.ident()
        if (!c.atEnd && !c.trySym(';')) return None // EXTENDED etc -> Spark
        Some(DescribeTable(db, t))
      case _ => None
    }
  }

  private def parseShow(c: Cursor): Option[GraftStatement] = {
    c.kw("SHOW")
    if (c.tryKw("CREATE")) {
      if (!c.tryKw("TABLE")) return None
      val save = c.i
      val db = c.ident()
      if (!c.trySym('.')) { c.i = save; return None } // one-part → Spark's
      val t = c.ident()
      c.end()
      Some(ShowCreateTable(db, t))
    } else if (c.tryKw("ROWSETS")) {
      c.kw("IN"); val (db, t) = c.qname(); c.end(); Some(ShowRowsets(db, t))
    } else if (c.tryKw("ROLLUPS")) {
      c.kw("IN"); val (db, t) = c.qname(); c.end(); Some(ShowRollups(db, t))
    } else if (c.tryKw("MATERIALIZED")) {
      c.kw("VIEWS"); c.kw("IN"); val (db, t) = c.qname(); c.end()
      Some(ShowMvs(db, t))
    } else if (c.tryKw("CLONES")) {
      c.kw("IN"); val (db, t) = c.qname(); c.end(); Some(ShowClones(db, t))
    } else if (c.tryKw("STATS")) {
      c.kw("IN"); val (db, t) = c.qname(); c.end(); Some(ShowStats(db, t))
    } else if (c.tryKw("PARTITIONS")) {
      if (!c.tryKw("IN")) return None // Spark's own SHOW PARTITIONS <tbl>
      val (db, t) = c.qname(); c.end(); Some(ShowPartitions(db, t))
    } else if (c.tryKw("TABLES")) {
      if (!c.tryKw("IN")) return None
      val db = c.ident()
      // one-part db name only; Spark catalogs are multi-part
      if (!c.atEnd && !c.trySym(';')) return None
      Some(ShowTablesIn(db))
    } else None
  }

  private def parseDrop(c: Cursor): Option[GraftStatement] = {
    c.kw("DROP")
    if (!c.tryKw("TABLE")) return None
    c.peek match {
      case Some(Ident(_, _)) =>
        val save = c.i
        val db = c.ident()
        if (!c.trySym('.')) { c.i = save; return None }
        val t = c.ident()
        if (!c.atEnd && !c.trySym(';')) return None
        Some(DropTable(db, t))
      case _ => None
    }
  }

  /** Attempt a SHARED-grammar parse: `body` runs, and ANY parse failure
    * delegates (returns None) instead of throwing — the cursor position
    * afterwards is irrelevant because the caller hands the whole text to
    * Spark. Use ONLY for verbs Spark also owns (ALTER TABLE ADD COLUMN,
    * DROP PARTITION, CREATE TABLE ...): a statement that has established a
    * graft-only marker must keep failing loudly, so those parsers don't
    * route through here past the marker.
    */
  private def attempt(body: => Option[GraftStatement]): Option[GraftStatement] =
    try body
    catch {
      case _: GraftParseException => None
      case scala.util.control.NonFatal(_) => None // e.g. Spark type-DDL errors
    }

  /** ALTER TABLE db.t — graft owns ADD ROLLUP and DISTRIBUTED BY outright
    * (not valid Spark SQL → loud failures past those markers); the forms
    * whose grammar Spark shares (ADD/DROP COLUMN, ADD/DROP PARTITION,
    * RENAME ...) delegate on ANY mismatch rather than failing, so standard
    * Spark DDL (`ADD COLUMNS (...)`, `RENAME TO new`, `ADD PARTITION
    * (spec)`, `SET TBLPROPERTIES`, ...) issued on a session with the
    * injected parser still reaches Spark untouched.
    */
  private def parseAlter(c: Cursor): Option[GraftStatement] = {
    c.kw("ALTER")
    if (!c.tryKw("TABLE")) return None
    val save = c.i
    val db = c.ident()
    if (!c.trySym('.')) { c.i = save; return None }
    val t = c.ident()
    if (c.tryKw("ADD")) {
      if (c.tryKw("ROLLUP")) {
        val name = c.ident()
        val dims = parseIdentList(c)
        val (aggs, cnt, bm, hll) = parseAggItems(c)
        val filter = if (c.tryKw("WHERE")) Some(c.str()) else None
        c.end()
        Some(AddRollup(db, t, graft.engine.RollupDef(
          name, dims, aggs, countCol = cnt, bitmapCol = bm, hllCol = hll,
          filter = filter)))
      } else if (c.isKw("COLUMN")) attempt {
        c.kw("COLUMN")
        val name = c.ident()
        val ts = parseType(c)
        val agg = parseAggMarker(c)
        val key = c.tryKw("KEY")
        val default = if (c.tryKw("DEFAULT")) Some(c.str()) else None
        c.end()
        Some(AddColumn(db, t,
          if (key) ColumnSpec.key(name, ts.dt)
          else ColumnSpec.value(name, ts.dt, agg.getOrElse(AggType.None))
            .copy(maxLength = ts.maxLen), default))
      } else if (c.isKw("PARTITION")) attempt {
        c.kw("PARTITION")
        val name = c.ident() // Spark's ADD PARTITION (spec) delegates here
        c.kw("VALUES")
        val spec =
          if (c.tryKw("LESS")) {
            c.kw("THAN"); c.sym('(')
            val bound =
              if (c.tryKw("MAXVALUE")) None
              else Some(c.str())
            c.sym(')')
            PartitionSpec(name, upperExclusive =
              bound.orElse(Some(graft.catalog.RangeBound.MaxValue)))
          } else if (c.tryKw("IN")) {
            c.sym('(')
            val vals = Seq.newBuilder[String]
            vals += c.str()
            while (c.trySym(',')) vals += c.str()
            c.sym(')')
            PartitionSpec(name, listValues = vals.result())
          } else c.fail("expected VALUES LESS THAN (...) or VALUES IN (...)")
        val buckets = if (c.tryKw("BUCKETS")) c.num().toInt else 1
        c.end()
        Some(AddPartition(db, t, spec.copy(numBuckets = buckets)))
      } else None // ADD COLUMNS / IF NOT EXISTS / constraints are Spark's
    } else if (c.tryKw("DROP")) {
      if (c.isKw("COLUMN")) attempt {
        c.kw("COLUMN")
        val name = c.ident(); c.end(); Some(DropColumn(db, t, name))
      } else if (c.isKw("PARTITION")) attempt {
        c.kw("PARTITION")
        val name = c.ident(); c.end(); Some(DropPartition(db, t, name))
      } else None // DROP COLUMNS / IF EXISTS forms are Spark's
    } else if (c.tryKw("MODIFY")) {
      // MODIFY COLUMN is Doris-only grammar (Spark spells it ALTER COLUMN) —
      // a malformed tail past this marker fails loudly
      c.kw("COLUMN")
      val name = c.ident()
      val ts = parseType(c)
      c.end()
      Some(ModifyColumn(db, t, name, ts.dt))
    } else if (c.tryKw("RENAME")) {
      // Spark's RENAME TO <table> delegates; only RENAME COLUMN o TO n is
      // ours (and Spark's own RENAME COLUMN has the same shape, which the
      // engine-claims check in GraftSql routes by table ownership)
      if (!c.tryKw("COLUMN")) return None
      attempt {
        val o = c.ident(); c.kw("TO"); val n = c.ident(); c.end()
        Some(RenameColumn(db, t, o, n))
      }
    } else if (c.tryKw("DISTRIBUTED")) {
      c.kw("BY"); c.kw("HASH"); c.sym('(')
      val colName = c.ident(); c.sym(')')
      c.kw("BUCKETS")
      val n = c.num().toInt
      c.end()
      Some(Rebucket(db, t, Some(colName), n))
    } else if (c.tryKw("SET")) {
      // Doris's ALTER TABLE t SET ("k" = "v", ...). Spark's own SET forms
      // (TBLPROPERTIES / LOCATION / SERDE ...) follow SET with a keyword,
      // never a bare '(' — anything but '(' delegates
      if (!c.trySym('(')) return None
      val props = Seq.newBuilder[(String, String)]
      var done = false
      while (!done) {
        val k = c.str(); c.sym('='); val v = c.str()
        props += (k -> v)
        if (c.trySym(')')) done = true else c.sym(',')
      }
      c.end()
      Some(SetTableProps(db, t, props.result()))
    } else None // other ALTER TABLE forms are Spark's
  }

  private def parseCreate(c: Cursor, text: String): Option[GraftStatement] = {
    c.kw("CREATE")
    if (c.tryKw("DATABASE")) {
      val ifNot = if (c.tryKw("IF")) { c.kw("NOT"); c.kw("EXISTS"); true } else false
      val db = c.ident()
      if (!c.atEnd && !c.trySym(';')) return None // multi-part / Spark options
      Some(CreateDatabase(db, ifNot))
    } else if (c.isKw("TABLE")) {
      parseCreateTable(c)
    } else if (c.tryKw("MATERIALIZED")) {
      c.kw("VIEW")
      val name = c.ident()
      c.kw("ON"); val (fdb, ft) = c.qname()
      c.kw("JOIN"); val (ddb, dt) = c.qname()
      c.kw("ON"); val fk = c.ident(); c.sym('='); val dk = c.ident()
      c.kw("GROUP"); c.kw("BY")
      val dims = parseIdentList(c)
      val (aggs, cnt, bm, hll) = parseAggItems(c)
      if (bm.nonEmpty || hll.nonEmpty)
        c.fail("join MVs support SUM/MIN/MAX/COUNT aggregates only")
      c.end()
      Some(CreateMv(graft.engine.MvJoinDef(
        name, fdb, ft, ddb, dt, fk, dk, dims, aggs, countCol = cnt)))
    } else if (c.isKw("OR") || c.isKw("TEMP") || c.isKw("TEMPORARY")) {
      parseScanView(c, text)
    } else None
  }

  /** CREATE TABLE: ours iff it carries a graft marker — `SHALLOW CLONE`, a
    * `<MODEL> KEY (...)` clause, a Doris `PARTITION BY RANGE|LIST (...)
    * (PARTITION ...)` ladder, `DISTRIBUTED BY`, a per-column aggregate
    * marker, or a Doris `PROPERTIES (...)` bag (none are valid Spark SQL).
    * UNTIL one of those is seen, ANY parse failure — a Spark type this
    * tokenizer can't read (`ARRAY<INT>`), a column `COMMENT`, a Spark tail
    * (`USING parquet`, `TBLPROPERTIES`, `PARTITIONED BY`, ...) — DELEGATES,
    * so a session built with the injected parser keeps ordinary Spark
    * CREATE TABLE on two-part names working. AFTER a marker the statement
    * is unambiguously ours and malformed tails fail loudly.
    */
  private def parseCreateTable(c: Cursor): Option[GraftStatement] = {
    c.kw("TABLE")
    val save = c.i
    val db = c.ident()
    if (!c.trySym('.')) { c.i = save; return None }
    val t = c.ident()
    if (c.tryKw("SHALLOW")) {
      c.kw("CLONE")
      val (sdb, st) = c.qname()
      val asOf = if (c.tryKw("VERSION")) { c.kw("AS"); c.kw("OF"); Some(c.num()) } else None
      c.end()
      return Some(ShallowClone(sdb, st, db, t, asOf))
    }
    if (!c.trySym('(')) return parseCtas(c, db, t)
    var sawMarker = false
    try {
      // column list (an aggregate marker like `cost BIGINT SUM` is graft-only)
      val cols = Seq.newBuilder[ColumnSpec]
      val defaults = Map.newBuilder[String, String]
      val generated = Map.newBuilder[String, String]
      var autoInc: Option[String] = None
      var done = false
      while (!done) {
        val name = c.ident()
        val ts = parseType(c)
        // generated column (`col TYPE AS (expr)`) — graft-only: Spark DDL
        // has no per-column AS; the expression tail is raw Spark SQL
        if (c.tryKw("AS")) {
          sawMarker = true
          generated += (name -> c.rawParen())
        }
        val agg = parseAggMarker(c)
        if (agg.isDefined) sawMarker = true
        var nullable = true
        if (c.tryKw("NOT")) { c.kw("NULL"); nullable = false }
        else if (c.tryKw("NULL")) ()
        // AUTO_INCREMENT is graft-only (Spark DDL has no such marker)
        if (c.tryKw("AUTO_INCREMENT")) {
          sawMarker = true
          if (autoInc.isDefined)
            throw new GraftParseException(
              s"CREATE TABLE $db.$t declares AUTO_INCREMENT twice " +
                s"(${autoInc.get}, $name) — at most one column")
          autoInc = Some(name)
        }
        // DEFAULT is valid Spark DDL too, so it never claims the statement
        if (c.tryKw("DEFAULT")) defaults += (name -> c.str())
        cols += ColumnSpec(name, ts.dt, isKey = false, nullable = nullable,
          agg = agg.getOrElse(AggType.None), maxLength = ts.maxLen)
        if (c.trySym(')')) done = true else c.sym(',')
      }
      // model clause (graft-only)
      var keysType = "DUPLICATE"
      var keyCols = Seq.empty[String]
      c.peek match {
        case Some(Ident(s, _))
            if Set("DUPLICATE", "UNIQUE", "AGGREGATE").contains(s.toUpperCase) =>
          keysType = s.toUpperCase; c.i += 1
          c.kw("KEY"); sawMarker = true
          c.sym('(')
          val ks = Seq.newBuilder[String]
          ks += c.ident()
          while (c.trySym(',')) ks += c.ident()
          c.sym(')')
          keyCols = ks.result()
        case _ => ()
      }
      // partition clause (Doris PARTITION BY; Spark spells it PARTITIONED BY)
      var partBy: Option[(String, String)] = None
      var parts = Seq.empty[PartitionSpec]
      if (c.tryKw("PARTITION")) {
        c.kw("BY")
        val kind =
          if (c.tryKw("RANGE")) "RANGE"
          else if (c.tryKw("LIST")) "LIST"
          else c.fail("expected RANGE or LIST after PARTITION BY")
        sawMarker = true
        c.sym('('); val pcol = c.ident(); c.sym(')')
        partBy = Some((kind, pcol))
        c.sym('(')
        val ps = Seq.newBuilder[PartitionSpec]
        var pdone = false
        while (!pdone) {
          c.kw("PARTITION")
          val pname = c.ident()
          c.kw("VALUES")
          if (kind == "RANGE") {
            c.kw("LESS"); c.kw("THAN"); c.sym('(')
            val bound = if (c.tryKw("MAXVALUE")) graft.catalog.RangeBound.MaxValue else c.str()
            c.sym(')')
            ps += PartitionSpec(pname, upperExclusive = Some(bound))
          } else {
            c.kw("IN"); c.sym('(')
            val vals = Seq.newBuilder[String]
            vals += c.str()
            while (c.trySym(',')) vals += c.str()
            c.sym(')')
            ps += PartitionSpec(pname, listValues = vals.result())
          }
          if (c.trySym(')')) pdone = true else c.sym(',')
        }
        parts = ps.result()
      }
      // distribution clause (graft-only)
      var bucketType = "HASH"
      var bucketCol: Option[String] = None
      var numBuckets = 1
      parseDistribution(c).foreach { case (bt, bc, n) =>
        sawMarker = true
        bucketType = bt; bucketCol = bc; numBuckets = n
      }
      // properties (Doris PROPERTIES; Spark spells it TBLPROPERTIES)
      var props = Map.empty[String, String]
      parseProperties(c).foreach { p => sawMarker = true; props = p }
      c.end()
      if (!sawMarker) return None // plain Spark CREATE TABLE — delegate
      Some(CreateTable(db, t, cols.result(), keysType, keyCols,
        partBy, parts, bucketType, bucketCol, numBuckets, props,
        defaults.result(), autoInc, generated.result()))
    } catch {
      // pre-marker failure = not our grammar (Spark tails, Spark types,
      // column COMMENTs...) → delegate; post-marker = a malformed graft
      // statement → loud
      case e: GraftParseException => if (sawMarker) throw e else None
      case scala.util.control.NonFatal(e) =>
        if (sawMarker) throw new GraftParseException(
          s"in CREATE TABLE $db.$t: ${e.getMessage}")
        else None
    }
  }

  /** `DISTRIBUTED BY HASH(col)|RANDOM BUCKETS n` — shared by CREATE TABLE
    * and CTAS. None = clause absent.
    */
  private def parseDistribution(c: Cursor): Option[(String, Option[String], Int)] =
    if (!c.tryKw("DISTRIBUTED")) None
    else {
      c.kw("BY")
      var bucketType = "HASH"
      var bucketCol: Option[String] = None
      if (c.tryKw("HASH")) { c.sym('('); bucketCol = Some(c.ident()); c.sym(')') }
      else if (c.tryKw("RANDOM")) bucketType = "RANDOM"
      else c.fail("expected HASH(col) or RANDOM after DISTRIBUTED BY")
      c.kw("BUCKETS")
      Some((bucketType, bucketCol, c.num().toInt))
    }

  /** `PROPERTIES ("k" = "v", ...)` — shared by CREATE TABLE and CTAS.
    * None = clause absent.
    */
  private def parseProperties(c: Cursor): Option[Map[String, String]] =
    if (!c.tryKw("PROPERTIES")) None
    else {
      c.sym('(')
      var props = Map.empty[String, String]
      var pdone = false
      while (!pdone) {
        val k = c.str(); c.sym('='); val v = c.str()
        props += (k -> v)
        if (c.trySym(')')) pdone = true else c.sym(',')
      }
      Some(props)
    }

  /** CTAS: `CREATE TABLE db.t <MODEL> KEY (...) [DISTRIBUTED BY ...]
    * [PROPERTIES (...)] AS <query>` — reached when CREATE TABLE has no
    * column list. The model clause IS the marker: anything else (Spark's
    * own `CREATE TABLE t AS SELECT`, `USING parquet AS`, ...) delegates;
    * after the model keyword, malformed tails fail loudly.
    */
  private def parseCtas(c: Cursor, db: String, t: String): Option[GraftStatement] = {
    val keysType = c.peek match {
      case Some(Ident(s, _))
          if Set("DUPLICATE", "UNIQUE", "AGGREGATE").contains(s.toUpperCase) =>
        s.toUpperCase
      case _ => return None
    }
    c.i += 1
    c.kw("KEY")
    c.sym('(')
    val ks = Seq.newBuilder[String]
    ks += c.ident()
    while (c.trySym(',')) ks += c.ident()
    c.sym(')')
    val (bucketType, bucketCol, numBuckets) =
      parseDistribution(c).getOrElse(("HASH", Option.empty[String], 1))
    val props = parseProperties(c).getOrElse(Map.empty[String, String])
    c.kw("AS")
    val q = stripTrailing(c.rest())
    if (q.isEmpty) throw new GraftParseException(s"CTAS $db.$t has an empty query")
    Some(CreateTableAs(db, t, keysType, ks.result(),
      bucketType, bucketCol, numBuckets, props, q))
  }

  /** CREATE [OR REPLACE] TEMP[ORARY] VIEW v AS SCAN db.t [...] — the `AS
    * SCAN` marker decides ownership; a normal `AS SELECT` view delegates.
    */
  private def parseScanView(c: Cursor, text: String): Option[GraftStatement] = {
    var replace = false
    if (c.tryKw("OR")) { c.kw("REPLACE"); replace = true }
    if (!c.tryKw("TEMP") && !c.tryKw("TEMPORARY")) return None
    if (!c.tryKw("VIEW")) return None
    val view = c.ident()
    if (!c.tryKw("AS")) return None
    if (!c.tryKw("SCAN")) return None // AS SELECT... is Spark's
    val (db, t) = c.qname()
    var asOfV: Option[Long] = None
    var asOfTs: Option[String] = None
    if (c.tryKw("VERSION")) { c.kw("AS"); c.kw("OF"); asOfV = Some(c.num()) }
    else if (c.tryKw("TIMESTAMP")) { c.kw("AS"); c.kw("OF"); asOfTs = Some(c.str()) }
    var partNames = Seq.empty[String]
    if (c.tryKw("PARTITIONS")) {
      c.sym('(')
      val ps = Seq.newBuilder[String]
      ps += c.ident()
      while (c.trySym(',')) ps += c.ident()
      c.sym(')')
      partNames = ps.result()
    }
    c.end()
    Some(ScanView(view, replace, db, t, asOfV, asOfTs, partNames))
  }

  // ---- types ----------------------------------------------------------------

  /** A parsed column type: the Spark type plus the declared VARCHAR bound
    * (0 = unbounded). VARCHAR(n) maps to StringType + maxLength, exactly the
    * reference's Varchar→Bytes mapping (SURVEY.md §1.2).
    */
  private final case class TypeSpec(dt: DataType, maxLen: Int)

  /** Parse a column type: the reference's 8-type parity surface spelled the
    * Doris way (TINYINT..BIGINT, FLOAT/DOUBLE, DATE, VARCHAR(n)) plus any
    * other single-token Spark DDL type (DECIMAL(p,s), TIMESTAMP, STRING,
    * BINARY...) resolved through Spark's own DDL parser.
    */
  private def parseType(c: Cursor): TypeSpec = {
    val base = c.ident().toUpperCase
    if (base == "VARCHAR") {
      c.sym('('); val len = c.num().toInt; c.sym(')')
      TypeSpec(org.apache.spark.sql.types.StringType, len)
    } else if (c.trySym('(')) {
      val args = Seq.newBuilder[Long]
      args += c.num()
      while (c.trySym(',')) args += c.num()
      c.sym(')')
      TypeSpec(DataType.fromDDL(s"$base(${args.result().mkString(",")})"), 0)
    } else TypeSpec(DataType.fromDDL(base), 0)
  }

  private def parseAggMarker(c: Cursor): Option[AggType] = c.peek match {
    case Some(Ident(s, _)) if aggNames.contains(s.toUpperCase) =>
      c.i += 1
      Some(AggType.fromName(s.toUpperCase))
    case _ => None
  }
}
