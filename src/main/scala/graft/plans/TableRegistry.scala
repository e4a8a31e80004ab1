package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.catalog.TableDef
import graft.engine.OlapEngine
import graft.manifest.{RowsetMeta, TableManifest}

/** The one table registry behind every graft optimizer rule: a normalized
  * table root (the directory holding the table's rowset dirs) maps to the
  * engine and name that own it. [[OlapEngine.createTable]] and the engine's
  * constructor sweep write each table once; nothing else writes here.
  *
  * Rules resolve a scan's parquet leaf dirs through it and then read LIVE
  * state at plan time — routing, layout floor and partition slots from the
  * catalog's [[TableDef]], rowset stats from the manifest, rollup and MV
  * definitions from the engine's managers — so DDL never has to re-sync a
  * rule. A dir that resolves to nothing is left alone (scanned, never
  * pruned or rewritten). When two engines open the same warehouse, the one
  * opened last owns its tables here.
  */
object TableRegistry {

  /** A registered table: the engine that owns it and its qualified name. */
  final case class Table(eng: OlapEngine, db: String, name: String) {
    def definition: Option[TableDef] = eng.catalog.getTable(db, name)
    def manifest: TableManifest = eng.manifest(db, name)
    def root: java.nio.file.Path = eng.tableRoot(db, name)

    /** Absolute normalized dir of one of this table's rowsets. */
    def dirOf(r: RowsetMeta): String = root.resolve(r.relDir).toAbsolutePath.normalize.toString

    /** The manifest entry of one rowset dir — visible, stale or borrowed by
      * a shallow clone (the source manifest keeps a borrowed rowset while
      * any clone lives).
      */
    def rowsetAt(dir: String): Option[RowsetMeta] = {
      val leaf = java.nio.file.Paths.get(dir).getFileName.toString
      manifest.allRowsets.find(r => r.relDir.endsWith(leaf) && dirOf(r) == dir)
    }
  }

  private val byRoot = TrieMap.empty[String, Table]

  def register(eng: OlapEngine, db: String, table: String): Unit =
    byRoot(eng.tableRoot(db, table).toAbsolutePath.normalize.toString) =
      Table(eng, db, table)

  /** Does `plan` read a file of any registered table? Every rule's fast
    * path: a plan that reads none has nothing to prune or rewrite.
    */
  def readsAny(plan: LogicalPlan): Boolean = plan.exists {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.exists(p =>
        Option(p.getParent).exists(root => byRoot.contains(root.toUri.getPath)))
      case _ => false
    }
    case _ => false
  }

  private def parentOf(dir: String): Option[String] =
    Option(java.nio.file.Paths.get(dir).getParent).map(_.toString)

  /** The live table `dirs` belong to: the one whose root holds them all, or
    * — for a shallow clone with loads of its own, whose scan spans its own
    * root and its source's — the one among their roots' tables whose
    * manifest lists every dir.
    */
  def ofDirs(dirs: Iterable[String]): Option[Table] = {
    val live = (_: Table).definition.nonEmpty
    dirs.map(parentOf).toSeq.distinct match {
      case Seq(Some(root)) => byRoot.get(root).filter(live)
      case roots => roots.flatten.flatMap(byRoot.get).filter(live).find { t =>
        val listed = t.manifest.allRowsets.map(t.dirOf).toSet
        dirs.forall(listed)
      }
    }
  }
}
