package graft.engine

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.SparkTestSession
import graft.catalog._
import graft.model._

/** An empty read has the schema of a non-empty one: `snapshot` and
  * `snapshotAsOf` over no rowsets return the columns a rowset read returns
  * (nullable, no column metadata), not the declared catalog schema.
  */
class EmptySnapshotSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mkEngine(keys: KeysType): OlapEngine = {
    val eng = new OlapEngine(spark, Files.createTempDirectory("graft-empty-snap-wh-"))
    eng.createDatabase("db")
    val v = if (keys == KeysType.Aggregate) ColumnSpec.value("v", LongType, AggType.Sum)
      else ColumnSpec.value("v", LongType)
    eng.createTable(TableDef(
      db = "db", name = "t", schema = TableSchema(keys, Seq(
        ColumnSpec.key("k", LongType),
        ColumnSpec.varchar("s", 8, isKey = false),
        v)),
      bucketColumn = Some("k"), numBuckets = 2))
    eng
  }

  for (keys <- Seq(KeysType.Duplicate, KeysType.Unique, KeysType.Aggregate))
    test(s"$keys: empty and non-empty snapshot and snapshotAsOf share one schema") {
      import spark.implicits._
      val eng = mkEngine(keys)
      val before = System.currentTimeMillis() - 1
      val emptyScan = eng.scan("db", "t")
      val emptyAsOf = eng.snapshotAsOf("db", "t", before)
      assert(emptyScan.collect().isEmpty && emptyAsOf.collect().isEmpty)
      Thread.sleep(5)
      eng.ingest("db", "t", Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "v"))
      val m = eng.manifest("db", "t")
      val full = eng.snapshot("db", "t", 0, m.maxVersion)
      val fullAsOf = eng.snapshotAsOf("db", "t", System.currentTimeMillis())
      assert(full.count() == 2 && fullAsOf.count() == 2)
      assert(emptyScan.schema == full.schema)
      assert(emptyAsOf.schema == fullAsOf.schema)
      assert(full.schema == fullAsOf.schema)
    }
}
