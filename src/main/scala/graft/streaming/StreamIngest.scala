package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.engine.OlapEngine

/** Streaming ingest into an engine table: each micro-batch becomes one
  * atomically-published rowset — the Structured Streaming expression of the
  * reference's load→publish cycle (src/storage.rs:79-87), where a "load" is a
  * micro-batch instead of a client RPC. Versions advance monotonically per
  * batch, so MVCC snapshot reads see a consistent prefix of the stream and
  * late-arriving batches never tear a published version.
  *
  * At scale this is the standard lakehouse pattern: `foreachBatch` gives
  * exactly-once rowset publication ([[ingestOnce]]), and compaction folds the
  * small streaming rowsets into base rowsets out-of-band.
  */
object StreamIngest {

  /** `refreshRollups`: names of materialized rollups to keep current — after
    * each batch's publish they refresh INCREMENTALLY (delta aggregation +
    * rollup-sized merge, see `RollupManager.refreshIncremental`), so rollup
    * staleness is bounded by one micro-batch without rescanning the base.
    * `refreshMvs`: same for join MVs on this table as the fact side
    * (`MvManager.refreshIncremental` joins only the batch delta against the
    * dim), so transparent MV answers stay one micro-batch fresh too.
    * `opColumn`: streaming CDC-apply for Unique tables (the Doris routine
    * load `__op` pattern) — the named int column marks each record 0=upsert
    * / 1=delete, and the whole batch lands as ONE rowset under ONE version,
    * so a concurrent snapshot never sees a half-applied batch.
    */
  def start(eng: OlapEngine, db: String, table: String, source: DataFrame,
            checkpoint: String, refreshRollups: Seq[String] = Nil,
            refreshMvs: Seq[String] = Nil,
            opColumn: Option[String] = None): StreamingQuery =
    source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestOnce(eng, db, table, Paths.get(checkpoint, "rowsets"), batchId,
          opColumn)(batch)
        refreshRollups.foreach(n => eng.rollups.refreshIncremental(db, table, n))
        refreshMvs.foreach(n => eng.mvs.refreshIncremental(db, table, n))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Publishes micro-batch `batchId` of a stream as one rowset, once.
    * `ledger` is a dir that lives as long as the stream's checkpoint (under
    * it, for [[start]]); it maps each batch id to the rowset id reserved for
    * it from the table's own counter, BEFORE the write. A replay whose
    * reserved rowset is in the manifest is skipped (the manifest's duplicate
    * check, src/tablet.rs:118-120 analogue); any other replay clears the
    * orphan dir a crash between write and publish left behind, then writes
    * under the reserved id. Ordinary loads take ids from the same counter,
    * so they never collide with a stream's.
    *
    * Limit: the counter restarts from the highest published id when the
    * manifest is reloaded, so a reservation that never published can be
    * handed to an ordinary load made after a restart and before the stream
    * replays — that replay then reads as published and is skipped.
    */
  private[graft] def ingestOnce(eng: OlapEngine, db: String, table: String,
      ledger: Path, batchId: Long, opColumn: Option[String])(
      batch: => DataFrame): Unit = {
    val entry = ledger.resolve(batchId.toString)
    val m = eng.manifest(db, table)
    val reserved =
      if (Files.exists(entry)) Some(Files.readString(entry).trim.toLong) else None
    if (reserved.exists(rid => m.allRowsets.exists(_.rowsetId == rid))) return
    val rid = reserved.getOrElse {
      val r = m.nextRowsetId
      Files.createDirectories(ledger)
      val tmp = Files.writeString(ledger.resolve(s".$batchId.tmp"), r.toString)
      Files.move(tmp, entry, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      r
    }
    graft.FastTmp.deleteTree(eng.tableRoot(db, table).resolve(s"r$rid"))
    eng.ingest(db, table, batch, explicitRowsetId = Some(rid), opColumn = opColumn)
    ()
  }

  /** The read-side complement: tail an engine table as a stream. Every rowset
    * published after the stream starts arrives as new files under a new
    * `r{N}` directory, which the file source's glob picks up — the CDC feed a
    * downstream consumer (index builder, rollup maintainer, replicator) runs
    * on instead of rescanning the table. The stream is the RAW append log:
    * merge-on-read is NOT applied (a consumer of a Unique table sees upserts
    * and tombstone markers in arrival order and applies its own merge —
    * exactly how CDC consumers of Doris/StarRocks-family engines work).
    */
  def streamTable(eng: OlapEngine, db: String, table: String): DataFrame = {
    val td = eng.catalog.getTable(db, table).getOrElse(
      throw new NoSuchElementException(s"no table $db.$table"))
    // files hold the schema columns (partition/bucket live in dir names);
    // Unique tables additionally persist the seq/op markers — surface them
    val extra = td.schema.keysType match {
      case graft.model.KeysType.Duplicate => Seq.empty[org.apache.spark.sql.types.StructField]
      case graft.model.KeysType.Aggregate => Seq(
        org.apache.spark.sql.types.StructField(eng.SeqCol, org.apache.spark.sql.types.LongType))
      case graft.model.KeysType.Unique => Seq(
        org.apache.spark.sql.types.StructField(eng.SeqCol, org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(eng.OpCol, org.apache.spark.sql.types.IntegerType))
    }
    val schema = org.apache.spark.sql.types.StructType(
      td.schema.toStructType.fields.toSeq ++ extra)
    // recursiveFileLookup: the hive-style __graft_part/__graft_bucket dirs
    // are placement metadata, not payload — flat file listing sidesteps
    // partition inference over a glob of per-rowset roots
    eng.spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .parquet(s"${eng.tableRoot(db, table)}/r*")
  }
}
