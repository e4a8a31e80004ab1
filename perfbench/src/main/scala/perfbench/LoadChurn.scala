package perfbench

/** `load_churn`: the only workload that writes in its timed loop. A seeded
  * stream of upserts of mixed size (keys skewed toward recent writes),
  * partial column updates and deletes (by key load and by key range) on a
  * Unique orders table. Every load is followed by read-your-writes point
  * lookups and a merged aggregate; the engine's own scheduled compaction and
  * GC run inline after every cycle of five loads.
  */
object LoadChurn {
  /** Rows per load in one cycle: two small and one large upsert, a partial
    * update and a delete. A fixed composition and order keep cycles
    * comparable across seeds: a lookup's cost depends on the rowsets
    * published before it and on what the last load did to its key, so a
    * shuffled order moved the point median by a quarter from seed to seed.
    * The seed picks keys and values.
    */
  val SmallRows = 200
  val LargeRows = 2000
  val PartialRows = 500
  val DeleteRows = 40
  val BaseRows = 2000
  /** Read-your-writes lookups after each timed upsert, of keys it wrote
    * first; one after a partial update or a delete, whose keys all have
    * history. A key's first lookup after a publish, and a key with history,
    * cost up to twice as much as the rest, so this mix keeps two thirds of
    * a cycle's lookups in one cheap class and its median away from the
    * edge between classes.
    */
  val UpsertLookups = 5

  def run(ctx: Ctx): Unit = {
    val t = new OrdersTable(ctx, ctx.newDir("churn-wh-"))
    t.upsert(BaseRows, 0)
    // one untimed cycle of small loads warms every call path the loop uses;
    // a merged aggregate after its last load only, to keep set-up short
    cycle(ctx, t, 0, Seq(20, 20, 10, 5), upsertLookups = 1, aggregates = false)
    ctx.rec.samples.clear()
    ctx.phase("warm")
    val rows = ctx.loop(() => t.rowsCommitted) { i =>
      cycle(ctx, t, i + 1, Seq(SmallRows, LargeRows, PartialRows, DeleteRows), UpsertLookups, aggregates = true)
    }
    ctx.rec.scalars("rows_per_s") = rows / ctx.rec.scalars("timed_wall_s")

    t.checkAgainstModel("merged scan after the loop")
    ctx.rec.scalars("reopen_ms") = t.reopen()
    t.checkAgainstModel("merged scan after reopen")
    t.recordAmplification()
  }

  /** One cycle: its loads in a fixed order, each followed by read-your-writes
    * lookups (`upsertLookups` after an upsert, one after the others) and a
    * merged aggregate (without `aggregates`, after the last load only), then
    * scheduled compaction and GC.
    */
  private def cycle(ctx: Ctx, t: OrdersTable, gen: Int, rows: Seq[Int], upsertLookups: Int,
      aggregates: Boolean): Unit = {
    val Seq(small, large, partial, delete) = rows
    val loads: Seq[(() => Unit, Int)] = Seq(
      (() => t.upsert(small, gen), upsertLookups),
      (() => t.partial(partial, gen), 1),
      (() => t.upsert(large, gen), upsertLookups),
      (() => t.delete(delete, byRange = gen % 2 == 0), 1),
      (() => t.upsert(small, gen), upsertLookups))
    loads.zipWithIndex.foreach { case ((load, lookups), i) =>
      load()
      t.lookupRecent(lookups)
      if (aggregates || i == loads.size - 1) t.aggregate()
    }
    t.compactAndGc()
  }
}
