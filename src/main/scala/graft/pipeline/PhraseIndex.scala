package graft.pipeline

import java.nio.file.Files
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog._
import graft.engine.OlapEngine
import graft.manifest.Version
import graft.model._

/** The POSITIONAL index AS maintained engine tables — the phrase-query
  * completion of the text-index family. [[TextIndex]]'s `inv_postings`
  * stores (word, doc) → tf, which answers "does the doc contain the terms"
  * (BM25, reverse search) but cannot answer "does it contain them
  * ADJACENTLY": phrase search, and the keyword-in-context snippets a search
  * UI shows, need token positions. (Reference anchor: src/index/mod.rs:95-108
  * — the index family is declared, never populated; this module keeps the
  * populated-and-maintained discipline of q187/q190.)
  *
  * One Unique-model table under `graft_idx`:
  *  - `inv_positions` (word, doc_id) → pos_list: the Lucene-shaped
  *    positional posting — one row per (word, document) whose value is the
  *    sorted 1-based positions of that word IN that document. The array is
  *    bounded by one word's occurrences in ONE document (never a corpus-wide
  *    hot-word list, the q98 scale rule), and row-count equals
  *    `inv_postings` — positions cost array payload, not cardinality.
  *    Bucketed by `word` so a phrase probe bucket-prunes to its terms.
  *
  * Phrase matching is the SAME conjunctive-arity algebra as
  * [[TextIndex.reverseSearch]], transposed to positions: slot `i` of the
  * phrase emits (doc_id, pos - i) for each of its word's positions, and a
  * phrase occurrence is a (doc_id, start) group containing EVERY slot —
  * one aggregation, one shuffle, no n-way self-join chain growing with
  * phrase length. Stats-free and exact.
  *
  * Maintenance contract matches [[TextIndex]] exactly: nothing is fitted, a
  * document's positions depend on that document alone, so [[bootstrap]] IS
  * [[applyDelta]], folds are exact/idempotent/batching-order-free, and
  * [[refold]] handles CHANGED documents by tombstoning (word, doc) rows
  * whose word vanished from the new text (position-array changes for
  * surviving words are plain Unique upserts).
  */
object PhraseIndex {

  val Db = "graft_idx"
  val PositionsTable = "inv_positions"
  val NumBuckets = 8

  /** q211's standing phrases: lengths 2 and 3, so the slot algebra is
    * exercised beyond the bigram case.
    */
  val DefaultPhrases: Seq[(Long, Seq[String])] =
    Seq(0L -> Seq("table", "hash"), 1L -> Seq("big", "order", "scan"))

  def createTables(eng: OlapEngine): Unit = {
    eng.createDatabase(Db)
    eng.createTable(TableDef(
      db = Db, name = PositionsTable,
      schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("word", StringType),
        ColumnSpec.key("doc_id", LongType),
        ColumnSpec.value("pos_list", ArrayType(IntegerType)))),
      bucketColumn = Some("word"), numBuckets = NumBuckets))
    // the positional family maintains the SAME doc-keyed forward table the
    // keyword family uses (one tokenization ⇒ identical word sets), which
    // is what makes refold/deleteDocs delta-sized here too
    TextIndex.ensureFwdTable(eng)
  }

  /** [[TextIndex]]'s tokenization with 1-based positions (1-based to match
    * the oracle's `generate_subscripts`, and so snippet windows are closed
    * intervals with no off-by-one at the document head).
    */
  private def positions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+")))
      .select(col("doc_id"), (col("pos") + 1).cast(IntegerType).as("pos"),
        col("col").as("word"))

  /** Per-(word, doc) sorted position arrays for a document batch. Shared
    * with [[TextIndex.refold]]'s family-wide update path.
    */
  private[pipeline] def postingRows(docs: DataFrame): DataFrame =
    positions(docs)
      .groupBy(col("word"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("pos_list"))

  /** Initial build = the delta fold on the starting corpus (stateless per
    * document, like [[TextIndex.bootstrap]]).
    */
  def bootstrap(eng: OlapEngine, docs: DataFrame): Unit = applyDelta(eng, docs)

  /** Fold a NEW-document batch: per-doc position arrays upserted through
    * the Unique-model ingest, plus the doc's word set into the shared
    * forward table, under one load group (a probe never sees positions for
    * a document whose forward row has not landed). Idempotent — both
    * tables' rows are pure Unique upserts, and a co-resident
    * [[TextIndex.applyDelta]] of the same batch writes the identical
    * forward rows. For CHANGED documents use [[refold]].
    */
  def applyDelta(eng: OlapEngine, delta: DataFrame): Unit = {
    if (delta.isEmpty) return // an empty batch publishes nothing
    val pos = positions(delta).localCheckpoint(true) // one tokenize, two aggs
    val g = eng.newLoadGroup()
    eng.ingest(Db, PositionsTable,
      pos.groupBy(col("word"), col("doc_id"))
        .agg(sort_array(collect_list(col("pos"))).as("pos_list")),
      group = Some(g))
    eng.ingest(Db, TextIndex.FwdTable,
      pos.groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("word"))).as("words")),
      group = Some(g))
    eng.commitGroup(g)
  }

  /** Re-fold CHANGED documents: delegates to the family-wide
    * [[TextIndex.refold]] — the vanished-word diff comes from the shared
    * doc-keyed forward table (delta-sized; the word-bucketed positions
    * index is never scanned), and every resident family's tables update
    * under one commit. `FwdProbe` pins the flat-at-1×/10×/100× cost.
    */
  def refold(eng: OlapEngine, changed: DataFrame): Unit =
    TextIndex.refold(eng, changed)

  /** DELETE documents from the positional index: delegates to the
    * family-wide [[TextIndex.deleteDocs]] — the doomed (word, doc) keys
    * come from the shared forward table (delta-sized), never from a scan
    * of the positions index. Unknown ids are harmless no-ops.
    */
  def deleteDocs(eng: OlapEngine, ids: DataFrame): Unit =
    TextIndex.deleteDocs(eng, ids)

  /** Every occurrence of `phrase`: (doc_id, start) with start = the 1-based
    * position of the phrase's first token. Slot i of the phrase contributes
    * (doc_id, pos - i) per position of its word; an occurrence is a group
    * matching ALL slots (countDistinct, so a phrase with repeated words
    * can't satisfy two slots with one token). The word filter bucket-prunes
    * the positions scan; the single shuffle is the groupBy.
    */
  def phraseHits(eng: OlapEngine, phrase: Seq[String]): DataFrame = {
    val spark = eng.spark
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    require(phrase.nonEmpty, "empty phrase")
    val slots = phrase.zipWithIndex.map { case (w, i) => (w, i) }
      .toDF("w", "slot")
    val pos = eng.scan(Db, PositionsTable)
      .filter(col("word").isin(phrase.distinct.map(_.asInstanceOf[Any]): _*))
      .select(col("word").as("w"), col("doc_id"),
        explode(col("pos_list")).as("pos"))
    pos.join(broadcast(slots), "w")
      .select(col("doc_id"), (col("pos") - col("slot")).as("start"),
        col("slot"))
      .groupBy(col("doc_id"), col("start"))
      .agg(countDistinct(col("slot")).as("n_slots"))
      .filter(col("n_slots") === phrase.length && col("start") >= 1)
      .select(col("doc_id"), col("start").cast(IntegerType).as("start"))
  }

  /** q211: per-document occurrence counts for the standing phrases — the
    * phrase-search result page. One plan per phrase (different arities),
    * unioned with the phrase id.
    */
  def phraseCounts(eng: OlapEngine,
                   phrases: Seq[(Long, Seq[String])] = DefaultPhrases)
  : DataFrame =
    phrases.map { case (pid, phrase) =>
      phraseHits(eng, phrase)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(pid).as("phrase_id"), col("doc_id"), col("n_hits"))
    }.reduce(_ unionByName _)

  /** q212: keyword-in-context snippets for a phrase, SERVED from the index
    * (no document text touched): each match's window
    * [start - ctx, start + len - 1 + ctx] is re-assembled by inverting the
    * position arrays of the matched documents. The positions scan is
    * semi-filtered to matched docs (matches are query-sized — broadcast);
    * tokens land in their slots via the window join; the snippet is the
    * pos-sorted concat. Clamped at the document head by construction
    * (positions are ≥ 1) and at the tail by absence (no tokens exist past
    * the end).
    */
  def kwicSnippets(eng: OlapEngine, phrase: Seq[String] = Seq("table", "hash"),
                   ctx: Int = 2): DataFrame = {
    val hits = phraseHits(eng, phrase)
    val lo = col("start") - ctx
    val hi = col("start") + (phrase.length - 1) + ctx
    val matchedDocs = hits.select(col("doc_id")).distinct()
    val tok = eng.scan(Db, PositionsTable)
      .join(broadcast(matchedDocs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("word"), explode(col("pos_list")).as("pos"))
    tok.join(broadcast(hits.withColumn("lo", lo).withColumn("hi", hi)),
        Seq("doc_id"))
      .filter(col("pos").between(col("lo"), col("hi")))
      .groupBy(col("doc_id"), col("start"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("pos"), col("word")))),
        t => t.getField("word")), " ").as("snippet"))
      .select(col("doc_id"), col("start"), col("snippet"))
  }

  // --- driver fixture + queries --------------------------------------------

  private val cache = TrieMap.empty[String, OlapEngine]
  private def deleteWarehouse(e: OlapEngine): Unit = {
    def del(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
    }
    del(e.warehouse.toFile)
  }
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      cache.values.foreach(deleteWarehouse)))
  }

  /** Drops AND deletes the cached engines' temp warehouses. */
  def clearCaches(): Unit = {
    cache.values.foreach(deleteWarehouse)
    cache.clear()
    dlCache.values.foreach { case (df, _, _) => df.unpersist(); () }
    dlCache.clear()
  }

  /** Per-(engine, positions generation) document-length view + corpus
    * stats, memoized (optimization r13): dl = Σ tf over every word of a doc
    * is a property of the INDEX generation, not of any query, yet q249
    * re-aggregated the whole positions table (and re-ran the stats
    * aggregate + its broadcast) on every serve. The persisted doc-count-
    * sized frame is the positional index's doclen sidecar — the same
    * maintained-artifact class as TextIndex's DoclenTable — and carries
    * real statistics for the planner. A fold/compaction bumps the manifest
    * version and invalidates.
    */
  private val dlCache = TrieMap.empty[(String, Long), (DataFrame, Long, Double)]
  private def doclenStats(eng: OlapEngine): (DataFrame, Long, Double) = {
    val ver = eng.manifest(Db, PositionsTable).maxVersion
    dlCache.getOrElseUpdate((eng.warehouse.toString, ver), {
      val dl = eng.scan(Db, PositionsTable).groupBy(col("doc_id"))
        .agg(sum(size(col("pos_list"))).cast("long").as("dl"))
        .persist()
      val r = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("a")).head()
      (dl, r.getLong(0), r.getDouble(1))
    })
  }

  /** Driver fixture, same discipline as [[TextIndex.engineFor]]: bootstrap
    * on 90% of the corpus, fold the rest, then the engine's scheduled
    * compaction — q211's green hash certifies fold + Unique round-trip +
    * compaction + the phrase algebra at once.
    */
  def engineFor(spark: SparkSession, dir: String): OlapEngine =
    cache.getOrElseUpdate(dir, {
      val eng = new OlapEngine(spark, graft.FastTmp.newDir("graft-phridx-"))
      createTables(eng)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      bootstrap(eng, docs.filter(col("doc_id") % 10 =!= 0))
      applyDelta(eng, docs.filter(col("doc_id") % 10 === 0))
      eng.runScheduledCompaction()
      eng
    })

  /** q249: PROXIMITY-boosted ranking — both scoring legs served from the
    * ONE maintained positional index, no document text touched. Pass 1 is
    * BM25 (q118's exact decimal route) computed FROM the index: tf =
    * `size(pos_list)` of the query terms' rows (bucket-pruned by `word`),
    * doc length = the per-doc sum of tf over all words, corpus stats from
    * the same aggregate. Pass 2 re-scores only the top-`kCand` candidates
    * by term proximity: the minimum |p_i − p_j| over DISTINCT query-term
    * pairs in the doc (positions exploded from the candidates' rows — a
    * candidate-sized self-join, never corpus-sized), boosting the final
    * score by round(1/(1+minpair), 4) in exact DECIMAL arithmetic. Docs
    * where the terms appear but never co-occur get no boost (NULL
    * minpair ⇒ 0). The classic two-stage retrieve-then-rerank shape, with
    * the positional index powering BOTH stages — what tf-only postings
    * (q118/q190) structurally cannot express.
    *
    * Deterministic end-to-end (4-decimal scores, id tie-breaks), so the
    * DuckDB oracle replays every layer from the raw corpus — including
    * WHICH candidates make the cut and the exact pair distances.
    */
  def proximityRerank(eng: OlapEngine,
                      terms: Seq[String] = Seq("spark", "data", "join", "query"),
                      kCand: Int = 50, k: Int = 10): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val pos = eng.scan(Db, PositionsTable)
    // per-generation doclen view + stats from the memo (optimization r13) —
    // previously re-aggregated over the whole positions table per serve
    val (dl, nDocs, avgdl) = doclenStats(eng)
    val tf = pos.filter(col("word").isin(terms.map(_.asInstanceOf[Any]): _*))
      .select(col("word").as("w"), col("doc_id"),
        size(col("pos_list")).cast("long").as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val idf = log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val termScore = idf * col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    val cand = tf.join(broadcast(dfreq), "w")
      .join(dl, "doc_id")
      .select(col("doc_id"),
        round(termScore, 8).cast("decimal(18,8)").as("ts"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("ts")).cast("double"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(kCand)
    val cpos = pos.filter(col("word").isin(terms.map(_.asInstanceOf[Any]): _*))
      .join(broadcast(cand.select(col("doc_id"))), "doc_id")
      .select(col("doc_id"), col("word"), explode(col("pos_list")).as("p"))
    val pairs = cpos.as("a").join(cpos.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.word") < col("b.word"))
      .groupBy(col("a.doc_id").as("doc_id"))
      .agg(min(abs(col("a.p") - col("b.p"))).cast("long").as("minpair"))
    cand.join(pairs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bm25"), col("minpair"),
        (col("bm25").cast("decimal(18,4)") +
          coalesce(round(lit(1.0) / (lit(1.0) + col("minpair")), 4), lit(0.0))
            .cast("decimal(18,4)")).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q211_phrase_search" ->
      ((s: SparkSession, d: String) => phraseCounts(engineFor(s, d))),
    "q212_kwic_snippets" ->
      ((s: SparkSession, d: String) => kwicSnippets(engineFor(s, d))),
    "q249_proximity_rerank" ->
      ((s: SparkSession, d: String) => proximityRerank(engineFor(s, d))),
  )

  val oracles: Map[String, String] = Map(
    // q249: every layer replayed from the raw corpus — the q118 decimal
    // BM25 route, the (score desc, id) top-50 candidate cut, exact
    // pairwise position distances over DISTINCT term pairs, and the
    // DECIMAL-exact boost sum. A wrong candidate set, a corpus-sized
    // proximity (wrong docs), or a float drift all flip the hash.
    "q249_proximity_rerank" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS arr FROM documents),
        |w AS (SELECT doc_id, unnest(arr) AS w,
        |    generate_subscripts(arr, 1) AS pos FROM t),
        |dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1),
        |g AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM w
        |       WHERE w IN ('spark','data','join','query') GROUP BY 1, 2),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |s AS (SELECT tf.doc_id,
        |        CAST(round(
        |          ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |            * tf.tf * (1.2 + 1) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)),
        |          8) AS DECIMAL(18,8)) AS ts
        |      FROM tf JOIN df USING (w) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN g),
        |cand AS (SELECT doc_id, round(CAST(sum(ts) AS DOUBLE), 4) AS bm25
        |         FROM s GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
        |tp AS (SELECT w.doc_id, w.w, w.pos FROM w JOIN cand USING (doc_id)
        |       WHERE w.w IN ('spark','data','join','query')),
        |mp AS (SELECT a.doc_id, CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS minpair
        |       FROM tp a JOIN tp b ON a.doc_id = b.doc_id AND a.w < b.w
        |       GROUP BY 1)
        |SELECT cand.doc_id, cand.bm25, mp.minpair,
        |  CAST(CAST(cand.bm25 AS DECIMAL(18,4)) +
        |       CAST(coalesce(round(1.0 / (1.0 + mp.minpair), 4), 0.0)
        |            AS DECIMAL(18,4)) AS DOUBLE) AS score
        |FROM cand LEFT JOIN mp USING (doc_id)
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // q211: the slot algebra replayed from the raw corpus — position of
    // slot i's word minus i, a (phrase, doc, start) group must cover every
    // slot. generate_subscripts zips with unnest (1-based, matching the
    // index's positions).
    "q211_phrase_search" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(arr) AS w,
        |    generate_subscripts(arr, 1) AS pos FROM t),
        |q(phrase_id, slot, w) AS (VALUES
        |  (0, 0, 'table'), (0, 1, 'hash'),
        |  (1, 0, 'big'), (1, 1, 'order'), (1, 2, 'scan')),
        |a AS (SELECT phrase_id, count(*) AS n_terms FROM q GROUP BY 1),
        |m AS (SELECT q.phrase_id, w.doc_id, w.pos - q.slot AS start,
        |        count(DISTINCT q.slot) AS n_slots
        |      FROM w JOIN q USING (w) GROUP BY 1, 2, 3),
        |hit AS (SELECT m.phrase_id, m.doc_id FROM m JOIN a USING (phrase_id)
        |        WHERE n_slots = n_terms AND start >= 1)
        |SELECT CAST(phrase_id AS BIGINT) AS phrase_id, doc_id,
        |  count(*) AS n_hits
        |FROM hit GROUP BY 1, 2""".stripMargin,
    // q212: snippets replayed by array slicing — [start-2, start+3] for the
    // 2-token phrase with 2 context tokens each side, clamped at the head
    // (DuckDB slices are 1-based inclusive; the tail clamps itself).
    "q212_kwic_snippets" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(arr) AS w,
        |    generate_subscripts(arr, 1) AS pos FROM t),
        |m AS (SELECT a.doc_id, a.pos AS start
        |      FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |      WHERE a.w = 'table' AND b.w = 'hash')
        |SELECT m.doc_id, CAST(m.start AS INT) AS start,
        |  array_to_string(t.arr[greatest(1, m.start - 2):m.start + 3], ' ')
        |    AS snippet
        |FROM m JOIN t ON m.doc_id = t.doc_id""".stripMargin,
  )
}
