package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: BM25 keyword ranking fused with embedding-cosine
  * ranking by reciprocal-rank fusion (RRF, Cormack et al. 2009:
  * score(d) = Σ 1/(K + rank_i(d)), K = 60) — the standard first-stage
  * retriever of a RAG/data-curation stack, and the payoff of maintaining
  * BOTH index families: the text side serves from the inverted-index engine
  * tables (q190) and the vector side from the IVF-PQ engine tables (q187).
  * RRF is rank-only, so the two scoring scales never need calibration —
  * which is also what makes it ORACLE-EXACT: ranks are integers, the fused
  * score is a 2-term rational sum, and DuckDB replays both rankings
  * (BM25's decimal-summed formula; the cosine's left-to-right fold).
  *
  * Scale shape: each side reduces to its top-`pool` list BEFORE ranking
  * (TakeOrderedAndProject — no global row_number over the corpus; the
  * window that assigns ranks runs over `pool` rows), and the fusion is a
  * pool-sized full-outer join. The corpus is touched only through the two
  * index serves.
  *
  * The query: the default probe terms on the text side and document 0's
  * embedding on the vector side (the corpus-with-embeddings model — vec_id
  * aligns with doc_id in the fixture tables; the probe doc itself is
  * excluded from its own vector ranking, as in q34).
  */
object Retrieval {

  /** RRF dampening constant (the value of Cormack et al. and every search
    * engine since).
    */
  val RrfK = 60

  private def rankedPool(scored: DataFrame, scoreCol: String, idCol: String,
                         rankAs: String, pool: Int): DataFrame = {
    val top = scored.orderBy(col(scoreCol).desc, col(idCol)).limit(pool)
    top.withColumn(rankAs,
      row_number().over(Window.orderBy(col(scoreCol).desc, col(idCol))))
      .select(col(idCol).as("doc_id"), col(rankAs))
  }

  private def fuse(text: DataFrame, vec: DataFrame, k: Int): DataFrame =
    text.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfK) + col("r_text")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_vec")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("r_text"), col("r_vec"), col("rrf"))

  /** The table-served BM25 side: q190's engine, top-`pool` ranked. */
  private def textRanks(spark: SparkSession, dir: String, pool: Int): DataFrame =
    rankedPool(
      TextIndex.bm25FromTable(TextIndex.engineFor(spark, dir), k = pool),
      "score", "doc_id", "r_text", pool)

  /** Verdict form (q200): the vector side uses EXACT cosine ranks for
    * document 0's embedding — fully SQL-replayable, so the driver hashes
    * the whole fusion. [[hybridRrfServed]] is the production/bench form
    * with the vector side served from the ANN index.
    */
  def hybridRrf(spark: SparkSession, dir: String,
                k: Int = 10, pool: Int = 50): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val q0 = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val sims = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q0))
      .withColumn("sim",
        Similarity.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .select(col("vec_id"), col("sim"))
    fuse(textRanks(spark, dir, pool),
      rankedPool(sims, "sim", "vec_id", "r_vec", pool), k)
  }

  /** Production/bench form: the vector ranks come from the MAINTAINED
    * IVF-PQ index (q187's engine; exact re-rank of the routed+ADC candidate
    * pool), so both retrieval legs serve from engine tables and no leg ever
    * scans the corpus exhaustively. Approximate where the index is
    * (routing recall), which is why the VERDICT form pins exact ranks.
    */
  def hybridRrfServed(spark: SparkSession, dir: String,
                      k: Int = 10, pool: Int = 50): DataFrame = {
    val eng = AnnIndex.engineFor(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // pool-depth retrieval needs deeper routing than point lookup: the
    // fused top-k hangs off ranks all the way down to `pool`, so the leg
    // probes 12/16 cells and exact-reranks 4x the pool (q266 pins the
    // resulting fusion fidelity; at 8 probes / 2x rerank the served fused
    // top-10 only overlapped the exact one 5/10)
    val vec = AnnIndex.topKFromTable(eng, emb, nProbes = 1, k = pool,
        nprobe = 12, rerank = pool * 4)
      .select(col("neighbor_id").as("doc_id"), col("rk").as("r_vec"))
    fuse(textRanks(spark, dir, pool), vec, k)
  }

  /** q207: CONTEXT ASSEMBLY — the RAG prompt-builder step after retrieval.
    * The fused top-k (q200's RRF ranking) is packed greedily into a token
    * budget in rank order: a document is included while the running token
    * total stays within budget, and packing STOPS at the first overflow
    * (the deterministic stop-at-overflow policy — no skip-and-backfill, so
    * the packed prefix is a pure function of the ranking). Emits the
    * context manifest (rank, doc, tokens, running total, included), not
    * the concatenated text — the manifest is what a prompt cache keys on.
    * Complements q89's training-side budget packing: same budget algebra,
    * driven by a retrieval ranking instead of corpus order.
    *
    * Scale shape: everything after the retrieval serve is k rows — the
    * rank/cumsum window runs over the top-k list, never the corpus.
    */
  def contextPack(spark: SparkSession, dir: String,
                  k: Int = 10, pool: Int = 50, budget: Long = 200,
                  served: Boolean = false): DataFrame = {
    // served form: token counts come from the inverted index's doclen
    // table (dl IS the whitespace token count — same normalization), so
    // the whole packed plan touches the corpus through index serves only;
    // the verdict form recomputes from the corpus so the oracle replays it
    val toks =
      if (served)
        TextIndex.doclenFor(spark, dir)
          .select(col("doc_id"), col("dl").cast("long").as("tokens"))
      else
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"))
    val fused = if (served) hybridRrfServed(spark, dir, k, pool)
                else hybridRrf(spark, dir, k, pool)
    // the fused top-k is k rows; the token side is doc-count-sized — the
    // k-row side is the one to broadcast, and stats after the limit are too
    // coarse for the planner to see that on its own
    val ranked = broadcast(fused.select(col("doc_id"), col("rrf")))
      .join(toks, "doc_id")
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id"))))
    ranked
      .withColumn("cum_tokens", sum(col("tokens")).over(
        Window.orderBy(col("rnk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("included", col("cum_tokens") <= budget)
      .select(col("rnk"), col("doc_id"), col("tokens"), col("cum_tokens"),
        col("included"))
  }

  /** q266: driver-checkable oracle for the BENCHED hybrid fusion
    * ([[hybridRrfServed]] — q200's production variant). The ANN leg is
    * index-routed (not SQL-replayable), so the audit pins the strongest
    * SQL-checkable contract over the served fusion (the q256 pattern):
    *  - exact_rrf_sum: the EXACT fusion's top-k RRF mass, recomputed
    *    independently by both engines via decimal sums (hash-checked);
    *  - text_leg_exact: the deterministic BM25 leg's ranks inside the
    *    served fusion must equal the exact fusion's for every shared doc
    *    (any drift there is a bug, not ANN approximation);
    *  - ok / margin_ok: the served top-k overlaps the exact top-k in
    *    >= 60% / 70% of docs (the q187-family recall floor).
    */
  def hybridFusionAudit(spark: SparkSession, dir: String,
                        k: Int = 10, pool: Int = 50): DataFrame = {
    val exact = hybridRrf(spark, dir, k, pool)
      .select(col("doc_id"), col("r_text").as("rt_e"), col("rrf"))
      .localCheckpoint(true)
    val served = hybridRrfServed(spark, dir, k, pool)
      .select(col("doc_id"), col("r_text").as("rt_s"))
    val j = served.join(exact, Seq("doc_id"))
      .agg(count(lit(1)).as("n_overlap"),
        coalesce(sum(when(col("rt_s").isNotNull && col("rt_e").isNotNull &&
          col("rt_s") =!= col("rt_e"), 1L).otherwise(0L)), lit(0L)).as("n_drift"))
      .head()
    val (nOverlap, nDrift) = (j.getLong(0), j.getLong(1))
    // decimal sum: rrf is already round(..., 6), so the 6-decimal cast is
    // exact and the sum order-independent — cross-engine hashable
    val exactSum = exact
      .agg(sum(col("rrf").cast("decimal(18,6)")).cast("double")).head().getDouble(0)
    spark.range(1).select(
      lit("hybrid_fusion_audit").as("metric"), lit(k).as("k"),
      lit(exactSum).as("exact_rrf_sum"),
      lit(nDrift == 0L).as("text_leg_exact"),
      lit(nOverlap >= 0.6 * k).as("ok"),
      lit(nOverlap >= 0.7 * k).as("margin_ok"))
  }

  /** q267: driver-checkable oracle for the BENCHED context pack
    * ([[contextPack]] with served=true — q207's production variant). The
    * served ranking's ANN leg is approximate; what is EXACTLY checkable is
    * the budget algebra over whatever ranking arrived plus the recall
    * contract vs the exact pack:
    *  - n_exact_included: how many docs the EXACT pack admits under the
    *    budget — recomputed independently by both engines (hash-checked);
    *  - pack_consistent: on the SERVED pack, cum_tokens re-derives as the
    *    prefix sum of tokens in rank order, included <=> cum <= budget,
    *    and ranks are dense 1..k (an independent re-derivation of the
    *    packing, not the packing path's own columns trusted);
    *  - ok: the served pack's doc set overlaps the exact pack's in >= 60%.
    */
  def contextPackAudit(spark: SparkSession, dir: String,
                       k: Int = 10, pool: Int = 50,
                       budget: Long = 200): DataFrame = {
    val served = contextPack(spark, dir, k, pool, budget, served = true)
      .localCheckpoint(true)
    val chk = served
      .withColumn("expect_cum", sum(col("tokens")).over(
        Window.orderBy(col("rnk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("rnk")).as("n_rnk"),
        max(col("rnk")).as("max_rnk"),
        coalesce(sum(when(col("cum_tokens") =!= col("expect_cum"), 1L)
          .otherwise(0L)), lit(0L)).as("bad_cum"),
        coalesce(sum(when(col("included") =!= (col("cum_tokens") <= budget), 1L)
          .otherwise(0L)), lit(0L)).as("bad_inc"))
      .head()
    val consistent = chk.getLong(0) == k && chk.getLong(1) == k &&
      chk.getInt(2) == k && chk.getLong(3) == 0L && chk.getLong(4) == 0L
    val exact = contextPack(spark, dir, k, pool, budget, served = false)
      .localCheckpoint(true)
    val nExactIncluded = exact.filter(col("included")).count()
    val overlap = served.select(col("doc_id"))
      .join(exact.select(col("doc_id")), Seq("doc_id"), "left_semi").count()
    spark.range(1).select(
      lit("context_pack_audit").as("metric"), lit(k).as("k"),
      lit(nExactIncluded).as("n_exact_included"),
      lit(consistent).as("pack_consistent"),
      lit(overlap >= 0.6 * k).as("ok"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q200_hybrid_retrieval" ->
      ((s: SparkSession, d: String) => hybridRrf(s, d)),
    "q207_context_pack" ->
      ((s: SparkSession, d: String) => contextPack(s, d)),
    "q266_hybrid_fusion_audit" ->
      ((s: SparkSession, d: String) => hybridFusionAudit(s, d)),
    "q267_context_pack_audit" ->
      ((s: SparkSession, d: String) => contextPackAudit(s, d)),
  )

  /** The q200 fusion, as shared CTEs: q200 selects the fused top-10; q207
    * extends with token counts + the budget cumsum over that same top-10.
    */
  private val fusionCtes: String =
    """WITH w AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
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
        |bmt AS (SELECT doc_id, round(CAST(sum(ts) AS DOUBLE), 4) AS score
        |        FROM s GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50),
        |bmr AS (SELECT doc_id,
        |          CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS r_text
        |        FROM bmt),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x*x)),
        |             (a,b) -> a + b)) AS nrm
        |      FROM e),
        |q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0),
        |c AS (SELECT vec_id,
        |        list_reduce(list_prepend(0.0, list_transform(range(0, len(qv)),
        |          j -> qv[j+1] * v[j+1])), (a,b) -> a + b) / (qn * nrm) AS sim
        |      FROM n, q WHERE vec_id <> 0),
        |vt AS (SELECT vec_id, sim FROM c ORDER BY sim DESC, vec_id LIMIT 50),
        |vr AS (SELECT vec_id AS doc_id,
        |         CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INT) AS r_vec
        |       FROM vt),
        |f AS (SELECT COALESCE(bmr.doc_id, vr.doc_id) AS doc_id, r_text, r_vec,
        |        round(COALESCE(1.0/(60 + r_text), 0.0) +
        |              COALESCE(1.0/(60 + r_vec), 0.0), 6) AS rrf
        |      FROM bmr FULL OUTER JOIN vr ON bmr.doc_id = vr.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    // full replay: BM25 formula (q118's decimal route) + exact cosine fold
    // (q109's left-to-right route) + integer-rank RRF — every layer of the
    // fusion is hash-checked
    "q200_hybrid_retrieval" -> (fusionCtes +
      """
        |SELECT doc_id, r_text, r_vec, rrf FROM f
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),
    // q207: the same fused top-10, packed — token counts, the running
    // total in rank order, and the stop-at-overflow inclusion flag are all
    // recomputed; a different ranking, token count, or budget edge flips
    // the hash
    "q207_context_pack" -> (fusionCtes +
      """,
        |top AS (SELECT doc_id, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT 10),
        |tk AS (SELECT doc_id,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tokens
        |       FROM documents),
        |rkd AS (SELECT top.doc_id, tokens,
        |          CAST(row_number() OVER (ORDER BY rrf DESC, top.doc_id) AS INT) AS rnk
        |        FROM top JOIN tk USING (doc_id)),
        |cum AS (SELECT rnk, doc_id, tokens,
        |          CAST(sum(tokens) OVER (ORDER BY rnk
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |        FROM rkd)
        |SELECT rnk, doc_id, tokens, cum_tokens,
        |  cum_tokens <= 200 AS included
        |FROM cum""".stripMargin),
    // q266: exact_rrf_sum is the exact fusion's top-10 RRF mass recomputed
    // in SQL via the same decimal route (hash-checked); the text-leg and
    // overlap verdicts over the served fusion are pinned
    "q266_hybrid_fusion_audit" -> (fusionCtes +
      """
        |SELECT 'hybrid_fusion_audit' AS metric, 10 AS k,
        |  (SELECT CAST(sum(CAST(rrf AS DECIMAL(18,6))) AS DOUBLE)
        |   FROM (SELECT rrf FROM f ORDER BY rrf DESC, doc_id LIMIT 10)) AS exact_rrf_sum,
        |  true AS text_leg_exact, true AS ok, true AS margin_ok""".stripMargin),
    // q267: n_exact_included is the exact pack's admitted-doc count
    // recomputed in SQL (hash-checked); the served pack's budget-algebra
    // and overlap verdicts are pinned
    "q267_context_pack_audit" -> (fusionCtes +
      """,
        |top AS (SELECT doc_id, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT 10),
        |tk AS (SELECT doc_id,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tokens
        |       FROM documents),
        |rkd AS (SELECT top.doc_id, tokens,
        |          CAST(row_number() OVER (ORDER BY rrf DESC, top.doc_id) AS INT) AS rnk
        |        FROM top JOIN tk USING (doc_id)),
        |cum AS (SELECT rnk, cum_tokens FROM (SELECT rnk,
        |          CAST(sum(tokens) OVER (ORDER BY rnk
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |        FROM rkd))
        |SELECT 'context_pack_audit' AS metric, 10 AS k,
        |  (SELECT count(*) FROM cum WHERE cum_tokens <= 200) AS n_exact_included,
        |  true AS pack_consistent, true AS ok""".stripMargin),
  )
}
