package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Invariants for the hash-family pipeline operators that have no SQL oracle
  * (MinHash/SimHash/LSH): determinism, self-similarity, symmetry.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def df = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"),
      (2L, "completely different content about spark engines"),
      (3L, "the quick brown fox jumps over the lazy dog") // exact dup of 0
    ).toDF("doc_id", "text")
  }

  test("minhash signature: deterministic, equal for equal texts, length = bands*rows") {
    import spark.implicits._
    val sig = Dedup.minhashSignatures(df, "doc_id", "text", 3, 32)
      .as[(Long, Seq[Long])].collect().toMap
    assert(sig(0L) == sig(3L))            // identical text -> identical signature
    assert(sig.values.forall(_.size == 32))
    assert(sig(0L) != sig(2L))            // different text -> different signature
    // near-identical texts share most minima (LSH premise)
    val shared = sig(0L).zip(sig(1L)).count { case (a, b) => a == b }
    assert(shared > 16, s"near-dup docs shared only $shared/32 minima")
  }

  test("capBuckets drops exactly the over-cap buckets, keeps the rest whole") {
    import spark.implicits._
    // bucket 'hot' has 4 members (pathological boilerplate), 'warm' 2, 'cold' 1
    val banded = Seq(
      (0L, "hot"), (1L, "hot"), (2L, "hot"), (3L, "hot"),
      (4L, "warm"), (5L, "warm"),
      (6L, "cold")
    ).toDF("doc_id", "bh")
    val capped = Dedup.capBuckets(banded, Seq("bh"), cap = 3)
      .select(col("doc_id"), col("bh"))
      .as[(Long, String)].collect().toSet
    assert(capped == Set((4L, "warm"), (5L, "warm"), (6L, "cold")))
    // cap above every bucket size = identity
    assert(Dedup.capBuckets(banded, Seq("bh"), cap = 10).count() == 7)
    // the capped LSH path still finds the corpus's near-dups when no bucket
    // is actually hot (cap binds nothing -> same pairs as uncapped q31)
    val dir = "/root/testdata/sf0.001"
    val uncapped = Dedup.minhashLsh(spark, dir).collect().map(_.toString).toSet
    val guarded = Dedup.minhashLsh(spark, dir, maxBucket = Some(1000))
      .collect().map(_.toString).toSet
    assert(guarded == uncapped)
  }

  test("simhash: deterministic, equal for equal texts, near for near-dups") {
    import spark.implicits._
    val sh = df.select(col("doc_id"), Dedup.simhashCol(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(sh(0L) == sh(3L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0L), sh(1L)) < hamming(sh(0L), sh(2L)))
  }

  test("simhashSignatures (explode+agg) is bit-identical to simhashCol (left fold)") {
    import spark.implicits._
    val viaFold = df.select(col("doc_id"), Dedup.simhashCol(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    val viaAgg = Dedup.simhashSignatures(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(viaFold == viaAgg)
  }

  test("simhash60: a null word is skipped, a null text keeps its row with a null signature") {
    import spark.implicits._
    val words = Seq((0L, Seq("quick", "brown", "fox")),
      (1L, Seq("quick", null, "brown", null, "fox")), (2L, null: Seq[String]))
      .toDF("doc_id", "w")
      .select(col("doc_id"), graft.functions.Simhash60.simhash60(col("w")).as("h"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(words(0L).isDefined && words(1L) == words(0L))
    assert(words(2L).isEmpty)
    val docs = Seq((0L, "quick brown fox"), (1L, null: String)).toDF("doc_id", "text")
    val sig = Dedup.simhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(sig == Map(0L -> words(0L), 1L -> None))
    // the row fold agrees on null text
    assert(docs.orderBy("doc_id").select(Dedup.simhashCol(col("text"))).collect()
      .map(r => Option(r.get(0))).toSeq == Seq(words(0L), None))
  }

  test("shingles: k-grams over words; short texts degrade to one shingle") {
    import spark.implicits._
    val s = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(s(1L) == Seq("a b c", "b c d"))
    assert(s(2L) == Seq("a b"))
  }

  test("cosine: self-similarity is 1, symmetry holds") {
    import spark.implicits._
    val e = Seq((0L, Seq(1.0, 2.0, 3.0)), (1L, Seq(-1.0, 0.5, 2.0)))
      .toDF("id", "v")
    val self = e.select(Similarity.cosine(col("v"), col("v")).as("c"))
      .as[Double].collect()
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
    val cross = e.as("a").crossJoin(e.as("b"))
      .select(col("a.id"), col("b.id"), Similarity.cosine(col("a.v"), col("b.v")).as("c"))
      .as[(Long, Long, Double)].collect()
    val m = cross.map { case (a, b, c) => (a, b) -> c }.toMap
    assert(math.abs(m((0L, 1L)) - m((1L, 0L))) < 1e-12)
  }

  test("LSH signature deterministic and stable across evaluations") {
    import spark.implicits._
    val e = Seq((0L, Seq.tabulate(64)(i => math.sin(i + 1))),
      (1L, Seq.tabulate(64)(i => math.cos(i * 2 + 1)))).toDF("id", "v")
    def sigs = e.select(col("id"), Similarity.lshSignature(col("v"), 8).as("s"))
      .as[(Long, Long)].collect().toMap
    val s1 = sigs; val s2 = sigs
    assert(s1 == s2)
  }

  test("multimodal fake decode: frames derived from byte length") {
    val r = Multimodal.FakeMediaCodec.decode(
      Multimodal.MediaRow(7L, Array.fill[Byte](600)(1), "img"))
    assert(r == Multimodal.MediaFeatures(7L, 600L, 3L))
  }

  test("perceptual dHash: deterministic, length-preserving edits stay near") {
    def row(bytes: Array[Byte]) = Multimodal.MediaRow(0L, bytes, "img")
    val base = Array.tabulate[Byte](500)(i => ((i * 37 + 11) % 251).toByte)
    val h0 = Multimodal.dHash(row(base))
    assert(h0 == Multimodal.dHash(row(base.clone())))          // deterministic
    assert(h0.dhash >= 0L)                                     // 60-bit positive
    // one-byte in-place edit (the re-encode analogue): flips at most the
    // gradient bits that read the edited byte — way inside radius 3
    val tweaked = base.clone(); tweaked(0) = (tweaked(0) + 1).toByte
    val h1 = Multimodal.dHash(row(tweaked))
    assert(java.lang.Long.bitCount(h0.dhash ^ h1.dhash) <= 3)
    // pigeonhole completeness of the 4-band split: any pair within hamming
    // 3 shares at least one exact 15-bit band (randomized over edit masks)
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      var other = h0.dhash
      (0 until 3).foreach(_ => other ^= 1L << rnd.nextInt(60))
      val shares = (0 until 4).exists(b =>
        ((h0.dhash >>> (b * 15)) & 0x7fff) == ((other >>> (b * 15)) & 0x7fff))
      assert(shares)
    }
  }

  test("perceptual near-dup: banded join finds every re-encode twin") {
    val dir = "/root/testdata/sf0.001"
    val out = Multimodal.perceptualNearDup(spark, dir).collect()
    // every twin (doc_id + offset) pairs with its original at hamming <= 1
    val twinPairs = out.filter(r =>
      r.getLong(1) == r.getLong(0) + Multimodal.ReencodeIdOffset)
    assert(twinPairs.length == 50)
    assert(twinPairs.forall(_.getInt(2) <= 1))
  }

  test("repeated spans: property test vs in-memory brute force on random corpora") {
    import spark.implicits._
    val w = 3
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      // small alphabet forces cross-doc window collisions
      val docs = (0L until 20L).map(i =>
        (i, Seq.fill(5 + rnd.nextInt(15))(('a' + rnd.nextInt(4)).toChar.toString)
          .mkString(" ")))
      val df = docs.toDF("doc_id", "text")
      // brute force: duplicated windows (same w-gram in >= 2 docs), then
      // interval union per doc — independent implementation, plain Scala
      val grams = docs.flatMap { case (id, text) =>
        val ws = text.split("\\s+").toSeq
        if (ws.size < w) Seq.empty
        else (0 to ws.size - w).map(i => (ws.slice(i, i + w).mkString(" "), id, i + 1L))
      }
      val dupGrams = grams.groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
      val expected = grams.filter(g => dupGrams.contains(g._1))
        .groupBy(_._2).flatMap { case (id, hits) =>
          val iv = hits.map(h => (h._3, h._3 + w - 1)).toSeq.sortBy(_._1)
          val merged = iv.foldLeft(List.empty[(Long, Long)]) {
            case (acc, (s, e)) => acc match {
              case (ps, pe) :: rest if s <= pe + 1 => (ps, math.max(pe, e)) :: rest
              case _ => (s, e) :: acc
            }
          }
          merged.map { case (s, e) => (id, s, e, e - s + 1) }
        }.toSet
      val got = Dedup.repeatedSpansOf(df, w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == expected, s"trial $trial")
    }
  }

  test("LSH index tables: restart serve equals recompute, zero re-hash") {
    val dir = "/root/testdata/sf0.001"
    // build (or reuse) the fixture engine, then open a FRESH engine over
    // the same warehouse — the restart shape: it must serve the identical
    // pair set from the stored tables with zero publishes
    val eng = LshIndex.engineFor(spark, dir)
    val fresh = new graft.engine.OlapEngine(spark, eng.warehouse)
    val served = Dedup.lshPairs(
        fresh.scan(LshIndex.Db, LshIndex.BandsTable),
        fresh.scan(LshIndex.Db, LshIndex.ShinglesTable),
        threshold = 0.5, maxBucket = None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val recomputed = Dedup.minhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served == recomputed)
    assert(served.nonEmpty)
  }

  test("LSH index deletes: tombstoned docs drop their pairs; re-fold restores them") {
    val dir = "/root/testdata/sf0.001"
    def pairs(eng: graft.engine.OlapEngine): Set[(Long, Long)] =
      Dedup.lshPairs(
          eng.scan(LshIndex.Db, LshIndex.BandsTable),
          eng.scan(LshIndex.Db, LshIndex.ShinglesTable),
          threshold = 0.5, maxBucket = None)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // scratch engine (NOT the cached q274 fixture): full build, delete a
    // slice, then fold the same slice back — the tombstone round-trip
    val eng = new graft.engine.OlapEngine(spark,
      java.nio.file.Files.createTempDirectory("graft-lshdel-spec-"))
    try {
      LshIndex.createTables(eng)
      val d = spark.read.parquet(s"$dir/documents.parquet")
      LshIndex.fold(eng, d)
      val full = pairs(eng)
      LshIndex.deleteDocs(eng, d.filter(col("doc_id") % 5 === 1).select("doc_id"))
      val afterDelete = pairs(eng)
      // exactly the survivor restriction of the full set — nothing more
      // (tombstone leak) and nothing less (over-delete)
      assert(afterDelete ==
        full.filter { case (a, b) => a % 5 != 1 && b % 5 != 1 })
      assert(afterDelete.size < full.size, "delete slice must cost some pairs")
      // re-adding the deleted docs beats the tombstones: full set returns
      LshIndex.fold(eng, d.filter(col("doc_id") % 5 === 1))
      assert(pairs(eng) == full)
    } finally {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
      }
      del(eng.warehouse.toFile)
    }
  }

  test("tokenized engine table: table-served tokens equal inline tokenize") {
    val dir = "/root/testdata/sf0.001"
    val served = TokenizedCorpus.fromTable(spark, dir)
      .select(col("doc_id"), col(TokenizedCorpus.TokCol))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val inline = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        split(trim(lower(col("text"))), "\\s+").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(served == inline)
  }

  test("connected components: chain-shaped graph converges in O(log) rounds") {
    // the worst case for min-label propagation (rounds = diameter): a
    // 200-node path. Alternating large-star/small-star must still collapse
    // it to one component rooted at the min — within the round bound.
    import spark.implicits._
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = Dedup.connectedComponents(chain, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 200)
    assert(cc.values.forall(_ == 0L))
  }

  test("connected components: separate components keep separate min roots") {
    import spark.implicits._
    val pairs = Seq((5L, 9L), (9L, 7L), (20L, 30L), (41L, 40L)).toDF("a", "b")
    val cc = Dedup.connectedComponents(pairs, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(5L -> 5L, 9L -> 5L, 7L -> 5L,
      20L -> 20L, 30L -> 20L, 40L -> 40L, 41L -> 40L))
  }

  test("IVF top-k recall vs exact brute force >= 0.6 (q50 accuracy contract)") {
    // q50's driver oracle pins the same contract as a verdict row (the
    // k-means fit isn't SQL-expressible, so the recall verdict — not the raw
    // top-k — is what's oracle-hashed); this spec is the in-repo mirror:
    // with nprobe=4 of 16 cells the probe touches ~1/4 of the corpus, and
    // recall@5 against the exact q34 answer must clear 0.6 — the quality
    // floor that makes the 4x-less-work trade real.
    val dir = "/root/testdata/sf0.01"
    val bf = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    info(f"IVF recall@5 = $recall%.3f (${(bf & ivf).size}/${bf.size})")
    assert(recall >= 0.6)
  }

  test("ranking eval (q206): a perfect system scores 1.0 on every metric, " +
    "and the LSH scorecard is internally consistent") {
    val dir = "/root/testdata/sf0.001"
    // identity check: evaluating the exact ranking against itself
    val exact = Similarity.bruteForceTopK(spark, dir)
    val perfect = Similarity.rankingEval(
      exact.select(col("probe_id"), col("neighbor_id")),
      exact.select(col("probe_id"), col("neighbor_id"), col("rk")), 5)
      .collect()
    assert(perfect.length === 8)
    perfect.foreach { r =>
      assert(r.getAs[Int]("n_hits") === 5)
      assert(r.getAs[Double]("recall") === 1.0)
      assert(r.getAs[Double]("mrr") === 1.0)
      assert(r.getAs[Double]("ndcg") === 1.0)
    }
    // the real scorecard: metrics in [0,1], recall consistent with n_hits,
    // and ndcg = 0 exactly when nothing relevant was returned
    val card = Similarity.annEvalLsh(spark, dir).collect()
    assert(card.length === 8)
    card.foreach { r =>
      val (h, rec, mrr, ndcg) = (r.getAs[Int]("n_hits"),
        r.getAs[Double]("recall"), r.getAs[Double]("mrr"),
        r.getAs[Double]("ndcg"))
      assert(math.abs(rec - h / 5.0) < 1e-4)
      assert(mrr >= 0.0 && mrr <= 1.0)
      assert(ndcg >= 0.0 && ndcg <= 1.0)
      assert((ndcg == 0.0) === (h == 0))
    }
  }

  test("context pack (q207): running totals are exact prefix sums, inclusion " +
    "is a rank-prefix (stop-at-overflow is monotone), budget respected") {
    val dir = "/root/testdata/sf0.001"
    val rows = Retrieval.contextPack(spark, dir).collect()
      .sortBy(_.getAs[Int]("rnk"))
    assert(rows.length === 10)
    var cum = 0L
    rows.foreach { r =>
      cum += r.getAs[Long]("tokens")
      assert(r.getAs[Long]("cum_tokens") === cum)
    }
    val flags = rows.map(_.getAs[Boolean]("included"))
    assert(flags.zip(flags.tail).forall { case (a, b) => a || !b },
      "an excluded rank must never be followed by an included one")
    rows.filter(_.getAs[Boolean]("included"))
      .foreach(r => assert(r.getAs[Long]("cum_tokens") <= 200L))
    assert(flags.exists(!_), "fixture budget should overflow inside the top-10")
    // the served-ranking production pack runs the same budget algebra
    val served = Retrieval.contextPack(spark, dir, served = true).collect()
    assert(served.length === 10)
  }

  test("PQ top-k recall vs exact brute force >= 0.6 (q151 accuracy contract)") {
    // 8-byte codes (16 subspaces x 4-bit codebook ids) + ADC routing +
    // exact re-rank of the top-50 pool; measured 0.95 at sf0.01 (0.85 /
    // 0.775 at sf0.001 / sf0.1), floor 0.6 — the q151 verdict pins the same
    // contract driver-side. Top-k must also be exactly reproducible from
    // the cached index (serve determinism).
    val dir = "/root/testdata/sf0.01"
    val bf = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq1 = Similarity.pqTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val pq2 = Similarity.pqTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(pq1.sortBy(t => (t._1, t._4)).toSeq == pq2.sortBy(t => (t._1, t._4)).toSeq)
    val pq = pq1.map(t => (t._1, t._2)).toSet
    val recall = (bf & pq).size.toDouble / bf.size
    info(f"PQ recall@5 = $recall%.3f (${(bf & pq).size}/${bf.size})")
    assert(recall >= 0.6)
  }

  test("IVF-PQ composed recall vs exact brute force >= 0.6 (q152 accuracy contract)") {
    // the billion-scale composition: IVF routes to nprobe=8/16 cells, ADC
    // ranks within them, exact re-rank on the pool. Measured 0.75 at sf0.01
    // (0.675 / 0.725 at sf0.001 / sf0.1); floor 0.6 — and the composed
    // result can only differ from plain PQ where cell routing excluded a
    // candidate, so the composed top-k must be a subset of each probe's
    // probed-cell population (checked implicitly by the recall floor).
    val dir = "/root/testdata/sf0.01"
    val bf = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.ivfPqTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ann).size.toDouble / bf.size
    info(f"IVF-PQ recall@5 = $recall%.3f (${(bf & ann).size}/${bf.size})")
    assert(recall >= 0.6)
  }

  test("IVF-PQ recall recovers monotonically with nprobe; full probe clears " +
    "the escalation margin (q152 hardening)") {
    // the escalation dial's justification: more probed cells can only ADD
    // candidates (routing is a filter), so recall@k vs the fixed brute
    // baseline must be nondecreasing in nprobe — and at nprobe = nCells the
    // routing excludes nothing, so only the ADC pool bounds recall, which
    // must clear floor + 0.1 (the margin ivfPqRecallAudit escalates to).
    val dir = "/root/testdata/sf0.001"
    val bf = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = Seq(2, 4, 8, 16).map { np =>
      val ann = Similarity.ivfPqTopK(spark, dir, nprobe = np).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val rc = (bf & ann).size.toDouble / bf.size
      info(f"nprobe=$np%2d recall@5 = $rc%.3f")
      np -> rc
    }
    recalls.sliding(2).foreach { case Seq((npA, a), (npB, b)) =>
      assert(b >= a, s"recall regressed from nprobe=$npA ($a) to nprobe=$npB ($b)")
    }
    assert(recalls.last._2 >= 0.7,
      s"full-probe recall ${recalls.last._2} under the escalation margin 0.7")
    // and the audit's own verdict (post-escalation) carries the margin
    val audit = Similarity.ivfPqRecallAudit(spark, dir).collect().head
    assert(audit.getAs[Boolean]("ok") && audit.getAs[Boolean]("margin_ok"))
  }

  test("hybrid RRF retrieval: the index-served form (ANN vector leg) " +
    "substantially agrees with the exact-rank verdict form, and both fuse " +
    "both legs (ranks present from text AND vector sides)") {
    val dir = "/root/testdata/sf0.001"
    val verdict = Retrieval.hybridRrf(spark, dir).collect()
    val served = Retrieval.hybridRrfServed(spark, dir).collect()
    assert(verdict.length == 10 && served.length == 10)
    def ids(rs: Array[org.apache.spark.sql.Row]) = rs.map(_.getLong(0)).toSet
    val overlap = (ids(verdict) intersect ids(served)).size
    assert(overlap >= 6, s"served top-10 overlaps verdict only $overlap/10")
    // genuine fusion: the verdict list contains docs ranked by each leg
    assert(verdict.exists(r => !r.isNullAt(1)), "no text-ranked doc in top-k")
    assert(verdict.exists(r => !r.isNullAt(2)), "no vector-ranked doc in top-k")
  }

  test("PQ index build derives the subspace width from the DATA: an 8-dim " +
    "corpus builds and ranks correctly (no 64-dim assumption), and a " +
    "non-divisible m fails loudly") {
    import spark.implicits._
    // 4 well-separated clusters in 8 dims: cluster c lives on axes (2c,
    // 2c+1) with small deterministic jitter — ADC top-k must stay in-cluster
    val dim = 8
    val rows = (0L until 40L).map { id =>
      val c = (id % 4).toInt
      val rnd = new scala.util.Random(id)
      val v = Array.fill(dim)(rnd.nextFloat() * 0.05f)
      v(2 * c) += 1.0f
      v(2 * c + 1) += 0.5f
      (id, v.toSeq)
    }.toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq8-")
    rows.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = Similarity.pqTopK(spark, tmp.toString,
        nProbes = 4, k = 3, m = 4, kSub = 4, rerank = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 4 * 3, s"expected 4 probes x top-3, got ${got.length}")
    got.foreach { case (p, n) =>
      assert(p % 4 == n % 4,
        s"probe $p (cluster ${p % 4}) got out-of-cluster neighbor $n")
    }
    // dim % m != 0 is a loud build error, not a silent mis-slice
    val ex = intercept[IllegalArgumentException](
      Similarity.pqTopK(spark, tmp.toString,
        nProbes = 2, k = 2, m = 3, kSub = 4, rerank = 10).collect())
    assert(ex.getMessage.contains("not divisible"), ex.getMessage)
  }
}
