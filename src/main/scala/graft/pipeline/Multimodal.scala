package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media (image/audio/video) live as opaque
  * `binary` columns with typed metadata structs; decode / feature-extraction
  * runs per-partition in typed JVM code over batches.
  *
  * The actual codec step is a STUB (no media libraries in this environment):
  * [[FakeMediaCodec.decode]] is a deterministic fake that derives "frames"
  * from the payload bytes. Everything around it — the binary column schema,
  * the metadata struct, the partition-parallel batch shape, the typed
  * mapPartitions signature — is the real 100 TB plumbing: payloads never pass
  * through the driver, partitions process independently, and the decode
  * amortizes any per-batch model/codec init across its partition.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata (schema: binary + struct). */
  final case class MediaRow(doc_id: Long, payload: Array[Byte], fmt: String)

  /** Extracted features per media object. */
  final case class MediaFeatures(doc_id: Long, byte_len: Long, n_frames: Long)

  /** Sampled-frame features: every `SampleStride`-th frame's leading byte
    * summed — the shape of "sample every Nth video frame, featurize it".
    */
  final case class SampledFrames(doc_id: Long, n_sampled: Long, checksum: Long)

  /** STUB codec: a real implementation would decode image/audio frames here.
    * Deterministic fake: frame count derived from payload length (256-byte
    * "frames"), so results are reproducible and oracle-checkable.
    */
  object FakeMediaCodec {
    val FrameBytes = 256
    def decode(r: MediaRow): MediaFeatures =
      MediaFeatures(r.doc_id, r.payload.length.toLong,
        r.payload.length.toLong / FrameBytes + 1L)

    /** Frame sampling: visit frames 0, 2, 4, … (64-byte frames) and take each
      * sampled frame's first byte as its stand-in "feature". A frame whose
      * start lies past the payload (the +1 tail frame) contributes 0 — kept in
      * the sample count, as a real sampler would keep a short tail frame.
      */
    val SampleFrameBytes = 64
    val SampleStride = 2
    def sampleFrames(r: MediaRow): SampledFrames = {
      val len = r.payload.length
      val nFrames = len / SampleFrameBytes + 1
      var fi = 0; var n = 0L; var sum = 0L
      while (fi < nFrames) {
        val start = fi * SampleFrameBytes
        n += 1
        if (start < len) sum += (r.payload(start) & 0xff).toLong
        fi += SampleStride
      }
      SampledFrames(r.doc_id, n, sum)
    }
  }

  /** Windowed features per media object (the audio-feature shape: fixed
    * windows over the sample stream, one feature per window, summarized).
    */
  final case class WindowedFeatures(doc_id: Long, n_windows: Long,
                                    max_win_energy: Long, total_energy: Long)

  /** STUB feature extraction: 128-byte windows over the payload; a window's
    * "energy" is the sum of its unsigned byte values (a real extractor would
    * compute RMS/MFCC per window — same access pattern, float math instead).
    * Integer arithmetic keeps the oracle exact.
    */
  def windowFeatures(r: MediaRow, windowBytes: Int = 128): WindowedFeatures = {
    val len = r.payload.length
    val nWin = (len + windowBytes - 1) / windowBytes
    var w = 0; var maxE = 0L; var total = 0L
    while (w < nWin) {
      var i = w * windowBytes
      val end = math.min(i + windowBytes, len)
      var e = 0L
      while (i < end) { e += (r.payload(i) & 0xff).toLong; i += 1 }
      if (e > maxE) maxE = e
      total += e
      w += 1
    }
    WindowedFeatures(r.doc_id, nWin.toLong, maxE, total)
  }

  /** Perceptual hash of a media payload (the dHash family: gradient signs
    * over a fixed-size thumbnail). 61 nearest-neighbor samples (the same
    * index arithmetic as [[resizeTo]] — a real image dHash resizes to
    * 9×8 grayscale; one dimension here), bit i set iff sample i+1 >
    * sample i → a 60-bit signature (60, not 64, so it parses as a positive
    * BIGINT in every engine — the q32 SimHash convention). Near-identical
    * payloads differ in few gradient signs, so near-dup detection is a
    * small-hamming-distance search over the signatures.
    */
  final case class MediaHash(doc_id: Long, dhash: Long)

  val DHashBits = 60
  val DHashSamples: Int = DHashBits + 1

  def dHash(r: MediaRow): MediaHash = {
    val len = r.payload.length
    val s = new Array[Int](DHashSamples)
    var i = 0
    while (i < DHashSamples) {
      s(i) = r.payload((i.toLong * len / DHashSamples).toInt) & 0xff
      i += 1
    }
    var h = 0L
    var b = 0
    while (b < DHashBits) {
      if (s(b + 1) > s(b)) h |= (1L << b)
      b += 1
    }
    MediaHash(r.doc_id, h)
  }

  /** Nearest-neighbor "resized" media: fixed-size byte thumbnail. */
  final case class ResizedMedia(doc_id: Long, orig_len: Long, resized_len: Int,
                                resized_md5: String)

  /** STUB resize: nearest-neighbor downsample of the payload to `target`
    * bytes (sample i reads byte floor(i·len/target)) — the index arithmetic
    * of a real image resize, one dimension instead of two. Emits the md5 of
    * the thumbnail, not the bytes, to keep results compact and checkable.
    */
  def resizeTo(r: MediaRow, target: Int): ResizedMedia = {
    val len = r.payload.length
    val out = new Array[Byte](target)
    var i = 0
    while (i < target) {
      out(i) = r.payload((i.toLong * len / target).toInt)
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5").digest(out)
    ResizedMedia(r.doc_id, len.toLong, target,
      md.map(b => f"$b%02x").mkString)
  }

  /** Build a multimodal table from `documents` (text bytes stand in for media
    * payloads), then run the partition-parallel decode.
    */
  private def mediaTable(spark: SparkSession, dir: String) = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        lit("text/plain").as("fmt"))
      .as[MediaRow]
  }

  def decodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // mapPartitions: codec init happens once per partition, not per row —
    // the shape a real (libjpeg/ffmpeg) decode needs.
    mediaTable(spark, dir).mapPartitions { rows =>
      val codec = FakeMediaCodec
      rows.map(codec.decode)
    }.toDF()
  }

  /** Frame sampling over the binary column — same partition-parallel batch
    * shape as [[decodeFeatures]]; payloads never visit the driver.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).mapPartitions { rows =>
      val codec = FakeMediaCodec
      rows.map(codec.sampleFrames)
    }.toDF()
  }

  /** Resize over the binary column — same partition-parallel shape; the
    * MessageDigest (stand-in for a resize kernel's buffers) inits per row
    * batch, never per driver round-trip.
    */
  def resize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).mapPartitions { rows =>
      rows.map(r => resizeTo(r, 16))
    }.toDF()
  }

  /** Windowed feature extraction over the binary column — completes the
    * decode / feature-extract / resize / frame-sample multimodal surface.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).mapPartitions { rows =>
      rows.map(r => windowFeatures(r))
    }.toDF()
  }

  /** Signature tables are ingest-time index builds (the [[Dedup.indexCache]]
    * doctrine): cache the per-corpus dHash frame so the near-dup query's
    * self-join + verify probe one materialized signature table instead of
    * re-decoding the payloads three times per invocation.
    */
  private val hashCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Offset separating re-encode twins from their originals in the media
    * near-dup fixture (doc_id space is far smaller at every SF).
    */
  val ReencodeIdOffset = 10000000L

  /** The media corpus for near-dup detection: every payload, plus a
    * deterministic "re-encode" twin of every 10th one — the same byte
    * stream with its first byte replaced (the metadata-tweak/recompression
    * analogue; length-preserving, so it perturbs at most the leading
    * thumbnail samples). The synthetic text stand-ins contain no natural
    * binary near-dups below hamming 12 (they're near-dup TEXTS, not
    * near-dup BYTE STREAMS), so the twins give the detector true positives
    * at every SF — the q123 incremental-dedup pattern of deriving the
    * second corpus from the fixture itself, and the oracle replays the
    * twin construction byte-for-byte.
    */
  private def mediaCorpus(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val base = spark.read.parquet(s"$dir/documents.parquet")
    val originals = base.select(col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"), lit("text/plain").as("fmt"))
    val twins = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + ReencodeIdOffset).as("doc_id"),
        encode(concat(lit("z"),
          col("text").substr(lit(2), length(col("text")))), "UTF-8").as("payload"),
        lit("text/plain").as("fmt"))
    originals.union(twins).as[MediaRow]
  }

  private def dHashes(spark: SparkSession, dir: String): DataFrame =
    hashCache.getOrElseUpdate(dir, {
      import spark.implicits._
      val df = mediaCorpus(spark, dir)
        .mapPartitions(rows => rows.map(dHash)).toDF().persist()
      df.count()
      df
    })

  /** q264: PERCEPTUAL near-dup over the media column — the dedup operator
    * every production training-data pipeline runs on its images (the text
    * family's q31/q32 counterpart for binary payloads). dHash signatures,
    * then multi-index hamming search: split the 60-bit signature into
    * `maxHamming + 1` bands; by pigeonhole, two signatures within hamming
    * distance `maxHamming` MUST agree exactly on at least one band, so the
    * band-bucket self-join (the q32 SimHash band shape) generates a
    * COMPLETE candidate set — lossless, never all-pairs — and a codegen
    * xor+bit_count verifies exact distance per candidate.
    *
    * Scale shape: signature build is one partition-parallel decode pass
    * (payloads never leave their partitions — only 8-byte hashes shuffle);
    * candidates are band-bucket joins (corpus-sized × bands rows through
    * one hash shuffle); verify is pair-local integer ops. A hot bucket
    * (constant-payload boilerplate media) is q31's situation and would
    * take the same capBuckets guard; at this corpus the buckets are the
    * exact-dup classes themselves.
    */
  def perceptualNearDup(spark: SparkSession, dir: String,
                        maxHamming: Int = 3,
                        maxBucket: Option[Int] = None): DataFrame = {
    val bands = maxHamming + 1
    require(DHashBits % bands == 0,
      s"DHashBits=$DHashBits must split evenly into $bands bands")
    val width = DHashBits / bands
    val mask = (1L << width) - 1
    val hashes = dHashes(spark, dir)
    val allBanded = hashes.select(col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("dhash"), b * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bv")))
    // same opt-in hot-bucket guard as q31's LSH (constant-payload
    // boilerplate media makes a band bucket quadratic; exact dedup finds
    // those pairs anyway) — the fixture runs uncapped for exhaustive
    // semantics, a 100 TB run sets a cap
    val banded = maxBucket.fold(allBanded)(
      Dedup.capBuckets(allBanded, Seq("band", "bv"), _))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(hashes.select(col("doc_id").as("doc_a"), col("dhash").as("ha")), "doc_a")
      .join(hashes.select(col("doc_id").as("doc_b"), col("dhash").as("hb")), "doc_b")
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  private val survCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** q269: media SURVIVOR election — q47's closure shape over the
    * perceptual pairs: every payload in a near-dup component maps to the
    * component's min doc_id (re-encode twins collapse onto their
    * originals). Completes the media-dedup story: detect (q264) → elect →
    * the keep/drop policy keys on the survivor. Cached per corpus like
    * [[Dedup.dedupSurvivors]] — the closure is an ingest-time artifact.
    */
  def mediaSurvivors(spark: SparkSession, dir: String): DataFrame =
    survCache.getOrElseUpdate(dir, {
      val df = Dedup.connectedComponents(
        perceptualNearDup(spark, dir).select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b").persist()
      df.count()
      df
    })

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q264_media_neardup" -> ((s: SparkSession, d: String) => perceptualNearDup(s, d)),
    "q269_media_survivors" -> ((s: SparkSession, d: String) => mediaSurvivors(s, d)),
    "q41_multimodal_decode" -> ((s: SparkSession, d: String) => decodeFeatures(s, d)),
    "q78_frame_sample" -> ((s: SparkSession, d: String) => frameSample(s, d)),
    "q93_media_resize" -> ((s: SparkSession, d: String) => resize(s, d)),
    "q102_media_features" -> ((s: SparkSession, d: String) => mediaFeatures(s, d)),
  )

  /** The fake decode is arithmetic on byte length — expressible in SQL, so the
    * full binary-column pipeline is oracle-checked end to end.
    */
  /** q264's oracle — full replay: the re-encode twins, the 61-sample
    * thumbnail (q93's index arithmetic), the gradient-sign hash, and the
    * EXHAUSTIVE all-pairs hamming filter. The banded Spark plan is lossless
    * by pigeonhole (4 bands, radius 3), so its output must equal the
    * exhaustive answer exactly. Shared by q269, which closes it
    * transitively — the report inherits exactly this verification strength.
    */
  private val mediaNearDupOracle: String =
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, 'z' || substr(text, 2) AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |d AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM src),
        |s AS (SELECT doc_id, text, len, unnest(generate_series(0, 60)) AS i FROM d),
        |b AS (SELECT doc_id, i,
        |        ascii(substr(text, CAST((i*len)//61 + 1 AS BIGINT), 1)) AS v
        |      FROM s),
        |p AS (SELECT x.doc_id, x.i, CASE WHEN y.v > x.v THEN 1 ELSE 0 END AS bit
        |      FROM b x JOIN b y ON x.doc_id = y.doc_id AND y.i = x.i + 1
        |      WHERE x.i < 60),
        |h AS (SELECT doc_id,
        |        CAST(sum(CASE WHEN bit = 1 THEN (CAST(1 AS BIGINT) << i)
        |                      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS dh
        |      FROM p GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.dh, b2.dh)) AS INT) AS hamming
        |FROM h a JOIN h b2 ON a.doc_id < b2.doc_id
        |WHERE bit_count(xor(a.dh, b2.dh)) <= 3""".stripMargin

  val oracles: Map[String, String] = Map(
    "q264_media_neardup" -> mediaNearDupOracle,
    // q269: q264's exhaustive-hamming pair oracle closed transitively with
    // a recursive CTE (the q47 pattern) — the iterative large-star/
    // small-star CC must agree exactly
    "q269_media_survivors" ->
      s"""WITH RECURSIVE p AS (SELECT doc_a, doc_b FROM ($mediaNearDupOracle)),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION SELECT doc_b AS src, doc_a AS dst FROM p),
         |reach AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
         |  WHERE e2.dst <> r.src)
         |SELECT src AS doc_id, least(src, min(dst)) AS survivor_id
         |FROM reach GROUP BY src""".stripMargin,
    "q41_multimodal_decode" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  CAST(octet_length(encode(text)) // 256 + 1 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,
    // The corpus is pure ASCII (verified at ingest), so byte offsets equal
    // character offsets and ascii(substr(..)) reads the frame's first byte;
    // ascii('') = 0 matches the sampler's zero for past-the-end tail frames.
    "q93_media_resize" ->
      """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents),
        |s AS (SELECT doc_id, text, len, unnest(generate_series(0, 15)) AS i FROM d)
        |SELECT doc_id, CAST(len AS BIGINT) AS orig_len, 16 AS resized_len,
        |  md5(string_agg(substr(text, (i*len)//16 + 1, 1), '' ORDER BY i)) AS resized_md5
        |FROM s GROUP BY doc_id, len""".stripMargin,
    "q78_frame_sample" ->
      """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents),
        |f AS (SELECT doc_id, text, len, len // 64 + 1 AS n_frames FROM d),
        |s AS (SELECT doc_id, text, unnest(generate_series(0, n_frames - 1, 2)) AS fi FROM f)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sampled,
        |       CAST(sum(ascii(substr(text, CAST(fi*64+1 AS BIGINT), 1))) AS BIGINT) AS checksum
        |FROM s GROUP BY doc_id""".stripMargin,
    // per-byte unnest (ASCII corpus: byte i = char i), window = i // 128
    "q102_media_features" ->
      """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents),
        |b AS (SELECT doc_id, unnest(generate_series(1, len)) AS i FROM d),
        |w AS (SELECT b.doc_id, (i - 1) // 128 AS win,
        |        CAST(sum(ascii(substr(d.text, CAST(i AS BIGINT), 1))) AS BIGINT) AS e
        |      FROM b JOIN d USING (doc_id) GROUP BY b.doc_id, win)
        |SELECT doc_id, count(*) AS n_windows, max(e) AS max_win_energy,
        |       CAST(sum(e) AS BIGINT) AS total_energy
        |FROM w GROUP BY doc_id""".stripMargin,
  )
}
