package graft.operators

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Video-column feature extraction (round 14) — the temporal member
  * of the §2f multimodal family. Real containers with real JDK
  * support: animated GIF is the one multi-frame format `javax.imageio`
  * both reads AND writes with zero dependencies, so the whole
  * render→decode→featurize chain here is genuine frame-sequence code,
  * not a stub — `ImageReader.getNumImages`/`read(i)` walk actual
  * frames. MP4/WebM have no JDK codec and take the opaque byte path
  * ([[Multimodal.FakeDecoder]] / [[Multimodal.chunkSample]] for frame
  * sampling by byte stride); the Spark-side plumbing (schema, frame
  * explode shape, batching, partition parallelism) is exactly what a
  * production ffmpeg-backed decoder would plug into.
  *
  * Per-frame features are the image featurizer's (dimensions, mean
  * sample value); the TEMPORAL features (inter-frame delta — the
  * scene-cut / static-clip signal a video curation gate filters on)
  * compose declaratively on top via a lag window, so they stay inside
  * codegen and oracle-expressible.
  *
  * The gated entry follows the audio gate's discipline: deterministic
  * solid-gray frame sequences are rendered from per-doc parameters
  * (GIF's palette preserves a solid color exactly, so decoded means
  * are closed-form), written through the real GIF encoder, decoded
  * through the real reader, featurized — hash-gated end-to-end.
  */
object Video {

  final case class VideoRow(doc_id: Long, payload: Array[Byte])
  final case class FrameRow(doc_id: Long, frame_idx: Int, width: Int,
                            height: Int, mean_byte: Double)

  /** Render an animated GIF from frames — the real JDK encoder
    * (`writeToSequence`), our independent render side of the gate. */
  def renderAnimatedGif(frames: Seq[BufferedImage]): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bo = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bo)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { img =>
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bo.toByteArray
  }

  /** One solid-color RGB frame. */
  def solidFrame(w: Int, h: Int, gray: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    var y = 0
    while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
    img
  }

  /** Decode every frame of a multi-frame payload: true frame count via
    * `getNumImages(allowSearch = true)`, per-frame pixel features with
    * the image decoder's O(width) row-at-a-time reads. Fails loudly on
    * undecodable payloads (a video pipeline routes those to the byte
    * path explicitly rather than silently featurizing garbage). */
  def decodeFrames(docId: Long, payload: Array[Byte]): Seq[FrameRow] = {
    val ios = Multimodal.ImageDecoder.memStream(payload)
    val readers = javax.imageio.ImageIO.getImageReaders(ios)
    require(readers.hasNext, s"doc $docId: no JDK reader for payload")
    val reader = readers.next()
    try {
      reader.setInput(ios)
      val n = reader.getNumImages(true)
      (0 until n).map { i =>
        val img = reader.read(i)
        val w = img.getWidth; val h = img.getHeight
        var sum = 0L
        val row = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, row, 0, w)
          var x = 0
          while (x < w) {
            val rgb = row(x)
            sum += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
            x += 1
          }
          y += 1
        }
        val mean = if (w * h == 0) 0.0 else sum.toDouble / (3L * w * h)
        FrameRow(docId, i, w, h, math.floor(mean * 10000 + 0.5) / 10000)
      }
    } finally reader.dispose()
  }

  /** Partition-parallel frame featurization over any (doc_id, payload)
    * frame, plus the temporal delta (|mean − lag(mean)| per doc in
    * frame order — the scene-cut signal) composed declaratively. */
  def frameFeaturesOf(frame: DataFrame): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    val frames = frame.select(col("doc_id"), col("payload")).as[VideoRow]
      .mapPartitions(_.grouped(16).flatMap(_.flatMap(r => decodeFrames(r.doc_id, r.payload))))
      .toDF()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames.withColumn("delta_prev",
      round(abs(col("mean_byte") - lag(col("mean_byte"), 1).over(w)), 4))
  }

  // ---- gated entry ------------------------------------------------------

  /** Per-doc synth parameters (shared in structure with the oracle):
    * 2-5 frames, small frames, per-frame gray from doc_id and index. */
  private[graft] def grayOf(docId: Long, k: Int): Int =
    ((docId * 37 + k * 71) % 240).toInt + 8

  /** Gated `mm_video_frames`: render each doc's solid-gray animated
    * GIF through the real encoder, decode through the real reader,
    * featurize + temporal delta — closed-form oracle. */
  def videoFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val payloads = docs.mapPartitions(_.map { id =>
      val w = (8 + id % 8).toInt
      val n = (2 + id % 4).toInt
      VideoRow(id, renderAnimatedGif(
        (0 until n).map(k => solidFrame(w, 8, grayOf(id, k)))))
    }).toDF()
    frameFeaturesOf(payloads)
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
        col("mean_byte"), col("delta_prev"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  val videoFramesOracle: String = """
    WITH f AS (
      SELECT doc_id, CAST(k AS INT) AS frame_idx,
        CAST(8 + doc_id % 8 AS INT) AS width, CAST(8 AS INT) AS height,
        CAST((doc_id * 37 + k * 71) % 240 + 8 AS DOUBLE) AS mean_byte
      FROM (SELECT doc_id, unnest(range(2 + doc_id % 4)) AS k FROM documents))
    SELECT doc_id, frame_idx, width, height, mean_byte,
      round(abs(mean_byte - lag(mean_byte) OVER
        (PARTITION BY doc_id ORDER BY frame_idx)), 4) AS delta_prev
    FROM f
    ORDER BY doc_id, frame_idx"""

  // ---- clip-level near-dup (round 19, the r18 verdict's #3) -------------
  // dHash + pigeonhole LSH dedups STILLS (29b/29c); a multimodal corpus
  // also re-encodes and lightly edits CLIPS. Composition of the existing
  // pieces: walk real GIF frames (the 29e reader), grid each frame with
  // the image dHash's 9×8 area-average ([[Multimodal.gridOfImage]]),
  // hash each frame to the four 16-bit dHash blocks, then find clip
  // pairs via the 29c pigeonhole — a pair is a CANDIDATE if ANY aligned
  // frame shares ANY block (Hamming ≤3 per frame ⇒ ≥1 of 4 blocks equal
  // — an equi-join on (frame_idx, block, value), never all-pairs) — and
  // VERIFIES as a near-dup clip when frame counts match and EVERY
  // aligned frame pair sits within Hamming 3. Catches re-encodes
  // (identical pixels ⇒ Hamming 0) and light per-frame edits; a TRIMMED
  // clip (offset frames) composes with the winnowing machinery (25j)
  // over the frame-hash sequence instead — documented, not built, since
  // alignment-free matching changes the candidate contract.
  //
  // The gated entry renders 9×8-pixel patterned frames (one grid cell =
  // exactly one pixel, and GIF is lossless at ≤256 colors — so the
  // decoded grid is the closed-form pixel formula, oracle-mirrored) and
  // unions crafted seed clips per the 29c discipline: a re-encoded copy
  // (must pair at Hamming 0) and a one-cell-per-frame edit (must pair
  // within the ball); organic clips have pseudorandom 64-bit hashes and
  // never pair. Real-GIF pair semantics (true crop) are spec-proven.

  /** Pixel/cell gray of (pattern, frame, cell) — the shared md5-derived
    * constant of the gated entry (the engine's portability rule: any
    * "randomness" that must agree cross-engine is a hash of a
    * coordinate). Arithmetic formulas measured as too structured here:
    * a linear mod-240 pattern collapsed distinct clips to ~240 hash
    * values (641 bogus pairs at sf0.01), and a quadratic mod-241 mix
    * made every doc-id pair congruent mod 241 render IDENTICAL clips
    * (10 558 pairs at sf0.1). First md5 byte of the coordinate string
    * is collision-free at any corpus size. `pert` folds into the
    * hashed string so perturbed cells stay valid grays. */
  private[graft] def patGray(pat: Long, k: Int, cell: Int, pert: Int): Int = {
    val p = if (pert == 1 && cell == 0) 1 else 0
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"vidg:$pat:$k:$cell:$p".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (d(0) & 0xFF) % 240 + 8
  }

  /** Seed clips: (doc_id, pattern id, perturb flag). -2 renders the
    * SAME pixels as -3 (a re-encode); -1 shifts cell 0 of every frame
    * (a light edit — ≤1 dHash bit per frame). All three are 3 frames. */
  private[graft] val ClipSeeds: Seq[(Long, Long, Int)] =
    Seq((-3L, -3L, 0), (-2L, -3L, 0), (-1L, -3L, 1))
  private[graft] val SeedFrames = 3

  /** One patterned 9×8 frame: pixel (x, y) = cell y·9+x of the formula. */
  private def patFrame(pat: Long, k: Int, pert: Int): BufferedImage = {
    val img = new BufferedImage(9, 8, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val g = patGray(pat, k, y * 9 + x, pert)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Decode every frame to its 9×8 dHash grid (real reader walk). */
  private def decodeFrameGrids(docId: Long, payload: Array[Byte]): Seq[(Long, Int, Array[Int])] = {
    val ios = Multimodal.ImageDecoder.memStream(payload)
    val readers = javax.imageio.ImageIO.getImageReaders(ios)
    require(readers.hasNext, s"doc $docId: no JDK reader for payload")
    val reader = readers.next()
    try {
      reader.setInput(ios)
      val n = reader.getNumImages(true)
      (0 until n).map(i => (docId, i, Multimodal.gridOfImage(reader.read(i))))
    } finally reader.dispose()
  }

  /** (doc_id, frame_idx, b0..b3): every frame's dHash blocks via the
    * real reader walk — shared by the aligned and the winnow matchers. */
  private def frameHashFrame(clips: DataFrame): DataFrame = {
    val spark = clips.sparkSession
    import spark.implicits._
    clips.select(col("doc_id"), col("payload")).as[VideoRow]
      .mapPartitions(_.grouped(16).flatMap(_.flatMap(r => decodeFrameGrids(r.doc_id, r.payload))))
      .toDF("doc_id", "frame_idx", "grid")
      .select(col("doc_id") +: col("frame_idx") +: Multimodal.dhashBlockCols: _*)
  }

  /** Clip near-dup pairs over any (doc_id, payload) multi-frame corpus:
    * (da, db, n_frames, max_hamming) with equal frame counts and every
    * aligned frame within Hamming 3. */
  def videoDhashDedupOf(clips: DataFrame,
                        maxDf: Option[Long] = Some(Multimodal.DefaultMaxBlockDf)): DataFrame = {
    val spark = clips.sparkSession
    import spark.implicits._
    val hashed = frameHashFrame(clips)
      .cache() // candidate blocks + both verify sides
    val nf = hashed.groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("nf"))
    val exploded = hashed.select(col("doc_id"), col("frame_idx"),
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("k"), col(s"b$k").as("bv"))): _*)).as("blk"))
      .select(col("doc_id"), col("frame_idx"), col("blk.k"), col("blk.bv"))
    // hot-key cap on the aligned candidate key (frame_idx, k, bv) — a
    // black/flat frame at one index across k clips is k² candidate rows
    // without it ((doc_id, frame_idx, k) rows are unique, so count(*)
    // per key IS its document frequency). Discovery-only: verification
    // below reads the full uncapped `hashed`.
    val blocks = maxDf.fold(exploded)(m => Skew.capByFrequency(
        exploded.withColumn("__hk", struct(col("frame_idx"), col("k"), col("bv"))),
        "__hk", "doc_id", m,
        Some("mm_video_dhash_dedup"), distinctPairs = true).drop("__hk"))
    val cand = blocks.select(col("doc_id").as("da"), col("frame_idx"), col("k"), col("bv"))
      .join(blocks.select(col("doc_id").as("db"), col("frame_idx"), col("k"), col("bv")),
        Seq("frame_idx", "k", "bv"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
    val ha = hashed.select(col("doc_id").as("da"), col("frame_idx"),
      col("b0").as("ab0"), col("b1").as("ab1"), col("b2").as("ab2"), col("b3").as("ab3"))
    val hb = hashed.select(col("doc_id").as("db"), col("frame_idx"),
      col("b0").as("bb0"), col("b1").as("bb1"), col("b2").as("bb2"), col("b3").as("bb3"))
    val fr = cand.join(ha, Seq("da")).join(hb, Seq("db", "frame_idx"))
      .select(col("da"), col("db"),
        ((0 until 4).map(j => bit_count(col(s"ab$j").bitwiseXOR(col(s"bb$j"))))
          .reduce(_ + _)).cast("int").as("hm"))
    fr.groupBy(col("da"), col("db"))
      .agg(max(col("hm")).as("max_hamming"), count(lit(1)).as("n_aligned"))
      .join(nf.select(col("doc_id").as("da"), col("nf").as("nfa")), Seq("da"))
      .join(nf.select(col("doc_id").as("db"), col("nf").as("nfb")), Seq("db"))
      .filter(col("nfa") === col("nfb") && col("n_aligned") === col("nfa") &&
        col("max_hamming") <= 3)
      .select(col("da"), col("db"), col("nfa").as("n_frames"), col("max_hamming"))
      .orderBy(col("da"), col("db"))
  }

  /** Gated `mm_video_dhash_dedup`: patterned corpus clips + the seed
    * trio, through the real GIF encoder and reader. */
  def videoDhashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val corpus = docs.mapPartitions(_.map { id =>
      val n = (2 + id % 4).toInt
      VideoRow(id, renderAnimatedGif((0 until n).map(k => patFrame(id, k, 0))))
    })
    val seeds = ClipSeeds.map { case (id, pat, pert) =>
      VideoRow(id, renderAnimatedGif(
        (0 until SeedFrames).map(k => patFrame(pat, k, pert))))
    }
    videoDhashDedupOf(corpus.union(seeds.toDS()).toDF())
  }

  val videoDhashDedupOracle: String = {
    import Multimodal.dhashBlockSql
    s"""
    WITH clips(doc_id, pat, pert, n) AS (
      SELECT doc_id, doc_id, 0, 2 + doc_id % 4 FROM documents
      ${ClipSeeds.map { case (id, pat, pert) =>
        s"UNION ALL SELECT CAST($id AS BIGINT), CAST($pat AS BIGINT), $pert, $SeedFrames"
      }.mkString("\n      ")}),
    g AS (
      SELECT doc_id, k, cell,
        CAST(CAST(concat('0x', substr(md5(
            'vidg:' || CAST(pat AS VARCHAR) || ':' || CAST(k AS VARCHAR) || ':' ||
            CAST(cell AS VARCHAR) || ':' ||
            CASE WHEN pert = 1 AND cell = 0 THEN '1' ELSE '0' END), 1, 2)) AS INT)
          % 240 + 8 AS INT) AS v
      FROM clips, (SELECT unnest(range(5)) AS k), (SELECT unnest(range(72)) AS cell)
      WHERE k < n),
    p AS (SELECT doc_id, CAST(k AS INT) AS frame_idx, list(v ORDER BY cell) AS grid
          FROM g GROUP BY 1, 2),
    h AS (SELECT doc_id, frame_idx,
            ${(0 until 4).map(j => s"${dhashBlockSql(j)} AS b$j").mkString(", ")}
          FROM p),
    bl AS (
      SELECT doc_id, frame_idx, k,
        CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bv
      FROM h, (SELECT unnest(range(4)) AS k)),
    keep AS (SELECT frame_idx, k, bv FROM bl GROUP BY frame_idx, k, bv
             HAVING count(*) <= ${Multimodal.DefaultMaxBlockDf}),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bl a
      JOIN keep kp ON kp.frame_idx = a.frame_idx AND kp.k = a.k AND kp.bv = a.bv
      JOIN bl b
        ON a.frame_idx = b.frame_idx AND a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id),
    fr AS (
      SELECT c.da, c.db, x.frame_idx,
        CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) +
             bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS INT) AS hm
      FROM cand c
      JOIN h x ON x.doc_id = c.da
      JOIN h y ON y.doc_id = c.db AND y.frame_idx = x.frame_idx),
    ag AS (SELECT da, db, max(hm) AS max_hamming, count(*) AS n_aligned FROM fr GROUP BY 1, 2),
    nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM h GROUP BY 1)
    SELECT ag.da, ag.db, na.nf AS n_frames, CAST(ag.max_hamming AS INT) AS max_hamming
    FROM ag
    JOIN nf na ON na.doc_id = ag.da
    JOIN nf nb ON nb.doc_id = ag.db
    WHERE na.nf = nb.nf AND ag.n_aligned = na.nf AND ag.max_hamming <= 3
    ORDER BY ag.da, ag.db"""
  }

  // ---- trim-robust clip matching (round 19) ------------------------------
  // [[videoDhashDedupOf]] requires FRAME ALIGNMENT (equal counts, per-
  // index compare) — a TRIMMED clip (ad cut, intro dropped, excerpt)
  // shares no aligned index and structurally cannot pair. This is the
  // composition 29f's scaladoc promised: winnow the per-frame dHash
  // SEQUENCE exactly like text (25j's machinery with frame-hash tokens:
  // k=2-frame grams, w=2 windows), so any shared run of ≥ k+w−1 = 3
  // consecutive IDENTICAL frame hashes yields a shared fingerprint at
  // any offset — candidates are a fingerprint equi-join, never
  // all-pairs. Exact-hash runs only (trimmed re-encode); a trimmed
  // CROP would need Hamming-tolerant grams — out of scope, documented.

  private val VwK = 2
  private val VwW = 2

  /** Offset-robust candidate pairs (da, db, n_shared) over any
    * (doc_id, payload) multi-frame corpus: # of shared winnow
    * fingerprints of the frame-hash sequences. */
  def videoWinnowPairsOf(clips: DataFrame,
                         maxDf: Option[Long] = Some(Multimodal.DefaultMaxBlockDf)): DataFrame = {
    val tok = concat_ws("_", (0 until 4).map(j => col(s"b$j").cast("string")): _*)
    val seqs = frameHashFrame(clips)
      .select(col("doc_id"), struct(col("frame_idx"), tok.as("tok")).as("ft"))
      .groupBy(col("doc_id"))
      .agg(transform(array_sort(collect_list(col("ft"))), x => x.getField("tok")).as("t"))
      .filter(size(col("t")) >= VwK + VwW - 1)
    val fpd = seqs.select(col("doc_id"),
        explode(graft.functions.WinnowFps.of(col("t"), VwK, VwW)).as("f"))
      .select(col("doc_id"), col("f.fp").as("fp")).distinct()
      .cache() // both join sides
    // hot-fingerprint cap: a fade-to-black frame run makes one winnow
    // fingerprint corpus-wide hot — k docs sharing it is k² join rows
    val fps = maxDf.fold(fpd)(m => Skew.capByFrequency(fpd, "fp", "doc_id",
      m, Some("mm_video_winnow_dedup"), distinctPairs = true))
    fps.select(col("doc_id").as("da"), col("fp"))
      .join(fps.select(col("doc_id").as("db"), col("fp")), Seq("fp"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .orderBy(col("da"), col("db"))
  }

  // ---- trim + re-encode tolerant matching (round 20, the r19
  // verdict's #5) ----------------------------------------------------------
  // [[videoWinnowPairsOf]] tokens are EXACT frame hashes: a clip that is
  // both trimmed AND re-encoded (brightness shift, mild crop — per-frame
  // Hamming 1-3) shares no token and structurally cannot pair, while the
  // aligned matcher already fails on the trim. Offset voting closes the
  // gap with a pigeonhole GUARANTEE: any overlapping frame pair within
  // Hamming 3 shares ≥1 of its 4 blocks, so the block-key equi-join
  // discovers the pair's true offset (fa − fb) no matter which lane
  // matches per frame — where winnowing Hamming-tolerant k-grams would
  // need the SAME lane across all k frames (no guarantee). Verification
  // then requires the FULL overlap at that offset within Hamming 3 and
  // ≥ `minOverlap` frames. Candidates stay bounded: block keys are
  // df-capped (the shared mm discipline) and votes collapse to DISTINCT
  // (da, db, off) before verification.

  def videoTrimHammingPairsOf(clips: DataFrame,
                              maxDf: Option[Long] = Some(Multimodal.DefaultMaxBlockDf),
                              minOverlap: Int = 3): DataFrame = {
    val hashed = frameHashFrame(clips).cache()
    val nf = hashed.groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("nf"))
    val exploded = hashed.select(col("doc_id"), col("frame_idx"),
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("k"), col(s"b$k").as("bv"))): _*)).as("blk"))
      .select(col("doc_id"), col("frame_idx"), col("blk.k"), col("blk.bv"))
    // distinctPairs=false: one doc's repeated frames legitimately repeat
    // a (k, bv) row, so the df must countDistinct docs
    val blocks = maxDf.fold(exploded)(m => Skew.capByFrequency(
      exploded.withColumn("__hk", struct(col("k"), col("bv"))),
      "__hk", "doc_id", m, Some("video_trim_hamming")).drop("__hk"))
    val cand = blocks.select(col("doc_id").as("da"), col("frame_idx").as("fa"),
        col("k"), col("bv"))
      .join(blocks.select(col("doc_id").as("db"), col("frame_idx").as("fb"),
        col("k"), col("bv")), Seq("k", "bv"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"), (col("fa") - col("fb")).as("off"))
      .distinct()
    val ha = hashed.select(col("doc_id").as("da") +: col("frame_idx").as("fa") +:
      (0 until 4).map(j => col(s"b$j").as(s"ab$j")): _*)
    val hb = hashed.select(col("doc_id").as("db") +: col("frame_idx").as("fb") +:
      (0 until 4).map(j => col(s"b$j").as(s"bb$j")): _*)
    val fr = cand.join(ha, Seq("da"))
      .withColumn("fb", col("fa") - col("off"))
      .join(hb, Seq("db", "fb"))
      .select(col("da"), col("db"), col("off"),
        ((0 until 4).map(j => bit_count(col(s"ab$j").bitwiseXOR(col(s"bb$j"))))
          .reduce(_ + _)).cast("int").as("hm"))
    fr.groupBy(col("da"), col("db"), col("off"))
      .agg(count(lit(1)).cast("long").as("n_overlap"), max(col("hm")).as("max_hamming"))
      .join(nf.select(col("doc_id").as("da"), col("nf").as("nfa")), Seq("da"))
      .join(nf.select(col("doc_id").as("db"), col("nf").as("nfb")), Seq("db"))
      // the overlap the offset geometry predicts: fb ∈ [max(0, −off),
      // min(nfb−1, nfa−1−off)] — every one of those frames must verify
      .withColumn("expected",
        least(col("nfb") - 1, col("nfa") - 1 - col("off")) -
          greatest(lit(0L), -col("off")) + 1)
      .filter(col("max_hamming") <= 3 &&
        col("n_overlap") === col("expected") &&
        col("n_overlap") >= minOverlap)
      .select(col("da"), col("db"), col("off"), col("n_overlap"), col("max_hamming"))
      .orderBy(col("da"), col("db"), col("off"))
  }

  /** Winnow-entry seed clips (doc_id, pattern, first frame, frames):
    * -12 is the TAIL of -13 (first frame trimmed) — it must pair here
    * and provably cannot under the aligned matcher. */
  private[graft] val WinnowClipSeeds: Seq[(Long, Long, Int, Int)] =
    Seq((-13L, -13L, 0, 5), (-12L, -13L, 1, 4))

  /** Gated `mm_video_winnow_dedup`: patterned corpus clips + the
    * trim seed pair, real GIF encode/decode end to end. */
  def videoWinnowDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val corpus = docs.mapPartitions(_.map { id =>
      val n = (2 + id % 4).toInt
      VideoRow(id, renderAnimatedGif((0 until n).map(k => patFrame(id, k, 0))))
    })
    val seeds = WinnowClipSeeds.map { case (id, pat, start, n) =>
      VideoRow(id, renderAnimatedGif(
        (0 until n).map(k => patFrame(pat, start + k, 0))))
    }
    videoWinnowPairsOf(corpus.union(seeds.toDS()).toDF())
  }

  val videoWinnowDedupOracle: String = {
    import Multimodal.dhashBlockSql
    s"""
    WITH clips(doc_id, pat, fstart, n) AS (
      SELECT doc_id, doc_id, 0, 2 + doc_id % 4 FROM documents
      ${WinnowClipSeeds.map { case (id, pat, start, n) =>
        s"UNION ALL SELECT CAST($id AS BIGINT), CAST($pat AS BIGINT), $start, $n"
      }.mkString("\n      ")}),
    g0 AS (
      SELECT doc_id, k, cell,
        CAST(CAST(concat('0x', substr(md5(
            'vidg:' || CAST(pat AS VARCHAR) || ':' || CAST(fstart + k AS VARCHAR) || ':' ||
            CAST(cell AS VARCHAR) || ':0'), 1, 2)) AS INT)
          % 240 + 8 AS INT) AS v
      FROM clips, (SELECT unnest(range(5)) AS k), (SELECT unnest(range(72)) AS cell)
      WHERE k < n),
    p AS (SELECT doc_id, CAST(k AS INT) AS frame_idx, list(v ORDER BY cell) AS grid
          FROM g0 GROUP BY 1, 2),
    h AS (SELECT doc_id, frame_idx,
            ${(0 until 4).map(j => s"${dhashBlockSql(j)} AS b$j").mkString(", ")}
          FROM p),
    ftoks AS (
      SELECT doc_id,
        list(CAST(b0 AS VARCHAR) || '_' || CAST(b1 AS VARCHAR) || '_' ||
             CAST(b2 AS VARCHAR) || '_' || CAST(b3 AS VARCHAR)
             ORDER BY frame_idx) AS t
      FROM h GROUP BY doc_id
      HAVING count(*) >= ${VwK + VwW - 1}),
    ${TextAnalysis.winnowCtesFromToksKW("ftoks", VwK, VwW)},
    fpd AS (SELECT DISTINCT doc_id, fp FROM wfp),
    keep AS (SELECT fp FROM fpd GROUP BY fp
             HAVING count(*) <= ${Multimodal.DefaultMaxBlockDf})
    SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS n_shared
    FROM fpd a JOIN keep USING (fp) JOIN fpd b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    ORDER BY da, db"""
  }
}
