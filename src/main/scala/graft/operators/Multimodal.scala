package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal-column plumbing (SURVEY §2f).
  *
  * Media payloads are opaque `binary` columns with typed metadata — the
  * pattern a 100 TB image/audio corpus uses: parquet stores the bytes,
  * Spark prunes/filters on the metadata columns, and decode runs
  * partition-parallel only on the rows that survive pushdown.
  *
  * Decode is REAL for image formats the JDK ships codecs for
  * (PNG/JPEG/GIF/BMP via `javax.imageio`, zero extra dependencies) —
  * see `ImageDecoder`. Payloads that are not a decodable image (e.g.
  * the text-as-bytes stand-in corpus, or audio/video formats with no
  * JDK codec) fall back to `FakeDecoder`, a deterministic bytes→features
  * stand-in, so the pipeline shape is total over any binary column.
  */
object Multimodal {

  /** documents.text cast to bytes stands in for a media payload column. */
  private def media(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))

  // ---- 1. binary metadata ----------------------------------------------
  def binaryMeta(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir)
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        hex(substring(col("payload"), 1, 8)).as("magic"),
        md5(col("payload")).as("payload_md5"))
      .orderBy(col("doc_id"))

  val binaryMetaOracle: String = """
    SELECT doc_id,
      strlen(text) AS n_bytes,
      hex(encode(substr(text, 1, 8))) AS magic,
      md5(text) AS payload_md5
    FROM documents
    ORDER BY doc_id"""

  // ---- 2. chunk / frame sampling ---------------------------------------
  // Split the payload into fixed 64-byte "frames", keep every 4th — the
  // frame-sampling access pattern for video/audio, done declaratively so
  // it runs inside codegen and never materializes unsampled frames.
  def chunkSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0, (length(text) + 63) div 64 - 1)")).as("frame_idx"))
      .filter(pmod(col("frame_idx"), lit(4)) === 0)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        md5(expr("substring(text, cast(frame_idx * 64 + 1 as int), 64)")).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))

  val chunkSampleOracle: String = """
    SELECT doc_id, frame_idx, md5(substr(text, frame_idx * 64 + 1, 64)) AS frame_md5
    FROM (SELECT doc_id, text,
            unnest(range((strlen(text) + 63) // 64)) AS frame_idx
          FROM documents)
    WHERE frame_idx % 4 = 0
    ORDER BY doc_id, frame_idx"""

  // ---- 3. decode / feature-extract plumbing ----------------------------

  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class MediaFeatures(doc_id: Long, width: Int, height: Int,
                                 mean_byte: Double, hist: Array[Long])

  /** Real image decode via the JDK's bundled codecs (`javax.imageio`
    * reads PNG/JPEG/GIF/BMP with no external dependency). Features:
    * true pixel dimensions, mean channel-sample value (R,G,B each count
    * as one 0-255 sample, matching the byte-path semantics), and the
    * same 8-bucket sample histogram shape as the byte path. Pixels are
    * read one row at a time so memory stays O(width), not O(pixels).
    * Returns None when the payload is not a decodable image. */
  object ImageDecoder {
    // ImageIO defaults to DISK-cached streams: ImageIO.read(InputStream)
    // wraps the bytes in a FileCacheImageInputStream — one temp FILE
    // created, written, and deleted PER PAYLOAD, and every codec's
    // canDecodeInput probe seeks through that file. At one decode per
    // row that is millions of temp-file churns per executor (measured
    // here: the sf1 bench run degraded 1.5 s → 15 s as tmp churn
    // accumulated). The payload is already a byte array, so nothing is
    // saved by spilling it back to disk — every decode site wraps its
    // bytes in an EXPLICIT MemoryCacheImageInputStream (see
    // [[memStream]]) rather than flipping ImageIO.setUseCache(false),
    // which is a JVM-GLOBAL mutation that would silently change
    // behavior for any other ImageIO user in the process.

    /** Cheap magic-byte gate covering exactly the formats the JDK ships
      * readers for (PNG, JPEG, GIF, BMP, TIFF, and WBMP's type/header
      * zero bytes). Every one of those formats REQUIRES its signature,
      * so a payload failing this check cannot decode — the full ImageIO
      * probe (reader-registry scan + stream setup per row) is pure
      * overhead on it. A false POSITIVE (e.g. text starting with "BM")
      * just falls through to the same probe-and-decline as before, so
      * this is a superset filter: semantics are unchanged, non-image
      * corpora skip straight to the byte path. */
    def mightBeImage(p: Array[Byte]): Boolean =
      p.length >= 3 && {
        val a = p(0) & 0xFF; val b = p(1) & 0xFF; val c = p(2) & 0xFF
        (a == 0x89 && b == 'P' && c == 'N') || // PNG
        (a == 0xFF && b == 0xD8 && c == 0xFF) || // JPEG
        (a == 'G' && b == 'I' && c == 'F') || // GIF
        (a == 'B' && b == 'M') || // BMP
        (a == 'I' && b == 'I' && c == 0x2A) || // TIFF little-endian
        (a == 'M' && b == 'M' && c == 0x00) || // TIFF big-endian
        (a == 0 && b == 0) // WBMP (type 0, fixed header 0)
      }

    /** Decode from an explicit in-memory image stream: per-call override
      * of ImageIO's disk-cache default with no JVM-global side effect. */
    def memStream(payload: Array[Byte]): javax.imageio.stream.ImageInputStream =
      new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))

    def decode(payload: Array[Byte]): Option[(Int, Int, Double, Array[Long])] =
      try {
        val img = javax.imageio.ImageIO.read(memStream(payload))
        if (img == null) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          val hist = new Array[Long](8)
          var sum = 0L
          val row = new Array[Int](w)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, row, 0, w)
            var x = 0
            while (x < w) {
              val rgb = row(x)
              val r = (rgb >> 16) & 0xFF
              val g = (rgb >> 8) & 0xFF
              val b = rgb & 0xFF
              hist(r >> 5) += 1; hist(g >> 5) += 1; hist(b >> 5) += 1
              sum += r + g + b
              x += 1
            }
            y += 1
          }
          val n = 3L * w * h
          val mean = if (n == 0) 0.0 else sum.toDouble / n
          Some((w, h, math.floor(mean * 10000 + 0.5) / 10000, hist))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Fallback decoder for payloads with no JDK codec (text stand-ins,
    * audio/video) — deterministic fake: "dimensions" from the leading
    * bytes, 8-bucket byte histogram as the "feature vector". Keeps
    * decodeFeatures total over arbitrary binary columns. */
  object FakeDecoder {
    def decode(payload: Array[Byte]): (Int, Int, Double, Array[Long]) = {
      val w = 16 + (payload.headOption.getOrElse(0: Byte) & 0x0F)
      val h = 16 + (payload.lift(1).getOrElse(0: Byte) & 0x0F)
      val hist = new Array[Long](8)
      var sum = 0L
      payload.foreach { b => val u = b & 0xFF; hist(u >> 5) += 1; sum += u }
      val mean = if (payload.isEmpty) 0.0 else sum.toDouble / payload.length
      // half-away-from-zero (not rint's half-to-even): matches DuckDB
      // round semantics so the fake path is oracle-expressible
      (w, h, math.floor(mean * 10000 + 0.5) / 10000, hist)
    }
  }

  /** One payload → features, trying the real JDK image decode first and
    * falling back to the deterministic fake for non-image bytes. */
  def decodeAny(payload: Array[Byte]): (Int, Int, Double, Array[Long]) =
    if (ImageDecoder.mightBeImage(payload))
      ImageDecoder.decode(payload).getOrElse(FakeDecoder.decode(payload))
    else FakeDecoder.decode(payload)

  /** Batched partition-parallel decode: iterate each partition in
    * fixed-size batches (the Arrow-ish batch shape a vectorized decode
    * wants), decode, emit typed features. Real PNG/JPEG/GIF/BMP payloads
    * get true pixel features; anything else takes the fake path. */
  def decodeFeatures(spark: SparkSession, dir: String): DataFrame =
    decodeFeaturesOf(spark, media(spark, dir))

  /** Same pipeline over any (doc_id: long, payload: binary) frame — the
    * entry point a real image corpus uses directly. */
  def decodeFeaturesOf(spark: SparkSession, frame: DataFrame): DataFrame = {
    import spark.implicits._
    val ds = frame.select(col("doc_id"), col("payload")).as[MediaRow]
    ds.mapPartitions { rows =>
      rows.grouped(64).flatMap { batch =>
        batch.map { r =>
          val (w, h, mean, hist) = decodeAny(r.payload)
          MediaFeatures(r.doc_id, w, h, mean, hist)
        }
      }
    }.toDF()
      .select(col("doc_id"), col("width"), col("height"), col("mean_byte"),
        concat_ws(",", col("hist")).as("hist_csv"))
      .orderBy(col("doc_id"))
  }

  // ---- 4. image-level near-dup: dHash + pigeonhole blocks (round 8) ----
  // The standard image-dedup stage of a multimodal training pipeline:
  // dHash (difference hash — public technique: resize to a 9×8
  // grayscale grid, each of the 64 bits is "cell brighter than its
  // right neighbor") is crop/re-encode/resize tolerant; near-duplicate
  // images land within a small Hamming ball. Candidates come from the
  // same 4-block pigeonhole trick as [[Dedup.simhash]] (Hamming ≤ 3 ⇒
  // ≥ 1 of 4 16-bit blocks equal — an equi-join on (block, value),
  // never all-pairs). The hash is kept as FOUR 16-bit block ints
  // rather than one 64-bit value: bit 63 would force signed-overflow
  // semantics that Spark (wraps) and DuckDB (errors) disagree on.
  //
  // The GRID is real area-averaged grayscale pixels for payloads the
  // JDK decodes (spec: two crops of one PNG pair up, distinct images
  // don't), and a deterministic byte-sample fallback otherwise — the
  // gated text-corpus entry therefore stays oracle-exact, same split
  // as decodeFeatures.
  private val GridW = 9
  private val GridH = 8

  /** 72-cell grayscale grid of a decodable image: integer area-average
    * of (r+g+b)/3 over each cell of the 9×8 partition (empty cells at
    * sub-grid sizes clamp to one pixel). Deterministic integer math. */
  private def imageGrid(payload: Array[Byte]): Option[Array[Int]] =
    try {
      val img = javax.imageio.ImageIO.read(ImageDecoder.memStream(payload))
      if (img == null) None else Some(gridOfImage(img))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The 9×8 area-average grid of a DECODED image — shared with the
    * per-frame video dHash (round 19), which walks GIF frames through
    * the real reader and grids each one. */
  private[operators] def gridOfImage(img: java.awt.image.BufferedImage): Array[Int] = {
    val w = img.getWidth; val h = img.getHeight
    val grid = new Array[Int](GridW * GridH)
    var r = 0
    while (r < GridH) {
      var c = 0
      while (c < GridW) {
        val x0 = math.min(c * w / GridW, w - 1)
        val x1 = math.max((c + 1) * w / GridW, x0 + 1)
        val y0 = math.min(r * h / GridH, h - 1)
        val y1 = math.max((r + 1) * h / GridH, y0 + 1)
        var sum = 0L; var n = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3
            n += 1; x += 1
          }
          y += 1
        }
        grid(r * GridW + c) = (sum / n).toInt
        c += 1
      }
      r += 1
    }
    grid
  }

  /** Byte-sample fallback grid: cell k = payload byte at (k·n)/72 —
    * SQL-expressible (the oracle mirrors it with ascii/substr over the
    * ASCII test corpus, like decodeFeatures' fake path). */
  private def fakeGrid(payload: Array[Byte]): Array[Int] = {
    val n = payload.length.toLong
    Array.tabulate(GridW * GridH)(k =>
      if (n == 0) 0 else payload(((k * n) / (GridW * GridH)).toInt) & 0xFF)
  }

  private def anyGrid(payload: Array[Byte]): Array[Int] =
    if (ImageDecoder.mightBeImage(payload)) imageGrid(payload).getOrElse(fakeGrid(payload))
    else fakeGrid(payload)

  /** Crafted seed payloads unioned into the GATED pair entry (round 9):
    * the sf0.01 text stand-in corpus has no two docs within Hamming 3,
    * so the pair query gated vacuously (0 == 0 rows — join, verify and
    * distinct never produced a row under the oracle). Two identical
    * payloads guarantee a Hamming-0 pair; the one-char edit exercises
    * the near-but-not-exact path (whether it lands within the threshold
    * is corpus-free determinism — engine and oracle compute the same
    * grid, so the gate is exact either way). Negative ids keep the
    * seeds disjoint from every corpus doc_id; ASCII only, so the
    * byte-sample oracle arithmetic holds. The dense twin
    * [[imageDhash]] stays seed-free — it gates the hash on REAL rows. */
  private[graft] val DhashSeedBase =
    "graft dhash pair seed: the quick brown fox jumps over the lazy dog 0123456789 abcdefghijklmnopqrstuvwxyz"
  private[graft] val DhashSeeds: Seq[(Long, String)] = Seq(
    -3L -> DhashSeedBase,
    -2L -> DhashSeedBase,
    -1L -> DhashSeedBase.replace("quick", "quack"))

  def imageDhashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seeds = DhashSeeds.toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    dhashDedupOf(spark, media(spark, dir).unionByName(seeds))
  }

  /** The four 16-bit dHash block columns over a `grid` array column —
    * shared by the image entry and the per-frame video dHash (r19).
    * 16 bits per block j: rows 2j, 2j+1; bit b = cell(r,c) >
    * cell(r,c+1) at r = 2j + b/8, c = b%8 (element_at is 1-based). */
  private[operators] def dhashBlockCols: Seq[org.apache.spark.sql.Column] =
    (0 until 4).map { j =>
      (0 until 16).map { b =>
        val r = j * 2 + b / 8; val c = b % 8
        when(element_at(col("grid"), r * GridW + c + 1) >
             element_at(col("grid"), r * GridW + c + 2), lit(1 << b)).otherwise(lit(0))
      }.reduce(_ + _).as(s"b$j")
    }

  /** (doc_id, b0..b3): the dHash of every payload as its four 16-bit
    * blocks. */
  def dhashOf(spark: SparkSession, frame: DataFrame): DataFrame = {
    import spark.implicits._
    val grids = frame.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(_.map(r => (r.doc_id, anyGrid(r.payload))))
      .toDF("doc_id", "grid")
    grids.select(col("doc_id") +: dhashBlockCols: _*)
  }

  /** Dense gated twin: the per-doc hash table itself (the pair list is
    * vacuous on the text stand-in corpus — no two docs land within
    * Hamming 3 — so THIS entry is what makes the dHash computation
    * hash-gated on every row; pair semantics are spec-proven on real
    * PNG crops). */
  def imageDhash(spark: SparkSession, dir: String): DataFrame =
    dhashOf(spark, media(spark, dir)).orderBy(col("doc_id"))

  /** Near-dup image pairs (da, db, hamming ≤ 3) over any
    * (doc_id, payload) frame. */
  def dhashDedupOf(spark: SparkSession, frame: DataFrame): DataFrame =
    blockPairsOf(dhashOf(spark, frame).cache(),
      logDropsAs = Some("mm_image_dhash_dedup"))

  /** Default per-candidate-key document-frequency cap for every
    * multimodal near-dup join (image/audio block values, video
    * aligned blocks, winnow fingerprints) — the shingle-join
    * discipline (Dedup.DefaultMaxShingleDf) applied to media keys. On
    * real corpora hot keys are GUARANTEED: flat/black regions collapse
    * block values and fade-to-black frame runs make one fingerprint
    * corpus-wide hot, and a key in k docs yields k² candidates — a
    * quadratic blowup on skew at scale. A dropped key only removes
    * CANDIDATE DISCOVERY via that key (verification still reads the
    * full uncapped signatures); only pairs whose every shared key is
    * corpus-hot can be missed, and those are flat-content matches, not
    * the near-dups the operators exist to find. Mirrored verbatim as a
    * `keep` CTE in all four gated oracles. */
  private[graft] val DefaultMaxBlockDf = 256L

  /** 4-block pigeonhole pair machinery over ANY (doc_id, b0..b3)
    * signature table (Hamming ≤ 3 ⇒ ≥1 of 4 16-bit blocks equal) —
    * shared by the image dHash dedup and the audio ZCR-signature dedup
    * (round 19). Caller caches `hashed` (it feeds both join sides).
    * Candidate keys (k, bv) hotter than `maxDf` docs are dropped from
    * discovery with logged drops ([[DefaultMaxBlockDf]]). */
  private[graft] def blockPairsOf(hashed: DataFrame,
                                  maxDf: Option[Long] = Some(DefaultMaxBlockDf),
                                  logDropsAs: Option[String] = None): DataFrame = {
    val exploded = hashed.select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("k"), col(s"b$k").as("bv"))): _*)).as("blk"))
      .select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
        col("blk.k"), col("blk.bv"))
    // (doc_id, k) is unique per input row, so count(*) per (k, bv) IS
    // the key's document frequency (distinctPairs)
    val blocks = maxDf.fold(exploded)(m =>
      Skew.capByFrequency(exploded.withColumn("__hk", struct(col("k"), col("bv"))),
        "__hk", "doc_id", m, logDropsAs, distinctPairs = true).drop("__hk"))
    val left = blocks.select(col("doc_id").as("da"), col("b0").as("ab0"),
      col("b1").as("ab1"), col("b2").as("ab2"), col("b3").as("ab3"), col("k"), col("bv"))
    val right = blocks.select(col("doc_id").as("db"), col("b0").as("bb0"),
      col("b1").as("bb1"), col("b2").as("bb2"), col("b3").as("bb3"), col("k"), col("bv"))
    left.join(right, Seq("k", "bv"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        ((0 until 4).map(j => bit_count(col(s"ab$j").bitwiseXOR(col(s"bb$j"))))
          .reduce(_ + _)).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("da"), col("db"))
  }

  // ---- incremental dHash near-dup catalog (round 20) --------------------
  // The 19d/19e catalog shape for media signatures: persist
  // (doc_id, b0..b3) as the near-dup state (16 bytes per doc), classify
  // each incoming batch against the CATALOG ONLY — a batch never
  // self-joins, so the nightly cost is O(batch × catalog-candidates),
  // never O(batch²) — and append O(batch) through the batch-keyed
  // layout of [[BatchCatalog]] (crash-retried batches replace their
  // partial files; a retry reads the catalog without its own batch).
  // The catalog block side is df-capped like every mm candidate join.

  /** The dHash catalog: the hashed (doc_id, b0..b3) rows themselves — a
    * union of batches IS the rebuild-equivalent merge. */
  val DhashCatalog: BatchCatalog.Kind = BatchCatalog.Kind(
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, b0 INT, b1 INT, b2 INT, b3 INT"),
    hashed => Seq(hashed))

  /** (doc_id, k, bv): the four pigeonhole candidate keys of a hashed
    * (doc_id, b0..b3) frame. */
  private def blockKeys(hashed: DataFrame): DataFrame =
    hashed.select(col("doc_id"),
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("k"), col(s"b$k").as("bv"))): _*)).as("blk"))
      .select(col("doc_id"), col("blk.k"), col("blk.bv"))

  /** Classify an incoming hashed batch against a dHash catalog:
    * (doc_id, status exact_dup|near_dup|novel, match_id, hamming).
    * Best match = lowest Hamming, ties → lowest catalog id (the
    * incrementalOf rule); exact_dup = Hamming 0. Catalog block keys
    * hotter than [[DefaultMaxBlockDf]] docs leave candidate discovery. */
  def dhashIncrementalOf(catalog: DataFrame, incoming: DataFrame): DataFrame = {
    val catBlocks = Skew.capByFrequency(
      blockKeys(catalog).withColumn("__hk", struct(col("k"), col("bv"))),
      "__hk", "doc_id", DefaultMaxBlockDf, Some("mm_dhash_incremental"),
      distinctPairs = true).drop("__hk")
    val cand = blockKeys(incoming)
      .join(catBlocks.select(col("doc_id").as("cid"), col("k"), col("bv")),
        Seq("k", "bv"))
      .select(col("doc_id"), col("cid")).distinct()
    val hm = cand
      .join(incoming.select(col("doc_id") +:
        (0 until 4).map(j => col(s"b$j").as(s"ab$j")): _*), Seq("doc_id"))
      .join(catalog.select(col("doc_id").as("cid") +:
        (0 until 4).map(j => col(s"b$j").as(s"bb$j")): _*), Seq("cid"))
      .select(col("doc_id"), col("cid"),
        ((0 until 4).map(j => bit_count(col(s"ab$j").bitwiseXOR(col(s"bb$j"))))
          .reduce(_ + _)).cast("int").as("hamming"))
      .filter(col("hamming") <= 3)
    val best = BatchCatalog.bestMatch(hm, col("hamming"))
      .select(col("doc_id"), col("cid"), col("hamming"))
    incoming.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("hamming") === 0, "exact_dup")
          .when(col("hamming").isNotNull, "near_dup")
          .otherwise("novel").as("status"),
        col("cid").as("match_id"), col("hamming"))
      .orderBy(col("doc_id"))
  }

  /** Gated `mm_dhash_incremental`: catalog = corpus docs below IncCut
    * plus seed −3; incoming = everything else (the identical seed −2
    * must classify exact_dup against −3 through the catalog). */
  private[graft] val IncCut = 250L

  def dhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seeds = DhashSeeds.toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val hashed = dhashOf(spark, media(spark, dir).unionByName(seeds)).cache()
    val isCat = col("doc_id").between(0L, IncCut - 1) || col("doc_id") === -3L
    dhashIncrementalOf(hashed.filter(isCat), hashed.filter(!isCat))
  }

  val dhashIncrementalOracle: String = s"""
    WITH $dhashHashCtes,
    cat AS (SELECT * FROM h WHERE (doc_id BETWEEN 0 AND ${IncCut - 1}) OR doc_id = -3),
    inc AS (SELECT * FROM h WHERE NOT ((doc_id BETWEEN 0 AND ${IncCut - 1}) OR doc_id = -3)),
    blc AS (
      SELECT doc_id, k,
        CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bv
      FROM cat, (SELECT unnest(range(4)) AS k)),
    keep AS (SELECT k, bv FROM blc GROUP BY k, bv HAVING count(*) <= $DefaultMaxBlockDf),
    bli AS (
      SELECT doc_id, k,
        CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bv
      FROM inc, (SELECT unnest(range(4)) AS k)),
    cand AS (
      SELECT DISTINCT i.doc_id, c.doc_id AS cid
      FROM bli i
      JOIN keep kp ON kp.k = i.k AND kp.bv = i.bv
      JOIN blc c ON c.k = i.k AND c.bv = i.bv),
    hm AS (
      SELECT cand.doc_id, cand.cid,
        CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
             bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS INT) AS hamming
      FROM cand
      JOIN inc a ON a.doc_id = cand.doc_id
      JOIN cat b ON b.doc_id = cand.cid),
    best AS (
      SELECT doc_id, cid, hamming,
        row_number() OVER (PARTITION BY doc_id ORDER BY hamming, cid) AS rn
      FROM hm WHERE hamming <= 3 QUALIFY rn = 1)
    SELECT i.doc_id,
      CASE WHEN best.hamming = 0 THEN 'exact_dup'
           WHEN best.hamming IS NOT NULL THEN 'near_dup'
           ELSE 'novel' END AS status,
      best.cid AS match_id, best.hamming
    FROM inc i LEFT JOIN best ON best.doc_id = i.doc_id
    ORDER BY i.doc_id"""

  /** SQL twin of the dHash BLOCK values over the byte-sample grid —
    * shared by the oracle so plan and oracle can't drift. */
  private[operators] def dhashBlockSql(j: Int): String =
    (0 until 16).map { b =>
      val r = j * 2 + b / 8; val c = b % 8
      s"(CASE WHEN grid[${r * GridW + c + 1}] > grid[${r * GridW + c + 2}] THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")

  /** Exact twin of [[imageDhash]]: byte-sample grid + the same block
    * bits, one row per document. */
  val imageDhashOracle: String = s"""
    WITH g AS (
      SELECT doc_id, k,
        CASE WHEN strlen(text) = 0 THEN 0
             ELSE ascii(substr(text, CAST((k * strlen(text)) // ${GridW * GridH} AS INT) + 1, 1)) END AS v
      FROM documents, (SELECT unnest(range(${GridW * GridH})) AS k)),
    p AS (SELECT doc_id, list(v ORDER BY k) AS grid FROM g GROUP BY doc_id)
    SELECT doc_id, ${(0 until 4).map(j => s"${dhashBlockSql(j)} AS b$j").mkString(", ")}
    FROM p ORDER BY doc_id"""

  /** The seeded-corpus dHash CTE chain up to `h(doc_id, b0..b3)` —
    * shared by the pair oracle and the incremental-catalog oracle so
    * the hash computation can never drift between them. */
  private def dhashHashCtes: String = s"""dseed(doc_id, text) AS (VALUES ${
      DhashSeeds.map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }.mkString(", ")}),
    dplus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM dseed),
    g AS (
      SELECT doc_id, k,
        CASE WHEN strlen(text) = 0 THEN 0
             ELSE ascii(substr(text, CAST((k * strlen(text)) // ${GridW * GridH} AS INT) + 1, 1)) END AS v
      FROM dplus, (SELECT unnest(range(${GridW * GridH})) AS k)),
    p AS (SELECT doc_id, list(v ORDER BY k) AS grid FROM g GROUP BY doc_id),
    h AS (SELECT doc_id, ${(0 until 4).map(j => s"${dhashBlockSql(j)} AS b$j").mkString(", ")} FROM p)"""

  /** Exact twin of [[imageDhashDedup]] on the (ASCII) text stand-in
    * corpus: byte-sample grid, the same block bits, pigeonhole
    * candidate join, Hamming ≤ 3. The seed rows are generated from the
    * SAME Scala constants as the Spark side, so the two can't drift. */
  val imageDhashDedupOracle: String = s"""
    WITH $dhashHashCtes,
    bl AS (
      SELECT doc_id, b0, b1, b2, b3, k,
        CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bv
      FROM h, (SELECT unnest(range(4)) AS k)),
    keep AS (SELECT k, bv FROM bl GROUP BY k, bv HAVING count(*) <= $DefaultMaxBlockDf),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
        a.b0 AS ab0, a.b1 AS ab1, a.b2 AS ab2, a.b3 AS ab3,
        b.b0 AS bb0, b.b1 AS bb1, b.b2 AS bb2, b.b3 AS bb3
      FROM bl a JOIN keep kp ON kp.k = a.k AND kp.bv = a.bv
      JOIN bl b ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id)
    SELECT da, db,
      CAST(bit_count(xor(ab0, bb0)) + bit_count(xor(ab1, bb1)) +
           bit_count(xor(ab2, bb2)) + bit_count(xor(ab3, bb3)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(ab0, bb0)) + bit_count(xor(ab1, bb1)) +
          bit_count(xor(ab2, bb2)) + bit_count(xor(ab3, bb3)) <= 3
    ORDER BY da, db"""

  // ---- registry -------------------------------------------------------

  /** Exact twin of the GATED decode entry: text payloads never parse as
    * images (ImageIO declines), so every gated row takes the
    * deterministic fake path, which is byte arithmetic — expressible in
    * SQL because the test corpus is pure ASCII (code point == UTF-8
    * byte, verified at both oracle SFs). Real image corpora keep the
    * rows-only treatment: their features depend on codec output.
    *
    * Empty documents: the per-byte CTE has no rows for them, so `agg`
    * is LEFT-joined with coalesce(s,0)/coalesce(n,1) — mirroring
    * FakeDecoder's empty-payload output (16×16, mean 0.0, zero hist;
    * DuckDB ascii('') is 0, matching payload.headOption.getOrElse(0))
    * instead of silently dropping the row the Spark side emits. */
  val decodeFeaturesOracle: String = """
    WITH bytes AS (
      SELECT doc_id, ascii(substr(text, CAST(i AS INT) + 1, 1)) AS b
      FROM (SELECT doc_id, text, unnest(range(strlen(text))) AS i FROM documents)),
    agg AS (SELECT doc_id, count(*) AS n, sum(b) AS s FROM bytes GROUP BY doc_id),
    hcnt AS (SELECT doc_id, b // 32 AS k, count(*) AS c FROM bytes GROUP BY 1, 2),
    grid AS (SELECT doc_id, k FROM (SELECT doc_id FROM documents), range(8) r(k)),
    hcsv AS (
      SELECT g.doc_id,
        string_agg(CAST(coalesce(h.c, 0) AS VARCHAR), ',' ORDER BY g.k) AS hist_csv
      FROM grid g LEFT JOIN hcnt h ON h.doc_id = g.doc_id AND h.k = g.k
      GROUP BY g.doc_id)
    SELECT d.doc_id,
      16 + (ascii(substr(d.text, 1, 1)) & 15) AS width,
      16 + (ascii(substr(d.text, 2, 1)) & 15) AS height,
      floor((CAST(coalesce(a.s, 0) AS DOUBLE) / coalesce(a.n, 1)) * 10000 + 0.5) / 10000 AS mean_byte,
      hcsv.hist_csv
    FROM documents d LEFT JOIN agg a USING (doc_id) JOIN hcsv USING (doc_id)
    ORDER BY d.doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_binary_meta"     -> (binaryMeta _),
    "mm_chunk_sample"    -> (chunkSample _),
    "mm_decode_features" -> (decodeFeatures _),
    "mm_audio_features"  -> (Audio.audioFeatures _),
    "mm_audio_sig_dedup" -> (Audio.audioSigDedup _),
    "mm_audio_hk_dedup"  -> (Audio.audioHkDedup _),
    "mm_video_frames"    -> (Video.videoFrames _),
    "mm_video_dhash_dedup" -> (Video.videoDhashDedup _),
    "mm_video_winnow_dedup" -> (Video.videoWinnowDedup _),
    "mm_image_dhash"     -> (imageDhash _),
    "mm_image_dhash_dedup" -> (imageDhashDedup _),
    "mm_dhash_incremental" -> (dhashIncremental _))

  val oracle: Map[String, String] = Map(
    "mm_binary_meta"     -> binaryMetaOracle,
    "mm_chunk_sample"    -> chunkSampleOracle,
    "mm_decode_features" -> decodeFeaturesOracle,
    "mm_audio_features"  -> Audio.audioFeaturesOracle,
    "mm_audio_sig_dedup" -> Audio.audioSigDedupOracle,
    "mm_audio_hk_dedup"  -> Audio.audioHkDedupOracle,
    "mm_video_frames"    -> Video.videoFramesOracle,
    "mm_video_dhash_dedup" -> Video.videoDhashDedupOracle,
    "mm_video_winnow_dedup" -> Video.videoWinnowDedupOracle,
    "mm_image_dhash"     -> imageDhashOracle,
    "mm_image_dhash_dedup" -> imageDhashDedupOracle,
    "mm_dhash_incremental" -> dhashIncrementalOracle)
}
