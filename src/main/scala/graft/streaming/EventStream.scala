package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.operators.{BatchCatalog, Dedup, Multimodal}

/** Structured Streaming operators (SURVEY §2g) — the streaming twins of
  * `Analytics.eventsWindowedAgg` (#14) and `Analytics.eventsSessionize`
  * (#13). Batch/stream share the event-time semantics: tumbling 1 h
  * windows with a 1 h watermark, and 1800 s gap sessions.
  *
  * At scale this is the standard continuous-ingest shape: file/kafka
  * source → watermark → stateful agg → sink, with state partitioned by
  * the grouping key across executors.
  */
object EventStream {

  val eventSchema = "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"
  val eventSchemaNtz = "event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, event_type STRING, value DOUBLE, props STRING"

  /** File-source stream over an events table, normalized like
    * `Tables.events`: `ts` is epoch NANOSECONDS as LONG whether the
    * parquet encodes TIMESTAMP(NANOS) (read as raw long) or
    * timestamp[us] ntz (read as TIMESTAMP_NTZ, converted under a pinned
    * UTC session zone). A one-off batch read sniffs the encoding — the
    * streaming file source needs the schema up front. Handles both
    * layouts: `events.parquet` as a DIRECTORY of part files (read
    * directly — a pathGlobFilter would silently exclude every part
    * file and yield an empty stream) and as a single FILE (the file
    * source requires a directory, so read the parent with a glob). */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = new java.io.File(s"$dir/events.parquet")
    val tsIsLong =
      spark.read.parquet(path.getPath).schema("ts").dataType ==
        org.apache.spark.sql.types.LongType
    val reader = spark.readStream.schema(if (tsIsLong) eventSchema else eventSchemaNtz)
    val raw =
      if (path.isDirectory) reader.parquet(path.getPath)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    val ns =
      if (tsIsLong) raw
      else {
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        raw.withColumn("ts", expr("unix_micros(cast(ts as timestamp_ltz)) * 1000L"))
      }
    ns.withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
  }

  /** Tumbling 1 h windowed counts/sums with a 1 h watermark. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")), 2).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact dedup with BOUNDED state — the continuous-ingest
    * twin of `Dedup.exact`. Fingerprints are deduped within a watermark
    * horizon of the event-time column via `dropDuplicatesWithinWatermark`,
    * so state rows older than the watermark are EVICTED instead of
    * accumulating one row per distinct document forever (a plain
    * `dropDuplicates` is a slow-motion OOM on continuous ingest).
    *
    * Semantics: first arrival wins within the horizon; a duplicate
    * arriving more than `horizon` after every earlier copy re-emits.
    * That is the right trade at 100 TB — state must be finite, and
    * cross-horizon dedup belongs to a periodic batch `Dedup.exact`
    * compaction over the sink. */
  def dedupWithinWatermark(docs: DataFrame, tsCol: String,
                           horizon: String = "1 hour"): DataFrame =
    docs
      .select(col(tsCol), col("doc_id"),
        graft.functions.TextFns.contentFp(graft.functions.TextFns.tokens(col("text"))).as("content_fp"))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("content_fp")

  /** File-source wiring of [[dedupWithinWatermark]]: the documents table
    * carries no event time, so arrival (processing) time stands in —
    * correct for ingest dedup, where the horizon is "how long ago could
    * a duplicate have been written". Output schema stays (doc_id,
    * content_fp) like `Dedup.exact`'s key columns. */
  def dedupDocuments(spark: SparkSession, dir: String,
                     horizon: String = "1 hour"): DataFrame = {
    val path = new java.io.File(s"$dir/documents.parquet")
    val reader = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
    val raw =
      if (path.isDirectory) reader.parquet(path.getPath) // see readEvents
      else reader.option("pathGlobFilter", "documents.parquet").parquet(dir)
    dedupWithinWatermark(raw.withColumn("ingest_ts", current_timestamp()),
        "ingest_ts", horizon)
      .select(col("doc_id"), col("content_fp"))
  }

  /** Stream-stream interval join: purchases within one hour AFTER a
    * click by the same user — the streaming twin of the funnel's join
    * stage (Analytics.eventsFunnel). Both sides carry watermarks and
    * the join condition is time-bounded in both directions, which is
    * exactly what lets Spark bound the join state: click rows older
    * than watermark + interval are evicted instead of buffering the
    * stream forever. Inner-join results are complete under these
    * bounds (no match can arrive after its click's state expires). */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .select(col("user_id"), col("event_ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    c.join(p, expr(
        """user_id = p_user AND
           purchase_ts > click_ts AND
           purchase_ts <= click_ts + interval 1 hour"""))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"))
  }

  /** Streaming incremental classify — the continuous-ingest form of the
    * nightly catalog loop (Dedup.incrementalOf + the shingle catalog's
    * append). Each micro-batch of documents (doc_id, text) is classified
    * against the persisted parquet catalog with the SAME relational
    * logic as the batch API, verdicts land in a parquet sink, and the
    * batch's fingerprints + shingles are appended to the catalog in
    * place so the NEXT micro-batch sees this one's documents.
    *
    * foreachBatch is the right carrier here, not a state-store op: the
    * classification is multi-join relational logic over a complete
    * per-batch corpus (docs arrive whole), and the only cross-batch
    * state is the catalog itself — which lives in parquet, bounded by
    * corpus size rather than stream length, leaving ZERO state-store
    * rows (spec-asserted). The catalog's fingerprint side is
    * broadcast-sized per Spark's own estimate; AQE picks the join
    * strategy per batch exactly as in the batch API.
    *
    * Failure semantics: the loop is IDEMPOTENT under batch retry, which
    * makes it effectively exactly-once without a transactional format.
    * Verdicts and catalog appends both land in the batch-keyed layout
    * of [[graft.operators.BatchCatalog]] (`batch-<id>/` with overwrite,
    * keyed on foreachBatch's `batchId`, stable across retries), so a
    * retried batch replaces, never duplicates — duplicate catalog
    * shingle rows would double `inter` in incrementalOf while n_sh
    * stayed single (Jaccard above 1, novel→near_dup flips for later
    * batches). Classification reads the catalog EXCLUDING the current
    * batch's own subdir, so a retry sees exactly the catalog the first
    * attempt saw (not its own half-appended docs, which would
    * self-match every doc to exact_dup). Read the verdicts (and a
    * streamed-into catalog) with `recursiveFileLookup=true`. */
  def classifyAgainstCatalog(docs: DataFrame, fpPath: String, shPath: String,
                             verdictsPath: String, checkpoint: String,
                             novelOnly: Boolean = false): StreamingQuery =
    BatchCatalog.stream(docs, checkpoint)(
      classifyBatch(_, _, fpPath, shPath, verdictsPath, novelOnly))

  /** One micro-batch of [[classifyAgainstCatalog]], callable directly so
    * the crash-retry path is spec-testable (run the same batchId twice).
    * The steps are [[graft.operators.BatchCatalog.Kind.classifyBatch]]'s;
    * the per-batch incoming-shingle cache is released once the verdicts
    * are written. */
  def classifyBatch(batch: DataFrame, batchId: Long,
                    fpPath: String, shPath: String, verdictsPath: String,
                    novelOnly: Boolean = false): Unit =
    Dedup.ShingleCatalog.classifyBatch(batch, batchId, Seq(fpPath, shPath),
        verdictsPath, novelOnly) { case Seq(fp, sh) =>
      val (verdicts, inSh) = Dedup.incrementalOfTracked(fp, sh, batch)
      (verdicts, Some(inSh))
    }

  /** Streaming MEDIA near-dup catalog loop (round 20) — the 31g shape
    * for the dHash catalog: each micro-batch of (doc_id, b0..b3)
    * signatures classifies against the persisted catalog ONLY
    * ([[graft.operators.Multimodal.dhashIncrementalOf]] — batch members
    * never match each other), writes verdicts, then appends itself
    * O(batch) through the batch-keyed layout. Same crash-retry contract
    * as [[classifyAgainstCatalog]]; a never-written catalog root reads
    * as the empty catalog, so the first batch classifies all novel. */
  def classifyMediaAgainstCatalog(hashed: DataFrame, catPath: String,
                                  verdictsPath: String, checkpoint: String,
                                  novelOnly: Boolean = false): StreamingQuery =
    BatchCatalog.stream(hashed, checkpoint)(
      classifyMediaBatch(_, _, catPath, verdictsPath, novelOnly))

  /** One micro-batch of [[classifyMediaAgainstCatalog]], callable
    * directly so the crash-retry path is spec-testable. */
  def classifyMediaBatch(batch: DataFrame, batchId: Long, catPath: String,
                         verdictsPath: String, novelOnly: Boolean = false): Unit =
    Multimodal.DhashCatalog.classifyBatch(batch, batchId, Seq(catPath),
        verdictsPath, novelOnly) { case Seq(cat) =>
      (Multimodal.dhashIncrementalOf(cat, batch), None)
    }

  /** Streaming DSIR scoring — the ingest-time form of
    * `Curation.dsirSample`'s scoring stage. The model is FIXED (trained
    * offline by `Curation.dsirModel`); each incoming document gets its
    * log importance weight from the same hashed-gram bucket arithmetic.
    *
    * The model rides as a LITERAL map in the expression tree (≤4096
    * entries — the fixed hashed feature dimension is what makes that
    * legal), so the whole scorer is a narrow per-row projection: no
    * join, no shuffle, no state-store rows, append-mode clean. That is
    * the right shape for ingest-time selection at any stream rate —
    * scoring cost is O(grams per doc), independent of corpus and stream
    * history. Buckets unseen at training time score λ = 0, the exact
    * Laplace value log2(0+1) − log2(0+1) the batch model would assign
    * them. Weight semantics match the batch plan: per-gram λ rounded to
    * 8 dp at training, DECIMAL(28,12) fold over the doc's grams,
    * + n_grams·C, rounded to 4 dp — and, like the batch sample,
    * zero-gram documents are DROPPED rather than scored (logw would
    * degenerate to 0 = importance weight 1, outranking every genuinely
    * raw-scored doc at a selection threshold).
    *
    * The model is densified to a B-element ARRAY literal indexed by
    * bucket — NOT a map literal: Spark map data has no hash index, so
    * `element_at(map, k)` is a linear scan (O(B) per gram — measured 2×
    * the whole operator's cost at B=4096); array indexing is O(1). */
  def dsirScore(docs: DataFrame, lam: Map[Long, Double], cBits: Double): DataFrame = {
    val B = graft.operators.Curation.DsirBuckets
    graft.operators.Curation.dsirScored(
      docs.select(col("doc_id"), col("text"))
        // same cheap pre-scorer guard as the batch sample (zero grams ⟺
        // zero tokens; a post-hoc n_g filter would re-inline the gram
        // tree into the pushed-down condition)
        .filter(size(graft.functions.TextFns.tokens(col("text"))) > 0),
      (0 until B).map(b => lam.getOrElse(b.toLong, 0.0)),
      lit(cBits))
      .select(col("doc_id"), col("n_g"), col("logw"))
  }

  /** Ingest-time anomaly flagging (round 11) — the streaming twin of
    * `Analytics.eventsAnomaly`, shaped like every scorer here: the
    * offline per-type moments (|event types| pairs by construction —
    * the smallest model after BPE's merge list) ride as a CASE chain of
    * literals, so there is no join, no shuffle, and ZERO state-store
    * rows at any stream rate; the z rule itself is the SHARED
    * `Analytics.anomalyFlag` projection, so stream flags bit-match the
    * batch entry on the same moments. Types absent from the stats map
    * are DROPPED by an explicit isnan guard (fail-closed: unknown
    * regimes alert via the unmatched-type count, not fake z-scores) —
    * the guard must be explicit because Spark orders NaN ABOVE every
    * value, so an unguarded NaN variance would sail through both the
    * `vr > 0` and `abs(z) >= 3` predicates. */
  def anomalyScore(events: DataFrame,
                   stats: Map[String, (Double, Double)]): DataFrame = {
    def caseOf(pick: ((Double, Double)) => Double): org.apache.spark.sql.Column =
      stats.foldLeft(lit(Double.NaN)) { case (acc, (t, ms)) =>
        when(col("event_type") === lit(t), lit(pick(ms))).otherwise(acc)
      }
    graft.operators.Analytics.anomalyFlag(
      events.select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("v6"))
        .withColumn("mean", caseOf(_._1))
        .withColumn("m2", caseOf(_._2))
        .filter(!isnan(col("mean"))))
  }

  /** Ingest-time quality classification (round 9) — the streaming twin
    * of `Curation.qualityClassifier`, shaped exactly like
    * [[dsirScore]]: the offline-trained model (λ map + per-gram C +
    * class-prior bits, ≤B+2 doubles by construction) rides as literals,
    * scoring is the shared narrow decimal fold plus the shared verdict
    * projection — no join, no shuffle, ZERO state-store rows at any
    * stream rate. Verdict arithmetic bit-matches the batch entry (same
    * λ, same fold, same 4/6-dp rounds). */
  def classifierScore(docs: DataFrame, lam: Map[Long, Double], cBits: Double,
                      priorBits: Double): DataFrame = {
    val B = graft.operators.Curation.DsirBuckets
    graft.operators.Curation.classifierVerdict(
      graft.operators.Curation.dsirScored(
        docs.select(col("doc_id"), col("text"))
          .filter(size(graft.functions.TextFns.tokens(col("text"))) > 0),
        (0 until B).map(b => lam.getOrElse(b.toLong, 0.0)),
        lit(cBits)),
      priorBits)
      .select(col("doc_id"), col("n_g"), col("nb_bits"), col("margin"), col("keep"))
  }

  /** Ingest-time LM-surprisal bucketing (round 9) — the streaming twin
    * of `TextAnalysis.bigramSurprisal`, shaped exactly like
    * [[dsirScore]]: the offline-trained hashed bigram+unigram LM
    * (three dense B-arrays + the unigram total, ≤3B+1 doubles by
    * construction) rides as literals, scoring is the shared
    * per-position decimal blend — no join, no shuffle, ZERO state-store
    * rows at any stream rate. Values bit-match the batch entry. */
  def surprisalScore(docs: DataFrame,
                     model: graft.operators.TextAnalysis.BslmModel): DataFrame =
    graft.operators.TextAnalysis.bslmScored(
      docs.select(col("doc_id"), col("text")), model)

  /** Ingest-time language id (round 15) — the streaming twin of
    * `text_nb_lang_id`, shaped exactly like [[dsirScore]]: the K×B
    * char-ngram NB model (trained once from the literal seed profiles)
    * rides as K dense array literals, each class score is a per-row
    * decimal fold — no join, no shuffle, ZERO state-store rows at any
    * stream rate. Bits and verdicts bit-match the gated entry (spec). */
  def nbLangScore(docs: DataFrame,
                  model: Seq[(String, IndexedSeq[Double])]): DataFrame =
    graft.operators.TextAnalysis.nbLangScored(
      docs.select(col("doc_id"), col("text")), model)

  /** Ingest-time character entropy (round 17) — the streaming twin of
    * `text_char_entropy`, zero-state by construction: the per-doc
    * character distribution fits IN THE ROW (the tokenizer alphabet is
    * [a-z0-9_] — ≤ 37 symbols), so the batch operator's char explode +
    * two keyed aggregates become one bounded in-row fold: distinct
    * symbols via array_distinct, each symbol's count via a bounded
    * filter scan (O(n·|alphabet|) per doc), the SAME 8-dp per-term
    * rounding and exact DECIMAL fold (order-free, so in-row ≡ the batch
    * groupBy), 4 dp out. No join, no shuffle, ZERO state-store rows;
    * values bit-match the gated entry (spec). Zero-token docs drop,
    * exactly as the batch operator's empty explode drops them. */
  def charEntropyScore(docs: DataFrame): DataFrame =
    // round 18: the shared native [[graft.functions.CharStats]] pass —
    // still zero-state and in-row (stream-safe), now codegen'd instead
    // of the interpreted HOF fold (whose size(filter(cs, _ === c)) per
    // distinct char was O(37·n) per row). Same frame shape, values
    // bit-identical (the decimal recipe lives inside the expression;
    // differential-spec'd against [[charEntropyScoreHof]]).
    graft.operators.TextAnalysis.charEntropyOf(docs)

  /** Ingest-time SCRIPT-AWARE tokenization (round 19) — the streaming
    * twin of `text_script_tokens`, zero-state by construction: the v2
    * tokenizer is one narrow regexp-extract projection per row, so a
    * crawl stream gets plausible token counts for the CJK documents
    * the reference tokenizer sees nothing in. Values bit-match the
    * gated batch entry (same expressions, no state). */
  def scriptTokenScore(docs: DataFrame): DataFrame = {
    import graft.functions.TextFns
    val singleton = TextFns.UnspacedSingletonPattern
    docs.select(col("doc_id"), TextFns.tokensScript(col("text")).as("t"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(filter(col("t"), x => !x.rlike(singleton))).cast("long").as("n_words"),
        TextFns.contentFp(col("t")).as("tok_md5"))
  }

  /** Ingest-time UNSPACED-SCRIPT SEGMENTATION (round 20) — the
    * streaming twin of `text_seg_unspaced`, zero-state by
    * construction: the batch entry folds the fixture-derived merge
    * list once per DISTINCT run and joins back (vocabulary reuse);
    * a stream batch has no reuse to exploit, so the twin applies the
    * same fold IN-ROW per run (the [[graft.operators.TextAnalysis.bpeSymCount]]
    * precedent) — one narrow projection, no join, no shuffle, no
    * state rows. Values bit-match the gated batch entry (spec): same
    * run extraction, same fold, same '|'/' ' sequence encoding. */
  def segUnspacedScore(docs: DataFrame): DataFrame = {
    import graft.operators.TextAnalysis
    // coalesce: a null-text row must score like an empty doc
    // (n_runs=0, md5('')) exactly as the batch entry's posexplode_outer
    // path does — regexp over bare null would null every stat instead
    val runs = regexp_extract_all(coalesce(col("text"), lit("")),
      lit(TextAnalysis.UnspacedRunPattern), lit(0))
    docs.select(col("doc_id"), runs.as("rs"),
        transform(runs, r => TextAnalysis.segUnits(r)).as("us"))
      .select(col("doc_id"),
        size(col("rs")).cast("long").as("n_runs"),
        aggregate(col("rs"), lit(0), (a, r) => a + length(r))
          .cast("long").as("n_cp"),
        aggregate(col("us"), lit(0), (a, u) => a + size(u))
          .cast("long").as("n_units"),
        md5(array_join(transform(col("us"), u => array_join(u, " ")), "|"))
          .as("seg_md5"))
      .withColumn("ratio",
        when(col("n_cp") > 0,
          round(col("n_units").cast("double") / col("n_cp"), 4)))
      .select(col("doc_id"), col("n_runs"), col("n_cp"), col("n_units"),
        col("ratio"), col("seg_md5"))
  }

  /** Ingest-time SCOPED GARBLE GATE (round 20) — the streaming twin
    * of [[graft.operators.Curation.garbleGateScopedOf]]: the batch
    * form joins two per-doc frames (seg stats ⋈ language certificate);
    * the twin needs neither join — the merge list rides as fold
    * literals and the NB model as the [[graft.operators.TextAnalysis.nbLangCert]]
    * column, so the whole composed gate is ONE narrow projection — no
    * join, no shuffle, zero state rows. Values match the batch scoped
    * gate frame exactly (spec). */
  def garbleGateScore(docs: DataFrame,
      model: Seq[(String, IndexedSeq[Double])]): DataFrame = {
    import graft.operators.{Curation, TextAnalysis}
    // coalesce: null-text rows score like empty docs (batch parity —
    // see segUnspacedScore); the certificate side is null-safe on its
    // own (nbLangCert yields null where the batch entry emits no row)
    val runs = regexp_extract_all(coalesce(col("text"), lit("")),
      lit(TextAnalysis.UnspacedRunPattern), lit(0))
    val flag = col("n_cp") >= Curation.GarbleMinCp &&
      col("ratio") > Curation.GarbleRatioMax &&
      coalesce(col("nb_lang").isin(TextAnalysis.SegCoveredLangs: _*), lit(false))
    docs.select(col("doc_id"),
        aggregate(runs, lit(0), (a, r) => a + length(r))
          .cast("long").as("n_cp"),
        aggregate(transform(runs, r => TextAnalysis.segUnits(r)), lit(0),
          (a, u) => a + size(u)).cast("long").as("n_units"),
        TextAnalysis.nbLangCert(col("text"), model).as("nb_lang"))
      .withColumn("ratio",
        when(col("n_cp") > 0,
          round(col("n_units").cast("double") / col("n_cp"), 4)))
      .select(col("doc_id"), col("n_cp"), col("ratio"), col("nb_lang"),
        (!flag).as("keep"),
        when(flag, "cp_garble").otherwise("").as("reason"))
  }

  /** The round-17 HOF fold, kept as the declarative differential
    * reference for the native pass (spec). */
  private[graft] def charEntropyScoreHof(docs: DataFrame): DataFrame = {
    val chars = filter(
      split(array_join(graft.functions.TextFns.tokens(col("text")), ""), ""),
      c => c =!= lit(""))
    def p(c: Column) =
      size(filter(col("__cs"), x => x === c)).cast("double") / size(col("__cs"))
    docs.select(col("doc_id"), chars.as("__cs"))
      .filter(size(col("__cs")) > 0)
      .select(col("doc_id"),
        size(col("__cs")).cast("long").as("n_chars"),
        size(array_distinct(col("__cs"))).cast("long").as("n_distinct"),
        round(aggregate(array_distinct(col("__cs")),
            lit(java.math.BigDecimal.ZERO).cast("decimal(28,12)"),
            // cast the sum back to the accumulator type: decimal + widens
            // 28,12 → 29,12 and aggregate() requires them equal; values
            // stay ≤ a few bits × 37 symbols, so the cast is lossless
            (acc, c) => (acc + round(-p(c) * log2(p(c)), 8).cast("decimal(28,12)"))
              .cast("decimal(28,12)"))
          .cast("double"), 4).as("entropy"))
  }

  /** Ingest-time BPE encoding (round 9) — the streaming twin of
    * `TextAnalysis.bpeEncode`: the trained MERGE LIST (≤ BpeMerges
    * pairs — the smallest model in the whole engine) rides into a
    * per-row fold chain (char symbols → greedy merges → count per
    * word, summed in-row), so there is no vocab join and no state.
    * Per-occurrence folding is the right streaming tradeoff: a stream
    * batch has no vocabulary reuse for the batch entry's
    * distinct-word optimization to exploit. Counts bit-match batch
    * (same folds either way). */
  def bpeEncodeScore(docs: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val tA = graft.operators.TextAnalysis
    docs.select(col("doc_id"), col("text"))
      .filter(size(graft.functions.TextFns.tokens(col("text"))) > 0)
      .select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("__t"))
      .withColumn("n_tokens", size(col("__t")).cast("long"))
      .withColumn("n_bpe",
        aggregate(transform(col("__t"), w => tA.bpeSymCount(w, merges)),
          lit(0), (a, x) => a + x).cast("long"))
      .withColumn("ratio",
        round(col("n_bpe").cast("double") / col("n_tokens"), 4))
      .drop("__t")
  }

  /** Ingest-time SQ8 vector encoding (round 9) — the streaming twin of
    * `Similarity.topkSq8`'s encode stage, for the embed-and-index
    * pipeline: the frozen per-dimension (min, max) stats (2·dims
    * doubles, the smallest model after the BPE merge list) ride as
    * literals and each arriving vector maps to its one-byte codes in
    * one narrow per-row transform — no join, no shuffle, ZERO
    * state-store rows at any stream rate. Codes bit-match the batch
    * encoder (same literals, same floor/clamp arithmetic). */
  def sq8EncodeScore(vecs: DataFrame,
      mins: Array[Double], maxs: Array[Double]): DataFrame = {
    import graft.functions.VectorFns
    vecs.select(col("vec_id"),
      graft.operators.Similarity.sq8Codes(
        VectorFns.asDouble(col("embedding")), mins, maxs).as("codes"))
  }

  /** Ingest-time IVFPQ encoding (round 10) — the index-MAINTENANCE half
    * of the materialized IVFPQ index (`Similarity.ivfPqIndexOf` /
    * `ivfPqOf`): while the stored index serves query batches, arriving
    * embeddings map to their index row — nearest stored cell + PqM
    * codes — in ONE narrow per-row transform, appendable to the codes
    * table without retraining. Both frozen models ride as literals
    * (cells ≤ |cells|·dim doubles, books PqM·k·sub — the 21c broadcast
    * budget); no join, no shuffle, ZERO state-store rows at any rate.
    *
    * Codes bit-match `ivfPqIndexOf`'s RESIDUAL encode on the same
    * vectors (same zip_with subtraction against the row's cell
    * centroid, same pqD2 argmin, first-min tie — spec-proven). The
    * cell the residual is taken against: rows carrying a `label`
    * column (the catalog-ingest contract — `ivfPqIndexMerge`'s
    * newVecs shape) use THAT cell, so streamed codes equal the batch
    * encode exactly; unlabeled rows fall back to the first-max 6-dp
    * centroid cosine in the CALLER-SORTED cells order (sort by clabel
    * to match the serve path's probe tie-break) — the right cell for
    * a vector the catalog hasn't classified, but only
    * coincidentally the label cell. A label absent from `cells`
    * throws (ANSI element_at on position 0) rather than encoding
    * against an arbitrary centroid. */
  def ivfPqEncodeScore(vecs: DataFrame, cells: Seq[(String, Seq[Double])],
                       books: IndexedSeq[IndexedSeq[Seq[Double]]]): DataFrame = {
    import graft.functions.VectorFns
    import graft.operators.Similarity
    val cellNames = typedLit(cells.map(_._1))
    val cellVecs = typedLit(cells.map(_._2))
    val cbs = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val unit = vecs
      .select(Seq(col("vec_id"), VectorFns.asDouble(col("embedding")).as("raw")) ++
        (if (vecs.columns.contains("label")) Seq(col("label")) else Nil): _*)
      .withColumn("__n", VectorFns.norm(col("raw")))
      .withColumn("__v", VectorFns.normalize(col("raw"), col("__n")))
      .drop("raw", "__n")
    val ccos = transform(cellVecs, cv => VectorFns.cosine6(col("__v"), cv))
    val cellIdx =
      if (vecs.columns.contains("label"))
        array_position(cellNames, col("label").cast("string")).cast("int")
      else
        array_position(ccos, array_max(ccos)).cast("int")
    // residual = unit vector − its cell's centroid, exactly the batch
    // encoder's zip_with (Similarity.residualsOf)
    val codes = transform(sequence(lit(0), lit(Similarity.PqM - 1)), s => {
      val sv = slice(col("__r"), s * Similarity.PqSub + 1, lit(Similarity.PqSub))
      val cb = element_at(cbs, s + 1)
      val d2s = transform(sequence(lit(1), size(cb)),
        i => Similarity.pqD2(sv, element_at(cb, i)))
      array_position(d2s, array_min(d2s)).cast("int")
    })
    unit
      .withColumn("__ci", cellIdx)
      .withColumn("__r", zip_with(col("__v"),
        element_at(cellVecs, col("__ci")), (a, b) => a - b))
      .select(col("vec_id"),
        element_at(cellNames, col("__ci")).as("cell"),
        codes.as("codes"),
        // round 13 (ADVICE): carry the cell-choice provenance in-band.
        // true = the row's CATALOG label picked the cell — codes are
        // bit-equal to a batch rebuild (the spec'd contract); false =
        // nearest-centroid fallback — best-effort codes that diverge
        // from a rebuild whenever the nearest cell is not the label
        // cell. Downstream mergers can route on this instead of having
        // to know which ingest path produced the frame.
        lit(vecs.columns.contains("label")).as("label_exact"))
  }

  /** ONLINE ANN SERVING (round 13) — the query-side streaming twin of
    * `sim_topk_ivf_pq_indexed`, closing the serve/maintain pair: 31n
    * (`ivfPqEncodeScore`) streams VECTORS into the stored index, this
    * streams QUERIES against it. Each micro-batch of (vec_id,
    * embedding) rows is unit-normalized exactly like the batch side's
    * `emb` (same asDouble→norm→normalize chain, so a query vector
    * scores identically whether it arrives in a file or a stream) and
    * answered by the SAME serve core as the batch side
    * (`Similarity.ivfPqServeStored`): probe schedule → probed-label IN
    * filter → residual ADC — over the label-PARTITIONED codes store
    * that filter is file-level partition pruning, so a micro-batch
    * reads only its probed directories, never the corpus. `refineDir`
    * adds the exact re-rank pass (reads K·10 candidate vectors per
    * query — never a vector-store shuffle).
    *
    * Scale shape: per batch the only corpus-sized input is the pruned
    * codes scan; the index models stay on the driver across batches,
    * the LUT, offsets and candidate map ship in one broadcast per pass,
    * and there are ZERO state-store rows at any rate (the
    * index IS the state, shared read-only with the 31n ingest path —
    * the composed StreamingSpec case grows it mid-stream). Results land
    * batchId-keyed (idempotent overwrite like [[scrubAgainstSpanCatalog]]):
    * a crash retry rewrites its own subdirectory instead of
    * duplicating answers. */
  def annServeStream(queries: DataFrame, indexBase: String, outPath: String,
                     checkpoint: String, refineDir: Option[String] = None): StreamingQuery =
    BatchCatalog.stream(queries, checkpoint)(
      annServeBatch(_, _, indexBase, outPath, refineDir))

  /** One micro-batch of [[annServeStream]], callable directly so
    * batch-twin equality and crash-retry idempotence are spec-testable. */
  def annServeBatch(batch: DataFrame, batchId: Long, indexBase: String,
                    outPath: String, refineDir: Option[String]): Unit = {
    val sp = batch.sparkSession
    import graft.functions.VectorFns
    import graft.operators.Similarity
    val qs = batch
      .select(col("vec_id").as("qid"), VectorFns.asDouble(col("embedding")).as("raw"))
      .withColumn("__n", VectorFns.norm(col("raw")))
      .select(col("qid"), VectorFns.normalize(col("raw"), col("__n")).as("qvec"))
    // refine reads ride the vec_id-bucketed store (round 13): the
    // candidate IN filter prunes buckets per micro-batch — adaptively
    // falling back to the flat view of the same files when a batch's
    // candidates cover most buckets (round 14). The served lists are a
    // local relation: nothing is cached, so nothing accumulates over
    // the life of the query.
    BatchCatalog.write(Similarity.ivfPqServeStored(sp, indexBase, qs, refineDir),
      outPath, batchId)
  }

  /** CONTINUOUS CRAWL INGEST (round 14) — the streaming front door of
    * the whole pipeline: a directory that crawl archives keep landing
    * in (`.warc[.gz]`, the Common Crawl delivery shape) becomes an
    * unbounded documents stream. Each new archive is one source unit
    * (the batch reader's parallelism grain — see WarcSource's
    * splittability note), records parse through the SAME
    * Content-Length framing and WET projection as the batch reader,
    * and the parquet file sink's commit log makes delivery
    * exactly-once under task retries. Zero state-store rows (pure
    * per-record transform); downstream curation consumes the sink
    * table incrementally (the classify/scrub loops) or in batch. */
  def warcIngestStream(spark: org.apache.spark.sql.SparkSession, warcDir: String,
                       outPath: String, checkpoint: String):
      org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.WarcSource.readWetStream(spark, warcDir)
      .writeStream.format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** RAW-HTML crawl ingest (round 15) — [[warcIngestStream]]'s sibling
    * for crawls that ship `response` records instead of WET
    * conversions: each archive's HTML pages decode per their
    * Content-Type charset (the shared response view), strip through
    * the SAME `htmlToText` the gated `text_html_extract` uses, and
    * land as a text-documents parquet table — exactly-once via the
    * file sink's commit log, zero state rows (pure per-record
    * transform). The WET and HTML front doors produce the same table
    * shape, so everything downstream is shared. */
  def htmlIngestStream(spark: org.apache.spark.sql.SparkSession, warcDir: String,
                       outPath: String, checkpoint: String):
      org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.WarcSource.readResponsesStream(spark, warcDir)
      .select(col("target_uri"), col("warc_date"), col("record_id"),
        col("headers"),
        graft.operators.TextAnalysis.htmlToText(col("html")).as("text"),
        col("n_bytes"))
      .writeStream.format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** Ingest-time QUALITY GATING (round 14) — the streaming twin of
    * `curation_quality_gate`, the filter-early stage a continuous
    * pipeline runs right after [[warcIngestStream]]: each micro-batch
    * of (doc_id, text) rows is gated by the SAME per-doc definition
    * the batch entry uses (`Curation.qualityGateOf` — tokenize once,
    * length/token-shape/stopword/repetition flags). Every metric is
    * per-document, so the gate needs NO cross-batch state (zero
    * state-store rows; the in-batch gram aggregation is plain batch
    * relational work inside foreachBatch, the 31g classify shape) and
    * verdicts land batchId-keyed — a crash retry overwrites its own
    * subdirectory. */
  def qualityGateStream(docs: DataFrame, outPath: String, checkpoint: String): StreamingQuery =
    BatchCatalog.stream(docs, checkpoint)(qualityGateBatch(_, _, outPath))

  /** One micro-batch of [[qualityGateStream]], callable directly so
    * batch-twin equality and retry idempotence are spec-testable. */
  def qualityGateBatch(batch: DataFrame, batchId: Long, outPath: String): Unit = {
    import graft.functions.TextFns
    import graft.operators.Curation
    val toks = batch.select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
    BatchCatalog.write(Curation.qualityGateOf(toks), outPath, batchId)
  }

  /** Ingest-time MULTILINGUAL quality gating (round 19) — the
    * streaming twin of `curation_quality_gate_ml`, the 31v shape with
    * the script-aware tokenizer: every rule is per-document (the
    * in-batch gram aggregation is plain relational work inside
    * foreachBatch), so zero cross-batch state; verdicts land
    * batchId-keyed (crash retry overwrites its own subdirectory). The
    * CJK doc the v1 gate stream mis-drops passes here — same
    * definition as the gated entry, so the twins cannot drift. */
  def qualityGateMlStream(docs: DataFrame, outPath: String, checkpoint: String): StreamingQuery =
    BatchCatalog.stream(docs, checkpoint)(qualityGateMlBatch(_, _, outPath))

  /** One micro-batch of [[qualityGateMlStream]]. */
  def qualityGateMlBatch(batch: DataFrame, batchId: Long, outPath: String): Unit = {
    import graft.functions.TextFns
    import graft.operators.Curation
    val toks = batch.select(col("doc_id"), TextFns.tokensScript(col("text")).as("t"))
    BatchCatalog.write(Curation.qualityGateMlOf(toks), outPath, batchId)
  }

  /** Ingest-time crawl hygiene (round 14) — the streaming twin of the
    * per-row half of `curation_domain_gate`/`curation_url_dedup`:
    * domain extraction, URL canonicalization, and the blocklist
    * verdict (exact + subdomain) as ONE narrow projection per record —
    * blocklist as a literal array (human-curated, bounded), no join,
    * no shuffle, ZERO state rows at any rate. The per-domain CAP and
    * the canonical-URL dedup stay batch/compaction jobs by design:
    * both need corpus-global state, exactly like the continuous-ingest
    * dedup story (31e) — the stream flags and canonicalizes, the
    * catalog dedups. */
  def crawlHygieneScore(records: DataFrame, blocklist: Seq[String]): DataFrame = {
    import graft.operators.DomainCuration
    val spark = records.sparkSession
    val withDom = records.withColumn("domain", DomainCuration.domainOf(col("url")))
      .withColumn("url_canonical", DomainCuration.canonicalUrl(col("url")))
    // literal budget (the withCodebook discipline, applied verbatim): a
    // human-curated blocklist rides the plan as an array literal, but
    // past the budget (production lists run to 10^5 domains) it ships
    // as a ONE-ROW broadcast relation crossJoined in — each output row
    // references the single broadcast array, so no fanout, no per-task
    // plan blowup, no duplicate rows on multi-entry matches, and the
    // downstream exists() is IDENTICAL either way (value-identity
    // spec-forced at tiny size). Still zero state rows in streaming
    // (stream-static one-row broadcast).
    val budget = spark.conf.getOption("spark.graft.crawl.blocklistLiteralMax")
      .map(_.toInt).getOrElse(1024)
    def flag(bl: Column): Column =
      exists(bl, b => col("domain") === b ||
        col("domain").endsWith(concat(lit("."), b)))
    if (blocklist.size <= budget)
      withDom.withColumn("blocked", flag(typedLit(blocklist)))
    else {
      import spark.implicits._
      val one = Seq(Tuple1(blocklist)).toDF("__bl")
      withDom.crossJoin(broadcast(one))
        .withColumn("blocked", flag(col("__bl")))
        .drop("__bl")
    }
  }

  /** The stream form of [[hybridServeBatch]]. */
  def hybridServeStream(queries: DataFrame, corpusDir: String, outPath: String,
                        checkpoint: String, k: Int = 5): StreamingQuery =
    BatchCatalog.stream(queries, checkpoint)(hybridServeBatch(_, _, corpusDir, outPath, k))

  /** ONLINE HYBRID RETRIEVAL SERVING (round 13): one micro-batch of
    * [[hybridServeStream]], callable directly so batch-twin equality and
    * crash-retry idempotence are spec-testable — the streaming twin of
    * `sim_hybrid_rrf` over the STORED postings and vector stores. Each
    * micro-batch of (qid, text, embedding) query rows is answered by the
    * same two legs the batch entry ranks with — BM25 depth-[[graft.operators.Retrieval.FuseK]]
    * over the term-BUCKETED postings store (the batch's literal
    * vocabulary IN filter prunes to ≤ |vocab| buckets) and exact cosine
    * depth-FuseK over the vector store's flat twin (the normalized
    * `emb` rows, read with the registered table's schema) — fused by the
    * shared `rrfFuseOf` fold. Same tokenizer, same normalization, same
    * fusion arithmetic, so a corpus query streams to bit-identical fused
    * lists (spec).
    *
    * Scale shape: per batch the corpus-sized inputs are two pruned
    * postings scans (the BM25 core's df and contribution passes) and one
    * vector scan; everything else (the batch, its vocabulary, query
    * vectors, rank lists, fusion) is batch-sized and on the driver, so
    * each leg answers with a local relation and nothing is cached. ZERO
    * state-store rows — both stores are read-only shared state,
    * maintained out of band by `bm25IndexMerge`/`ivfPqIndexMerge`.
    * Results land batchId-keyed (idempotent overwrite, the
    * [[annServeStream]] contract). */
  def hybridServeBatch(batch: DataFrame, batchId: Long, corpusDir: String,
                       outPath: String, k: Int): Unit = {
    val sp = batch.sparkSession
    import graft.functions.{TextFns, VectorFns}
    import graft.operators.{Retrieval, Similarity}
    // text leg: the query's term set (same tokenizer the postings were
    // built with; the core drops repeated terms on the driver) against
    // the stored index — the ADAPTIVE serve, so a typical short-query
    // batch takes the bucket-pruned scan and an adversarially broad one
    // the flat view
    val qterms = batch
      .select(col("qid"), explode(TextFns.tokens(col("text"))).as("term"))
    val textList = Retrieval.bm25ServeStored(sp, corpusDir, qterms, Retrieval.FuseK)
      .select(col("qid"), col("doc_id").as("id"), col("rn"))
    // vector leg: normalize exactly like the batch reader, then the
    // shared brute-force-cosine pass over the vector store
    val qs = batch
      .select(col("qid"), VectorFns.asDouble(col("embedding")).as("raw"))
      .withColumn("__n", VectorFns.norm(col("raw")))
      .select(col("qid"), VectorFns.normalize(col("raw"), col("__n")).as("qvec"))
    val vecList = Similarity
      .cosineRankedOf(qs, Similarity.vecStoreFlatView(sp, corpusDir), Retrieval.FuseK)
      .select(col("qid"), col("nid").as("id"), col("rn"))
    BatchCatalog.write(Retrieval.rrfFuseOf(Seq(textList, vecList), k), outPath, batchId)
  }

  /** Ingest-time SUB-DOCUMENT scrubbing against a growing SPAN catalog —
    * the streaming twin of `Curation.substringDedup` (Lee-et-al-2022
    * substring dedup, fixed L), shaped like [[classifyAgainstCatalog]]:
    * the parquet span-hash catalog IS the state, every batch lands
    * batchId-keyed so crash retries overwrite their own partial output
    * instead of duplicating spans, and a retry reads the catalog
    * EXCLUDING its own earlier append. A document arriving after a
    * batch that already contributed a passage gets that passage cut at
    * ANY offset; within a batch the global first occurrence survives —
    * sequential scrubs equal one batch `substringDedup` over the
    * concatenated corpus when doc ids respect arrival order
    * (spec-proven). Scale shape: catalog side is hashes only (32 chars
    * per DISTINCT span corpus-wide), the batch side is the usual
    * ~n_tokens window rows, and both joins are hash equi-joins. */
  def scrubAgainstSpanCatalog(docs: DataFrame, spanPath: String, outPath: String,
                              checkpoint: String): StreamingQuery =
    BatchCatalog.stream(docs, checkpoint)(scrubBatch(_, _, spanPath, outPath))

  /** One micro-batch of [[scrubAgainstSpanCatalog]], callable directly
    * so the crash-retry and batch-twin-equality paths are spec-testable. */
  def scrubBatch(batch: DataFrame, batchId: Long,
                 spanPath: String, outPath: String): Unit = {
    val sp = batch.sparkSession
    import graft.operators.Curation
    val toks = Curation.substringToks(batch)
    val wins = Curation.windowHashes(toks).cache() // feeds dup detect + span append
    val catalog = SpanCatalog.read(sp, Seq(spanPath), Some(batchId)).head
    // a window is a duplicate if the catalog has its hash (ANY
    // occurrence, including the batch's first) OR an earlier (doc_id,
    // off) in THIS batch has it — exactly substringDedup's rule with
    // catalog spans ordered before the batch. keptFromDups dedups
    // overlapping positions in-row, so the union needs no distinct.
    val catHit = wins.join(catalog, Seq("wh"), "left_semi")
      .select(col("doc_id"), col("off"))
    val first = wins.groupBy(col("wh"))
      .agg(min(struct(col("doc_id"), col("off"))).as("f"))
    val batchDup = wins.join(first, Seq("wh"))
      .filter(col("doc_id") =!= col("f.doc_id") || col("off") =!= col("f.off"))
      .select(col("doc_id"), col("off"))
    BatchCatalog.write(Curation.keptFromDups(toks, catHit.unionByName(batchDup)),
      outPath, batchId)
    // grow the catalog: the batch's distinct NEW hashes, batchId-keyed
    // idempotent overwrite (the read above already excluded this
    // batch's own earlier append, so a retry recomputes the same rows)
    BatchCatalog.write(SpanCatalog.build(wins).head.join(catalog, Seq("wh"), "left_anti"),
      spanPath, batchId)
    wins.unpersist()
  }

  /** The span catalog: the distinct window hashes (wh) a batch adds. */
  val SpanCatalog: BatchCatalog.Kind = BatchCatalog.Kind(
    org.apache.spark.sql.types.StructType.fromDDL("wh STRING"),
    wins => Seq(wins.select(col("wh")).distinct()))

  // ---- KMV distinct sketch with bounded state --------------------------

  final case class KmvEv(event_type: String, h: Long)
  final case class KmvState(mins: List[Long]) // ascending, at most k entries
  final case class KmvEstimate(event_type: String, n_mins: Int, est_users: Double)

  /** Streaming twin of `Analytics.eventsKmv`: a continuously-maintained
    * k-minimum-values distinct-count sketch per group. State is the k
    * smallest md5-derived user hashes — a FIXED k longs per group, the
    * whole point of sketching on an unbounded stream (a streaming
    * countDistinct would hold every user id in state forever). Each
    * batch merges new hashes into the sorted prefix and re-emits the
    * group's current estimate (Update mode). The estimate arithmetic is
    * the batch operator's exactly, so once the stream has seen the
    * whole table the last update per group equals the batch answer —
    * spec-proven in StreamingSpec. */
  def kmvDistinct(events: DataFrame,
                  k: Int = graft.operators.Analytics.KmvK): Dataset[KmvEstimate] = {
    import events.sparkSession.implicits._
    val hashed = events
      .select(col("event_type"),
        conv(substring(md5(concat(lit("kmv:"), col("user_id").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("h"))
      .as[KmvEv]
    hashed.groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (et: String, evs: Iterator[KmvEv], state: GroupState[KmvState]) =>
          // fold each event into a ≤k-entry ordered set: O(k) memory even
          // when one batch delivers millions of rows for the group — a
          // collect-then-sort merge would materialize the whole batch and
          // break the bounded-state contract the sketch exists for
          val set = scala.collection.mutable.TreeSet.empty[Long]
          state.getOption.foreach(s => set ++= s.mins)
          evs.foreach { e =>
            if (!set.contains(e.h) && (set.size < k || e.h < set.last)) {
              set += e.h
              if (set.size > k) set -= set.last
            }
          }
          val merged = set.toList // ascending
          state.update(KmvState(merged))
          val est =
            if (merged.length < k) merged.length.toDouble
            else (k - 1).toDouble / (merged.last.toDouble / 1.152921504606846976e18)
          KmvEstimate(et, merged.length,
            BigDecimal(est).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
  }

  // ---- heavy-hitters candidate sketch, continuously maintained ---------

  /** Streaming twin of `TextAnalysis.heavyHitters`' PASS-1 sketch — and
    * literally the SAME definition: `MisraGriesTopK` is a mergeable
    * `TypedImperativeAggregate`, so a streaming global aggregate keeps
    * the MG buffer as its state (ONE row of ≤cap entries, map-side
    * pre-merged per batch — the stateful operator never sees raw token
    * rows). State is bounded by `cap` forever, the sketch guarantee
    * (every token with true count > n/cap survives) holds under the
    * sequential batch merges MG is associative for, and the exact
    * second pass stays a batch job over the candidates — the
    * sketch-then-verify split a continuous pipeline actually runs.
    * Works batch AND streaming unchanged. Sketch CONTENTS are
    * merge-order dependent once decrements fire (the MisraGriesTopK
    * caveat); what the spec proves is the survival guarantee on both
    * paths, plus exact equality in the zero-decrement regime. Complete
    * output mode: the sink row is the current sketch. */
  def heavyHittersSketch(toks: DataFrame, cap: Int = 256): DataFrame =
    toks.agg(
      graft.functions.MisraGriesTopK.of(col("token"), cap).as("hh"),
      count(lit(1)).as("n_total"))

  // ---- streaming weighted reservoir ------------------------------------

  final case class PrioEv(doc_id: Long, n_chars: Long, key: Double)
  final case class PrioState(entries: List[PrioEv], batch: Long)
  final case class PrioPick(batch: Long, rk: Int, doc_id: Long,
                            n_chars: Long, key: Double)

  /** Streaming weighted sampling without replacement — A-ES
    * (Efraimidis & Spirakis 2006) IS a reservoir algorithm, so the
    * batch `curation_priority_sample` has an exact streaming twin: keep
    * the K best priority keys seen so far. ONE state row holding ≤K
    * entries forever (the KMV/heavy-hitters bounded-state pattern; the
    * per-batch fold is O(K) memory however many rows a batch brings),
    * and because the key column is the SAME shared expression the batch
    * sampler ranks by, the final reservoir equals the batch top-K
    * BIT-FOR-BIT — spec-proven, not approximately. Each batch re-emits
    * the current reservoir tagged with a batch counter (update mode). */
  def priorityReservoir(docs: DataFrame,
                        k: Int = graft.operators.Curation.PriorityK): Dataset[PrioPick] = {
    import docs.sparkSession.implicits._
    val keyed = docs.select(col("doc_id"), col("n_chars"),
        graft.operators.Curation.priorityKeyCol(col("doc_id"), col("n_chars"))
          .as("key"))
      .as[PrioEv]
    val ord: Ordering[PrioEv] = Ordering.by(e => (-e.key, e.doc_id))
    keyed.groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Int, evs: Iterator[PrioEv], state: GroupState[PrioState]) =>
          val set = scala.collection.mutable.TreeSet.empty[PrioEv](ord)
          val prior = state.getOption.getOrElse(PrioState(Nil, 0L))
          set ++= prior.entries
          evs.foreach { e =>
            if (set.size < k) set += e
            else if (ord.lt(e, set.last)) { set += e; set -= set.last }
          }
          val kept = set.toList // best-first
          state.update(PrioState(kept, prior.batch + 1))
          kept.zipWithIndex.iterator.map { case (e, i) =>
            PrioPick(prior.batch + 1, i + 1, e.doc_id, e.n_chars, e.key)
          }
      }
  }

  // ---- ingest-time Bloom novelty routing -------------------------------

  /** Streaming twin of [[graft.operators.Dedup.bloomAntiJoin]]'s ROUTING
    * stage: flag each incoming document against a FIXED serialized Bloom
    * filter of catalog fingerprints (built offline by
    * `functions.Bloom.bloomAgg`, persisted next to the catalog like the
    * SQ8/IVFPQ models). `maybe_dup = false` is TRUTH (no false
    * negatives) — those documents are safe to admit with no catalog
    * access at all; `maybe_dup = true` is a candidate set for the exact
    * confirm (route to [[classifyAgainstCatalog]] or a batch
    * `bloomAntiJoin`). The filter bytes ride as a binary plan literal,
    * so the scorer is a narrow per-row projection: no join, no shuffle,
    * no state-store rows, append-mode clean — per-doc cost is one
    * xxhash64 + k bit probes, independent of catalog size and stream
    * history. Re-flag with a refreshed filter when the catalog grows;
    * an out-of-date filter only ADMITS more maybes (still exact after
    * confirm), never drops a novel doc. */
  def bloomNovelScore(docs: DataFrame, filterBytes: Array[Byte]): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("maybe_dup",
        graft.functions.Bloom.mightContain(filterBytes, col("fp")))

  // ---- gap sessionization with explicit state --------------------------

  final case class Ev(user_id: Long, us: Long, value: Double)
  final case class SessionState(openEvents: List[(Long, Double)], emitted: Long)
  final case class Session(user_id: Long, session_id: Long, n_events: Long,
                           duration_s: Long, sum_value: Double)

  private val GapUs = 1800L * 1000000L

  /** flatMapGroupsWithState gap-sessionizer. Buffers a user's open
    * events; on each batch, emits every session closed by a later
    * event's arrival and keeps the still-open tail (plus the count of
    * sessions already emitted, for stable session_ids) in state. A
    * per-user sentinel event at +∞ closes the final session — the spec
    * uses that to prove closed sessions == the batch operator's output. */
  def sessionize(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          val prior = state.getOption.getOrElse(SessionState(Nil, 0L))
          val all = (prior.openEvents ++ evs.map(e => (e.us, e.value))).sortBy(_._1)
          val sessions = all.foldLeft(List.empty[List[(Long, Double)]]) {
            case (acc, ev) => acc match {
              case cur :: rest if ev._1 - cur.last._1 <= GapUs => (cur :+ ev) :: rest
              case _ => List(ev) :: acc
            }
          }.reverse
          val closed = sessions.dropRight(1)
          val open = sessions.lastOption.getOrElse(Nil)
          state.update(SessionState(open, prior.emitted + closed.length))
          closed.zipWithIndex.iterator.map { case (s, i) =>
            Session(uid, prior.emitted + i + 1, s.length,
              (s.last._1 - s.head._1) / 1000000L, s.map(_._2).sum)
          }
      }
  }
}
