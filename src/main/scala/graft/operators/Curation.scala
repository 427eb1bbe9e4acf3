package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.TextFns

/** Training-corpus curation (round 3) — the two pipeline stages a
  * pretraining corpus needs beyond dedup/quality/similarity:
  *
  *  - source MIXING: deterministic domain-weighted subsampling (take
  *    the first n docs per source in portable md5-hash order — the
  *    engine-agnostic analog of weighted reservoir sampling; rerunnable
  *    on any cluster layout with identical output).
  *  - benchmark DECONTAMINATION: find corpus docs sharing an n-gram
  *    with a probe (benchmark) set — the overlap check run before
  *    training on scraped data.
  */
object Curation {

  private def tokensSqlOver(c: String): String =
    s"list_filter(regexp_split_to_array(lower(regexp_replace($c, '[^\\w\\s]', ' ', 'g')), '\\s+'), x -> x <> '')"

  private val tokensSql = tokensSqlOver("text")

  private val MixPerSource = 10

  /** Top-[[MixPerSource]] docs per source by md5 hash order. One
    * shuffle on the group key; Spark 4's WindowGroupLimit keeps each
    * partition's local top-n before the exchange, so no source's full
    * row set ever sorts globally. */
  def stratifiedMix(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("hk"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(concat(lit("mix:"), col("doc_id").cast("string"))).as("hk"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MixPerSource)
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }

  val stratifiedMixOracle: String = """
    WITH h AS (SELECT doc_id, source,
                 md5('mix:' || CAST(doc_id AS VARCHAR)) AS hk FROM documents),
    r AS (SELECT doc_id, source,
            CAST(row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS INT) AS rk
          FROM h)
    SELECT doc_id, source, rk FROM r WHERE rk <= 10
    ORDER BY source, rk"""

  // ---- weighted priority sampling (round 11) --------------------------
  // One-pass weighted sampling WITHOUT replacement (Efraimidis &
  // Spirakis 2006, "Weighted random sampling with a reservoir" — the
  // A-ES scheme): each row gets key u^(1/w) for a uniform u and weight
  // w; the top-K keys ARE a weighted sample without replacement. The
  // 100 TB shape: ONE narrow pass to key every row + ONE global top-K
  // (TakeOrdered / WindowGroupLimit — never a full sort), versus
  // dsir_sample's normalize-then-resample which needs the weight sum
  // first. Works for any positive weight column: token mass (here),
  // quality scores, inverse-duplication counts.
  //
  // Determinism/portability: u is md5-derived (the stratifiedMix hash
  // convention) mapped to (0,1]; ln(u) is ROUNDED 8 dp at the libm
  // call (the bslm log2 discipline — pin the one op whose last ulp
  // engines may disagree on, then do exact arithmetic); the ordering
  // key uses ln(u)/w (monotone in u^(1/w)), scaled ×1e6 before the
  // 6-dp round so small keys keep ~10 significant digits; ties break
  // on doc_id.
  private[graft] val PriorityK = 20

  /** The A-ES priority key — ONE definition shared by the batch sampler
    * and the streaming reservoir (EventStream.priorityReservoir), so
    * the streamed top-K provably equals the batch top-K. */
  private[graft] def priorityKeyCol(docId: Column, weight: Column): Column = {
    val h = conv(substring(md5(concat(lit("ps:"), docId.cast("string"))), 1, 15),
      16, 10).cast("long")
    val lnu = round(log((h + 1) / lit(1152921504606846976.0)), 8) // ln, 2^60
    round(lnu * 1000000.0 / greatest(weight.cast("double"), lit(1.0)), 6)
  }

  def prioritySample(spark: SparkSession, dir: String): DataFrame = {
    val key = priorityKeyCol(col("doc_id"), col("n_chars"))
    Sampling.topNumbered(
        Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"), key.as("key")),
        Seq(col("key").desc, col("doc_id")), PriorityK, "rk")
      .select(col("rk"), col("doc_id"), col("n_chars"), col("key"))
      .orderBy(col("rk"))
  }

  val prioritySampleOracle: String = s"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
        round(round(ln((CAST(concat('0x', substr(md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
              / 1152921504606846976.0), 8)
          * 1000000.0 / greatest(CAST(n_chars AS DOUBLE), 1.0), 6) AS key
      FROM documents),
    r AS (
      SELECT doc_id, n_chars, key,
        CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INT) AS rk
      FROM keyed)
    SELECT rk, doc_id, n_chars, key FROM r WHERE rk <= $PriorityK
    ORDER BY rk"""

  private val ContamN = 4
  private val ProbeDocs = 5

  /** Corpus docs (outside the probe set) sharing at least one
    * [[ContamN]]-gram with the probe docs, with the distinct shared-gram
    * count. The probe set is benchmark-sized (tiny) → its distinct
    * shingles broadcast; the corpus side is one shingle explode + a
    * broadcast join + a countDistinct on doc_id. countDistinct makes the
    * result immune to probe-side multiplicity, so the probe needs no
    * pre-dedup shuffle. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("__ts"))
      .select(col("doc_id"),
        explode(array_distinct(TextFns.shinglesFromTokens(col("__ts"), ContamN))).as("s"))
    val probe = sh.filter(col("doc_id") < ProbeDocs).select(col("s"))
    sh.filter(col("doc_id") >= ProbeDocs)
      .join(broadcast(probe), Seq("s"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("s")).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  val contaminationOracle: String = s"""
    WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM (
      SELECT doc_id, unnest(list_transform(range(len(t)-${ContamN - 1}),
        i -> array_to_string(t[i+1:i+$ContamN], ' '))) AS s
      FROM toks WHERE len(t) >= $ContamN)),
    probe AS (SELECT s FROM sh WHERE doc_id < $ProbeDocs)
    SELECT sh.doc_id, count(DISTINCT sh.s) AS n_shared
    FROM sh JOIN probe USING (s)
    WHERE sh.doc_id >= $ProbeDocs
    GROUP BY sh.doc_id
    ORDER BY sh.doc_id"""

  // ---- winnowing-based contamination (round 9) --------------------------
  // The fingerprint-join form of the eval-set decontamination scan —
  // what winnowing (TextAnalysis 25j) exists FOR in a pipeline: index
  // the benchmark slice's fingerprints, equi-join the crawl's. Same
  // probe convention as `curation_contamination` (doc_id < ProbeDocs =
  // the benchmark) but the probe index carries only each doc's
  // window-minima (~2/(w+1) of its gram hashes) instead of every
  // distinct shingle, with the Schleimer guarantee that any shared
  // passage ≥ k+w−1 tokens still surfaces — the index the broadcast
  // side actually affords at a 100 TB crawl against a fixed eval set.
  /** Seeds keeping the gate non-vacuous (the LineSeeds pattern): the
    * sf corpus has 4-token overlaps with the probe slice (26g gates on
    * them) but no ≥ k+w−1 = 8-token passage, so the fingerprint join
    * matched nothing. One seed lands INSIDE the probe (doc_id −1 <
    * ProbeDocs), one in the crawl (huge id), sharing a 12-token
    * passage — the guarantee forces ≥ 1 shared fingerprint. */
  private[graft] val WinnowSeedPassage =
    "the quick brown fox jumps over the lazy dog near the riverbank"
  private[graft] val WinnowSeeds: Seq[(Long, String)] = Seq(
    -1L -> s"benchmark eval item: $WinnowSeedPassage",
    9000000001L -> s"crawl page copies $WinnowSeedPassage and adds its own chatter")

  /** The decontamination PROBE INDEX, materialized once per corpus
    * version (round 16): distinct winnow fingerprints of the benchmark
    * slice (doc_id < ProbeDocs) plus the benchmark-side seed. The
    * benchmark side is tiny and STATIC, yet through round 15 every
    * decontamination run re-fingerprinted it inline alongside the
    * corpus; at a real eval suite the index is built once and every
    * crawl batch only fingerprints ITSELF. Winnowing is strictly
    * per-document (each doc's window minima over its own token
    * stream), so fingerprinting the probe docs alone is exactly the
    * union form's probe slice — spec-proven stored == inline. */
  private[graft] def winnowProbeFpCached(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val key = Layout.storeKey(spark, dir, "documents")
    // generation protocol (round 18): fresh gen-dir + _CURRENT commit
    val path = Layout.generation(spark,
      s"${Layout.cacheRoot(spark)}/winnow_probe_cache/$key") { g =>
      winnowProbeFpInline(spark, dir).write.parquet(g)
    }
    spark.read.parquet(path)
  }

  /** The probe index definition (the cache's build AND the spec's
    * stored-==-inline reference). */
  private[graft] def winnowProbeFpInline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.winnowFingerprintOf(
        Tables.documents(spark, dir).select(col("doc_id"), col("text"))
          .filter(col("doc_id") < ProbeDocs)
          .unionByName(Seq(WinnowSeeds.head).toDF("doc_id", "text")))
      .select(col("fp")).distinct()
  }

  def winnowContamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // corpus side only — the probe side is the persisted index; the
    // crawl-side seed keeps the join non-vacuous at gate SFs
    val crawlSeed = Seq(WinnowSeeds(1)).toDF("doc_id", "text")
    TextAnalysis.winnowFingerprintOf(
        Tables.documents(spark, dir).select(col("doc_id"), col("text"))
          .filter(col("doc_id") >= ProbeDocs).unionByName(crawlSeed))
      .select(col("doc_id"), col("fp"))
      .join(broadcast(winnowProbeFpCached(spark, dir)), Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("fp")).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  val winnowContaminationOracle: String = s"""
    WITH wseed(doc_id, text) AS (VALUES ${
      WinnowSeeds.map { case (id, t) =>
        s"(CAST($id AS BIGINT), '${t.replace("'", "''")}')" }.mkString(", ")}),
    wplus AS (SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id, text FROM wseed),
    ${TextAnalysis.winnowCtes("wplus")},
    probe AS (SELECT DISTINCT fp FROM wfp WHERE doc_id < $ProbeDocs)
    SELECT w.doc_id, count(DISTINCT w.fp) AS n_shared
    FROM wfp w JOIN probe USING (fp)
    WHERE w.doc_id >= $ProbeDocs
    GROUP BY w.doc_id
    ORDER BY w.doc_id"""

  // ---- sequence packing (round 4) --------------------------------------
  // GPT-style concat-and-chunk: the corpus token stream in doc_id order
  // is cut into fixed BlockTokens-token training blocks; each doc maps
  // to the [first_block, last_block] span its tokens land in. The core
  // is a global prefix sum over doc order — which Spark's window API
  // would plan as ONE unpartitioned WindowExec (every row through a
  // single task: the classic 100 TB straggler). Instead, a distributed
  // prefix sum: range-partition by the order key, per-partition local
  // cumsums in one mapPartitions pass, per-partition subtotals (one tiny
  // row each) collected and turned into broadcast offsets, global
  // cumsum = offset(partition) + local cumsum. The only driver traffic
  // is numPartitions subtotal rows.
  private[graft] val BlockTokens = 1024L

  /** The ONE packing core, shared by [[packSequences]], [[packBpe]] and
    * the shard export/refresh ([[ShardExport.shardAssignFrom]]): the
    * distributed prefix sum above over ANY frame carrying a long token
    * count `n` (rows with n <= 0 must already be filtered). The token
    * stream follows `order` (e.g. doc_id for ingest order, or the shard
    * export's (okey, doc_id) md5 shuffle). `startTokens` (round 16)
    * shifts the whole stream: the incremental shard refresh packs a new
    * batch AS A CONTINUATION of an already-exported stream, so its
    * cumulative sums start at the exported total instead of 0. Generic
    * over the row (no case class): the input columns pass through in
    * order, `n` renamed to `n_tokens`, then first_block, last_block. */
  private[graft] def packOf(counts: DataFrame, order: Seq[String],
                            startTokens: Long = 0L): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    val nIdx = counts.schema.fieldIndex("n")
    val localSchema = counts.schema
      .add("pid", org.apache.spark.sql.types.IntegerType, nullable = false)
      .add("localCum", org.apache.spark.sql.types.LongType, nullable = false)
    val local = counts
      .repartitionByRange(parts, order.map(col): _*)
      .sortWithinPartitions(order.map(col): _*)
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cum = 0L
        it.map { r => cum += r.getLong(nIdx); Row.fromSeq(r.toSeq :+ pid :+ cum) }
      }(Encoders.row(localSchema))
      .cache() // feeds the subtotal action AND the final join (Verify/Bench clear it)
    val subtotals = local.groupBy(col("pid")).agg(max(col("localCum")).as("sub"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = {
      var acc = startTokens
      (0 until parts).map { p => val o = acc; acc += subtotals.getOrElse(p, 0L); (p, o) }
    }
    local.join(broadcast(offsets.toDF("pid", "offset")), Seq("pid"))
      .select(counts.columns.map(c => if (c == "n") col(c).as("n_tokens") else col(c)) ++ Seq(
        expr(s"(offset + localCum - n) div $BlockTokens").as("first_block"),
        expr(s"(offset + localCum - 1) div $BlockTokens").as("last_block")): _*)
  }

  /** BPE-unit packing (round 15): [[packSequences]] with the stream
    * measured in TRAINED-TOKENIZER units — what a dataloader actually
    * packs (a 1024-BPE-token block is the model's context shape;
    * whitespace tokens only approximate it). Counts come from the
    * gated 25i encode (the trained vocab join — one vocab-sized join,
    * the per-doc fold is in-row), the pack is the same distributed
    * prefix sum. Oracle composes the shared unrolled BPE CTEs with the
    * packing arithmetic — neither re-derived. */
  def packBpe(spark: SparkSession, dir: String): DataFrame = {
    // trained-tokenizer units from the COMMITTED vocab store (round 19)
    val (syms, _) = TextAnalysis.bpeStored(spark, dir)
    val vocab = syms.select(col("w"), size(col("sym")).as("n_sym"))
    val counts = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
      .join(vocab, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_sym")).cast("long").as("n"))
      .filter(col("n") > 0)
    packOf(counts, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens").as("n_bpe"),
        col("first_block"), col("last_block"))
      .orderBy(col("doc_id"))
  }

  val packBpeOracle: String = s"""
    WITH ${TextAnalysis.bpeCtes},
    bc AS (
      SELECT d.doc_id, CAST(sum(len(v.sym)) AS BIGINT) AS n
      FROM (SELECT doc_id, unnest(t) AS w FROM toks) d
      JOIN v${TextAnalysis.BpeMerges} v ON v.w = d.w
      GROUP BY d.doc_id),
    pc AS (SELECT doc_id, n,
            CAST(sum(n) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM bc WHERE n > 0)
    SELECT doc_id, n AS n_bpe,
      (cum - n) // $BlockTokens AS first_block,
      (cum - 1) // $BlockTokens AS last_block
    FROM pc
    ORDER BY doc_id"""

  /** (doc_id, n_tokens, first_block, last_block) per non-empty doc. */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packOf(Tables.documents(spark, dir)
        .select(col("doc_id"), size(TextFns.tokens(col("text"))).cast("long").as("n"))
        .filter(col("n") > 0), Seq("doc_id"))
      .orderBy(col("doc_id"))

  val packSequencesOracle: String = s"""
    WITH t AS (SELECT doc_id, len($tokensSql) AS n FROM documents),
    f AS (SELECT doc_id, n FROM t WHERE n > 0),
    c AS (SELECT doc_id, n,
            CAST(sum(n) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM f)
    SELECT doc_id, n AS n_tokens,
      (cum - n) // $BlockTokens AS first_block,
      (cum - 1) // $BlockTokens AS last_block
    FROM c
    ORDER BY doc_id"""

  // ---- cross-document chunk dedup (round 4) ---------------------------
  // The C4/RefinedWeb sub-document dedup stage: a span of text repeated
  // ANYWHERE in the corpus survives only at its first occurrence
  // (ordered by doc_id, then position); later occurrences are cut and
  // the documents reassembled from their surviving spans. Spans here are
  // non-overlapping ChunkDedupW-token windows (same slice arithmetic as
  // text_chunk_windows), so reassembly is exact concatenation.
  //
  // Scale shape: ONE wide shuffle, partitioned by md5(chunk) — a fixed
  // 32-char key regardless of span width — with the rank filter
  // planning as a window over that hash. Reassembly is a groupBy
  // doc_id whose collect_list holds only the doc's own kept spans
  // (bounded by doc length, not corpus size). No join-back: the span
  // text rides the shuffle row, trading width for a second exchange —
  // the right trade while spans are ≤ a few hundred bytes.
  private val ChunkDedupW = 16

  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("ch")).orderBy(col("doc_id"), col("chunk_id"))
    // span explode is per-doc work in one task — monster-doc corpora can
    // opt into the shared length-aware spread (placement-only; output is
    // groupBy'd + ordered, so byte-identical either way)
    Skew.maybeSpreadByConf(Tables.documents(spark, dir), "n_chars", "doc_id")
      .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(expr(s"sequence(0, greatest(0, cast(ceil((size(t) - $ChunkDedupW) / $ChunkDedupW.0) as int)))"))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        expr(s"array_join(slice(t, chunk_id * $ChunkDedupW + 1, $ChunkDedupW), ' ')").as("chunk_text"))
      .filter(length(col("chunk_text")) > 0)
      .withColumn("ch", md5(col("chunk_text")))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("rn") === 1, lit(1))).as("n_kept"),
        coalesce(
          array_join(transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("chunk_id"), col("chunk_text"))))),
            s => s.getField("chunk_text")), " "),
          lit("")).as("kept_text"))
      .orderBy(col("doc_id"))
  }

  val chunkDedupOracle: String = s"""
    WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
    win AS (
      SELECT doc_id, t,
             unnest(range(0, greatest(0, CAST(ceil((len(t) - $ChunkDedupW) / $ChunkDedupW.0) AS INT)) + 1)) AS chunk_id
      FROM toks),
    c AS (SELECT doc_id, chunk_id,
            array_to_string(t[chunk_id * $ChunkDedupW + 1 : chunk_id * $ChunkDedupW + $ChunkDedupW], ' ') AS chunk_text
          FROM win
          WHERE len(t[chunk_id * $ChunkDedupW + 1 : chunk_id * $ChunkDedupW + $ChunkDedupW]) > 0),
    r AS (SELECT doc_id, chunk_id, chunk_text,
            row_number() OVER (PARTITION BY md5(chunk_text) ORDER BY doc_id, chunk_id) AS rn
          FROM c)
    SELECT doc_id, count(*) AS n_chunks,
           count(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' ' ORDER BY chunk_id), '') AS kept_text
    FROM r GROUP BY doc_id ORDER BY doc_id"""

  // ---- content-defined chunk dedup (round 17) --------------------------
  // [[chunkDedup]]'s spans are POSITION-defined — a fixed W-token grid —
  // so one inserted token shifts every later grid cell and a duplicated
  // passage re-shares NOTHING past the edit (spec-proven, the same blind
  // spot substringDedup closes at ~W× the hash rows). Content-defined
  // chunking cuts where a trailing-window hash satisfies a fixed
  // predicate, so boundaries re-synchronize within CdcWin tokens of any
  // edit and every chunk past the resync hashes identically again —
  // insertion-robust sub-document dedup at chunkDedup's cost, not
  // substringDedup's. The boundary rule is `TextAnalysis.cdcChunkFrame`
  // — the SAME definition `text_cdc_chunks` gates (one rule in the
  // codebase; the oracles share their CTEs the same way) — so this
  // operator is exactly the cross-document first-occurrence stage over
  // the already-gated chunk frame: one md5-keyed shuffle + rank + the
  // chunkDedup reassembly agg. The classic min/max chunk-length
  // refinement stays deliberately untaken (see cdcChunkFrame): it would
  // make each cut depend on all earlier cuts — sequential per doc and
  // not oracle-expressible; degenerate lengths are geometric-tail
  // bounded instead.
  def cdcChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("ch")).orderBy(col("doc_id"), col("chunk_id"))
    TextAnalysis.cdcChunkFrame(
        Skew.maybeSpreadByConf(Tables.documents(spark, dir), "n_chars", "doc_id"))
      .withColumn("ch", md5(col("chunk_text")))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("rn") === 1, lit(1))).as("n_kept"),
        coalesce(
          array_join(transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("chunk_id"), col("chunk_text"))))),
            s => s.getField("chunk_text")), " "),
          lit("")).as("kept_text"))
      .orderBy(col("doc_id"))
  }

  val cdcChunkDedupOracle: String = s"""
    WITH ${TextAnalysis.cdcChunkCtes},
    r AS (SELECT doc_id, chunk_id, chunk_text,
            row_number() OVER (PARTITION BY md5(chunk_text) ORDER BY doc_id, chunk_id) AS rn
          FROM cdc_chunks)
    SELECT doc_id, count(*) AS n_chunks,
           count(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' ' ORDER BY chunk_id), '') AS kept_text
    FROM r GROUP BY doc_id ORDER BY doc_id"""

  // ---- substring-level exact dedup (round 8) ---------------------------
  // Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
  // Better", arXiv:2107.06499 — public paper) deduplicate at SUBSTRING
  // granularity with suffix arrays: any repeated passage of ≥ L tokens
  // is removed from all but its first occurrence, at ARBITRARY offsets.
  // [[chunkDedup]] only catches W-token-ALIGNED repeats — a passage
  // duplicated one token off the chunk grid slips through entirely
  // (spec-proven below). For FIXED L the suffix-array answer is
  // equivalent to hashing EVERY length-L token window (the rolling-hash
  // view: a repeated substring of length ≥ L is exactly a run of
  // repeated length-L windows): occurrences of a window after the
  // global first (doc_id, offset) are duplicates, and every token
  // covered by a duplicate window is dropped.
  //
  // Scale shape: the window table is ~n_tokens rows per doc (doc_id,
  // off, md5), never the window TEXT; first-occurrence is ONE
  // min(struct(doc_id, off)) aggregate on the hash — map-side combined,
  // the same single-shuffle shape as chunkDedup. Coverage explodes
  // ONLY duplicate windows (×L) and kept-text reassembly is one
  // anti-join + per-doc sort. No global window function anywhere. md5
  // (not xxhash64) keeps the operator oracle-portable, the same trade
  // simhash makes.
  private val SubstrL = 16

  /** (doc_id, t): tokenized documents frame for the substring stages. */
  private[graft] def substringToks(docs: DataFrame): DataFrame =
    Skew.maybeSpreadByConf(docs, "n_chars", "doc_id")
      .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))

  /** (doc_id, off, wh): every length-L token window's md5. */
  private[graft] def windowHashes(toks: DataFrame): DataFrame =
    toks.filter(size(col("t")) >= SubstrL)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - SubstrL)).as("off"))
      .select(col("doc_id"), col("off"),
        md5(expr(s"array_join(slice(t, off + 1, $SubstrL), ' ')")).as("wh"))

  /** Kept-text reassembly from a duplicate-window occurrence list
    * (doc_id, off) — duplicate offsets are harmless (positions dedup
    * in-row). Shared by the batch operator and the streaming scrub. */
  private[graft] def keptFromDups(toks: DataFrame, dups: DataFrame): DataFrame = {
    // coverage via a per-doc offsets aggregate, NOT explode-then-
    // distinct: a duplicate window covers L positions, so exploding
    // every dup window shuffles ~L× the dup count into a global
    // distinct — 860 M rows on the 200×-replicated 1 M-doc stress
    // (80.8 s). Aggregating the offsets per doc first shuffles only
    // the dup offsets (≤ one per window), and the L-expansion +
    // dedup happen inside the row (arrays bounded by doc length, the
    // same bound chunkDedup's reassembly carries); the exploded
    // covered-position volume is then ≤ n_tokens per doc by
    // construction. Same positions, same output.
    val covered = dups
      .groupBy(col("doc_id"))
      .agg(collect_list(col("off")).as("__offs"))
      .select(col("doc_id"),
        explode(array_distinct(flatten(transform(col("__offs"),
          o => sequence(o, o + SubstrL - 1))))).as("pos"))
    val kept = toks
      .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "tok")))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept_raw"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("kept_raw"))
    toks.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept_raw"), lit(0L)).as("n_kept"),
        coalesce(col("kept_raw"), lit("")).as("kept_text"))
      .orderBy(col("doc_id"))
  }

  def substringDedup(spark: SparkSession, dir: String): DataFrame = {
    val toks = substringToks(Tables.documents(spark, dir))
    val wins = windowHashes(toks)
    val first = wins.groupBy(col("wh"))
      .agg(min(struct(col("doc_id"), col("off"))).as("f"))
    val dups = wins.join(first, Seq("wh"))
      .filter(col("doc_id") =!= col("f.doc_id") || col("off") =!= col("f.off"))
      .select(col("doc_id"), col("off"))
    keptFromDups(toks, dups)
  }

  /** Exact twin of [[substringDedup]]: same window hashes, the
    * row_number-over-(doc_id, off) first-occurrence rule, position
    * coverage via a range cross, and ordered kept-token reassembly.
    * DuckDB zips the parallel unnests in ptoks positionally. */
  val substringDedupOracle: String = s"""
    WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
    w2 AS (
      SELECT doc_id, off, md5(array_to_string(t[off + 1 : off + $SubstrL], ' ')) AS wh
      FROM (SELECT doc_id, t, unnest(range(len(t) - $SubstrL + 1)) AS off
            FROM toks WHERE len(t) >= $SubstrL)),
    r AS (SELECT doc_id, off,
            row_number() OVER (PARTITION BY wh ORDER BY doc_id, off) AS rn
          FROM w2),
    cov AS (SELECT DISTINCT doc_id, off + u AS pos
            FROM r, (SELECT unnest(range($SubstrL)) AS u) WHERE rn > 1),
    ptoks AS (SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS tok FROM toks),
    kept AS (SELECT p.doc_id, p.pos, p.tok
             FROM ptoks p LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.pos = c.pos
             WHERE c.pos IS NULL),
    agg AS (SELECT doc_id, count(*) AS n_kept,
              string_agg(tok, ' ' ORDER BY pos) AS kept_text
            FROM kept GROUP BY doc_id)
    SELECT t.doc_id, len(t.t) AS n_tokens,
           coalesce(a.n_kept, 0) AS n_kept,
           coalesce(a.kept_text, '') AS kept_text
    FROM toks t LEFT JOIN agg a USING (doc_id)
    ORDER BY t.doc_id"""

  // ---- line-level dedup (round 9) -------------------------------------
  // The C4 line filter (Raffel et al. 2020 §2.2 discard-repeated-spans
  // family; RefinedWeb and CCNet both run a line-level pass FIRST —
  // it's cheaper than any fuzzy stage and catches navigation chrome,
  // cookie banners, and boilerplate footers that repeat verbatim
  // across a crawl): a line survives only at its corpus-wide first
  // occurrence; later copies are dropped and each document reassembles
  // from its surviving lines.
  //
  // Semantics: lines split on '\n' (empty trailing segments kept in
  // n_lines); matching key = the space-trimmed line (leading/trailing
  // padding doesn't make a line novel — both engines' trim is
  // space-only, a verified portability pair); whitespace-only lines
  // are dropped outright (blank-artifact removal); first occurrence =
  // min (doc_id, line_no) per key, the substringDedup rule; kept_text
  // preserves the RAW line bytes in original order.
  //
  // Scale shape: the only exchanges are one md5(line)-keyed aggregate
  // (map-side combined min-struct) and the equi-join back — the
  // substringDedup plan with lines for windows, so the 100 TB story is
  // identical: bounded-key equi-joins, no all-pairs, no global sort.
  // Reassembly aggregates per doc (arrays bounded by doc length).
  /** Composable form: line dedup over any (doc_id, text) frame. */
  private[graft] def lineDedupOf(docs: DataFrame): DataFrame = {
    val segs = docs.select(col("doc_id"),
      posexplode(org.apache.spark.sql.functions.split(col("text"), "\n", -1))
        .as(Seq("ln", "raw")))
    val keyed = segs
      .withColumn("lh", md5(trim(col("raw"))))
      .filter(trim(col("raw")) =!= "")
    val first = keyed.groupBy(col("lh"))
      .agg(min(struct(col("doc_id"), col("ln"))).as("f"))
    val dups = keyed.join(first, Seq("lh"))
      .filter(col("doc_id") =!= col("f.doc_id") || col("ln") =!= col("f.ln"))
      .select(col("doc_id"), col("ln"))
    val kept = keyed.join(dups, Seq("doc_id", "ln"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept_raw"),
        array_join(transform(array_sort(collect_list(struct(col("ln"), col("raw")))),
          s => s.getField("raw")), "\n").as("kept_raw"))
    docs.select(col("doc_id"),
        size(org.apache.spark.sql.functions.split(col("text"), "\n", -1))
          .cast("long").as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept_raw"), lit(0L)).as("n_kept"),
        coalesce(col("kept_raw"), lit("")).as("kept_text"))
      .orderBy(col("doc_id"))
  }

  /** Crafted multi-line seeds unioned into the GATED entry: the sf
    * stand-in corpus carries no '\n', so every corpus doc is one line
    * and the gate would only exercise whole-doc duplicates. The shared
    * footer repeats across all three seeds (−1's copy padded with
    * spaces — the trim-key path), so the line join, first-occurrence
    * rule, and reassembly all produce rows. Negative ids keep seeds
    * disjoint from corpus doc_ids; same-constant generation on both
    * sides (the DhashSeeds pattern) so engine and oracle can't drift. */
  private[graft] val LineSeedFooter =
    "subscribe to our newsletter | all rights reserved"
  private[graft] val LineSeeds: Seq[(Long, String)] = Seq(
    -3L -> s"alpha opening line\n$LineSeedFooter\nalpha closing line",
    -2L -> s"beta opening line\n$LineSeedFooter\nbeta closing line",
    -1L -> s"gamma opening line\n  $LineSeedFooter  \n\ngamma closing line")

  def lineDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seeds = LineSeeds.toDF("doc_id", "text")
    lineDedupOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).unionByName(seeds))
  }

  val lineDedupOracle: String = s"""
    WITH lseed(doc_id, text) AS (VALUES ${
      LineSeeds.map { case (id, t) =>
        s"(CAST($id AS BIGINT), '${t.replace("'", "''")}')" }.mkString(", ")}),
    dplus AS (SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id, text FROM lseed),
    segs AS (SELECT doc_id, unnest(range(len(l))) AS ln, unnest(l) AS raw
             FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM dplus)),
    keyed AS (SELECT doc_id, ln, raw, md5(trim(raw)) AS lh
              FROM segs WHERE trim(raw) <> ''),
    r AS (SELECT doc_id, ln, raw,
            row_number() OVER (PARTITION BY lh ORDER BY doc_id, ln) AS rn
          FROM keyed),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
              string_agg(raw, chr(10) ORDER BY ln) AS kept_text
            FROM r WHERE rn = 1 GROUP BY doc_id)
    SELECT d.doc_id, CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
           coalesce(a.n_kept, 0) AS n_kept,
           coalesce(a.kept_text, '') AS kept_text
    FROM dplus d LEFT JOIN agg a USING (doc_id)
    ORDER BY d.doc_id"""

  // ---- temperature-weighted source mixing (round 4) -------------------
  // The multilingual/multi-source rebalancing stage (Conneau et al.
  // 2019's p_i^τ sampling): a source's share of the output budget is
  // proportional to its document count raised to temperature τ — τ=1
  // keeps natural proportions, τ→0 flattens toward uniform. τ=0.5 is
  // hardcoded as sqrt() because IEEE requires sqrt be correctly rounded
  // (pow(x,0.5) is NOT so guaranteed across libms — a cross-engine
  // exactness trap). Weights round to 6 dp and sum as DECIMAL so the
  // normalizing total is order-independent; the final ratio is then
  // bit-identical double math in both engines.
  //
  // Scale shape: the quota table is one tiny agg (|sources| rows) that
  // broadcasts; per-source selection is the same md5-order
  // WindowGroupLimit top-n as stratifiedMix — no source's full row set
  // ever sorts globally, and the broadcast join adds no exchange.
  private val MixBudget = 100

  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val wtd = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("w", round(sqrt(col("cnt")), 6).cast("decimal(18,6)"))
    val tot = wtd.agg(sum(col("w")).as("tw"))
    val quotas = wtd.crossJoin(broadcast(tot)) // 1-row scalar total
      .withColumn("quota", greatest(lit(1),
        floor(lit(MixBudget) * col("w").cast("double") / col("tw").cast("double")).cast("int")))
      .select(col("source"), col("quota"))
    val w = Window.partitionBy(col("source")).orderBy(col("hk"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"),
        md5(concat(lit("tmix:"), col("doc_id").cast("string"))).as("hk"))
      .withColumn("rk", row_number().over(w))
      // constant upper bound FIRST: every quota ≤ MixBudget, and a
      // literal limit is what lets Spark plan WindowGroupLimit (a
      // data-dependent rk <= quota can't cap per-partition state)
      .filter(col("rk") <= MixBudget)
      .join(broadcast(quotas), Seq("source"))
      .filter(col("rk") <= col("quota"))
      .select(col("source"), col("doc_id"), col("quota"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }

  val temperatureMixOracle: String = s"""
    WITH cnts AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
    wtd AS (SELECT source, CAST(round(sqrt(cnt), 6) AS DECIMAL(18,6)) AS w FROM cnts),
    tot AS (SELECT sum(w) AS tw FROM wtd),
    q AS (SELECT source,
            greatest(1, CAST(floor($MixBudget * CAST(w AS DOUBLE) / CAST(tw AS DOUBLE)) AS INT)) AS quota
          FROM wtd, tot),
    h AS (SELECT doc_id, source,
            md5('tmix:' || CAST(doc_id AS VARCHAR)) AS hk FROM documents),
    r AS (SELECT doc_id, source,
            CAST(row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS INT) AS rk
          FROM h)
    SELECT r.source, r.doc_id, q.quota, r.rk
    FROM r JOIN q USING (source)
    WHERE r.rk <= q.quota
    ORDER BY r.source, r.rk"""

  // ---- quality gate (round 4) -----------------------------------------
  // The composed keep/drop decision a pipeline actually ships: each doc
  // gets a boolean verdict plus an auditable comma-joined reason list
  // (fixed rule order), Gopher-style rules over token count, mean token
  // length, stopword fraction, and the two repetition fractions. The
  // audit table is the first-class artifact — filtered corpora must be
  // explainable, and "why was this dropped" is a query, not a rerun.
  // Plan: one narrow pass for the per-doc stats + the two keyed gram
  // aggregates from text_repetition (left-joined back; docs with no
  // grams coalesce to 0). Thresholds compare 6-dp-rounded doubles so
  // boundary cases are engine-independent.
  private val GateMinTok = 20L
  private val GateMaxTok = 100000L

  def qualityGate(spark: SparkSession, dir: String): DataFrame =
    qualityGateOf(Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
      .cache()) // feeds the stats pass + both gram passes (harness clears it)

  /** The gate over a PRE-TOKENIZED (doc_id, t) frame — the
    * tokenize-once seam [[pipelineCurate]] shares (round 12): callers
    * hand in one cached tokens projection and every stage reads it. */
  def qualityGateOf(toks: DataFrame): DataFrame = {
    // the gate's repetition flags use text_repetition's OWN aggregates —
    // one definition, no drift
    val (s2, s3) = TextAnalysis.gramFractions(toks)
    val stopList = TextAnalysis.profiles.head._2
    val base = toks.select(col("doc_id"),
      size(col("t")).cast("long").as("n_tokens"),
      round(aggregate(transform(col("t"), x => length(x)), lit(0), (a, x) => a + x)
        .cast("double") / size(col("t")), 4).as("atl"),
      round(size(filter(col("t"), x => stopList.map(w => x === lit(w)).reduce(_ || _)))
        .cast("double") / size(col("t")), 6).as("stop"))
    val flagged = base
      .join(s2, Seq("doc_id"), "left").join(s3, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") < GateMinTok).as("f_short"),
        (col("n_tokens") > GateMaxTok).as("f_long"),
        (col("atl") < 3.0 || col("atl") > 10.0).as("f_toklen"),
        (col("stop") < 0.02).as("f_stop"),
        (round(coalesce(col("top2"), lit(0.0)), 6) > 0.20).as("f_rep2"),
        (round(coalesce(col("dup3"), lit(0.0)), 6) > 0.60).as("f_rep3"))
    flagged.select(col("doc_id"), col("n_tokens"),
      (!(col("f_short") || col("f_long") || col("f_toklen") ||
         col("f_stop") || col("f_rep2") || col("f_rep3"))).as("keep"),
      concat_ws(",",
        when(col("f_short"), "too_short"), when(col("f_long"), "too_long"),
        when(col("f_toklen"), "tok_len"), when(col("f_stop"), "low_stop"),
        when(col("f_rep2"), "rep_2gram"), when(col("f_rep3"), "rep_3gram")).as("reasons"))
      .orderBy(col("doc_id"))
  }

  /** The gate's CTE chain up to `f(doc_id, n_tokens, f_* flags)` —
    * shared verbatim between [[qualityGateOracle]] and the composed
    * pipeline oracle so the two can never drift. */
  private def gateCtes: String =
    s"""toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
    $gateCtesAfterToks"""

  /** [[gateCtes]] minus the `toks` head — for compositions whose other
    * fragments (e.g. [[Dedup.clustersCteSql]]) already define the
    * IDENTICAL `toks` CTE (DuckDB rejects duplicate CTE names). */
  private def gateCtesAfterToks: String = {
    val stopList = TextAnalysis.profiles.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""${TextAnalysis.gramFractionCtes},
    base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t), 4) AS atl,
        round(CAST(len(list_filter(t, x -> list_contains($stopList, x))) AS DOUBLE) / len(t), 6) AS stop
      FROM toks),
    f AS (SELECT base.doc_id, n_tokens,
        n_tokens < $GateMinTok AS f_short,
        n_tokens > $GateMaxTok AS f_long,
        (atl < 3.0 OR atl > 10.0) AS f_toklen,
        stop < 0.02 AS f_stop,
        round(coalesce(s2.top2, 0), 6) > 0.20 AS f_rep2,
        round(coalesce(s3.dup3, 0), 6) > 0.60 AS f_rep3
      FROM base LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id))"""
  }

  val qualityGateOracle: String = s"""
    WITH $gateCtes
    SELECT doc_id, n_tokens,
      NOT (f_short OR f_long OR f_toklen OR f_stop OR f_rep2 OR f_rep3) AS keep,
      concat_ws(',',
        CASE WHEN f_short THEN 'too_short' END, CASE WHEN f_long THEN 'too_long' END,
        CASE WHEN f_toklen THEN 'tok_len' END, CASE WHEN f_stop THEN 'low_stop' END,
        CASE WHEN f_rep2 THEN 'rep_2gram' END, CASE WHEN f_rep3 THEN 'rep_3gram' END) AS reasons
    FROM f
    ORDER BY doc_id"""

  // ---- multilingual quality gate (round 19, the r18 verdict's #1) ------
  // [[qualityGate]]'s rules are calibrated for English over the
  // reference tokenizer, which yields ~NOTHING on unspaced scripts: a
  // Japanese document the lang-id just certified is dropped as
  // "too_short, tok_len, low_stop" — a multilingual release ships with
  // its CJK slice silently gutted. The ML gate runs the SAME rule
  // structure over the script-aware v2 tokens (TextFns.tokensScript)
  // with the two ENGLISH-CALIBRATED rules made script-conditional:
  //  - mean token length [3,10] and the English-stopword floor apply
  //    only when ≥½ the tokens are ASCII word runs (an English-ish doc);
  //    for a CJK/Cyrillic/Arabic doc both are vacuous — per-codepoint
  //    tokens have length 1 by construction and our stop list is
  //    English, so firing them IS the bug this gate exists to fix.
  //  - mean token length is computed over WORD tokens only (runs, not
  //    unspaced-script singletons), so mixed-script docs aren't dragged
  //    under the floor by their CJK half.
  // Length/repetition rules are script-agnostic and unchanged. Runs
  // over the seeded multilingual corpus (documents ∪ held-out docs) so
  // every script class is exercised at every SF.

  def qualityGateMl(spark: SparkSession, dir: String): DataFrame =
    qualityGateMlOf(TextAnalysis.mlDocs(spark, dir)
      .select(col("doc_id"), TextFns.tokensScript(col("text")).as("t"))
      .cache()) // feeds the stats pass + both gram passes (harness clears it)

  /** The ML gate over a PRE-TOKENIZED (doc_id, t) frame of v2 tokens —
    * the [[qualityGateOf]] seam for the script-aware tokenizer. */
  def qualityGateMlOf(toks: DataFrame): DataFrame = {
    val (s2, s3) = TextAnalysis.gramFractions(toks)
    // the seed-derived UNION function-word list — a Latin-script doc in
    // ANY of the 20 fixture languages clears the floor on its own
    // function words (the English-only list dropped every Latin
    // non-English held-out doc; measured, see MlStopWords)
    val stopList = TextAnalysis.MlStopWords
    val singletonRe = TextFns.UnspacedSingletonPattern
    // materialized once (r20): the word filter is an interpreted HOF
    // (CodegenFallback — no subexpression elimination), and the `atlw`
    // projection read it THREE times per row, each a per-token rlike
    // pass; as a column it evaluates once and the three reads are
    // attribute references. Values unchanged (same expression).
    val words = col("__w")
    val base = toks
      .withColumn("__w", filter(col("t"), x => !x.rlike(singletonRe)))
      .select(col("doc_id"),
      size(col("t")).cast("long").as("n_tokens"),
      when(size(words) > 0,
        round(aggregate(transform(words, x => length(x)), lit(0), (a, x) => a + x)
          .cast("double") / size(words), 4)).as("atlw"),
      when(size(col("t")) > 0,
        round(size(filter(col("t"), x => array_contains(typedlit(stopList), x)))
          .cast("double") / size(col("t")), 6)).as("stop"),
      when(size(col("t")) > 0,
        round(size(filter(col("t"), x => x.rlike("^[0-9a-z_]+$")))
          .cast("double") / size(col("t")), 6)).as("ascii_frac"))
    val flagged = base
      .join(s2, Seq("doc_id"), "left").join(s3, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") < GateMinTok).as("f_short"),
        (col("n_tokens") > GateMaxTok).as("f_long"),
        (col("ascii_frac") >= 0.5 &&
          (col("atlw") < 3.0 || col("atlw") > 10.0)).as("f_toklen"),
        (col("ascii_frac") >= 0.5 && col("stop") < 0.02).as("f_stop"),
        (round(coalesce(col("top2"), lit(0.0)), 6) > 0.20).as("f_rep2"),
        (round(coalesce(col("dup3"), lit(0.0)), 6) > 0.60).as("f_rep3"))
    flagged.select(col("doc_id"), col("n_tokens"),
      (!(col("f_short") || col("f_long") || coalesce(col("f_toklen"), lit(false)) ||
         coalesce(col("f_stop"), lit(false)) || col("f_rep2") || col("f_rep3"))).as("keep"),
      concat_ws(",",
        when(col("f_short"), "too_short"), when(col("f_long"), "too_long"),
        when(col("f_toklen"), "tok_len"), when(col("f_stop"), "low_stop"),
        when(col("f_rep2"), "rep_2gram"), when(col("f_rep3"), "rep_3gram")).as("reasons"))
      .orderBy(col("doc_id"))
  }

  /** The ML gate's CTE chain after a v2-token `toks` CTE, up to
    * `f(doc_id, n_tokens, f_* flags)` — the [[gateCtesAfterToks]]
    * discipline for the script-aware gate, shared between
    * [[qualityGateMlOracle]] and the ML release oracle. The toks CTE
    * name is a parameter because the release oracle runs v1 `toks`
    * (winnow + clusters) and v2 tokens side by side. */
  private def gateMlCtesAfterToksOver(toks: String): String = {
    val stopList = TextAnalysis.MlStopWords.map(w => s"'$w'").mkString("[", ", ", "]")
    val singleton = TextFns.UnspacedSingletonPattern
    s"""${TextAnalysis.gramFractionCtesOver(toks)},
    base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        CASE WHEN len(list_filter(t, x -> NOT regexp_matches(x, '$singleton'))) > 0 THEN
          round(CAST(list_sum(list_transform(
              list_filter(t, x -> NOT regexp_matches(x, '$singleton')), x -> length(x))) AS DOUBLE)
            / len(list_filter(t, x -> NOT regexp_matches(x, '$singleton'))), 4) END AS atlw,
        CASE WHEN len(t) > 0 THEN
          round(CAST(len(list_filter(t, x -> list_contains($stopList, x))) AS DOUBLE) / len(t), 6) END AS stop,
        CASE WHEN len(t) > 0 THEN
          round(CAST(len(list_filter(t, x -> regexp_matches(x, '^[0-9a-z_]+$$'))) AS DOUBLE) / len(t), 6) END AS ascii_frac
      FROM $toks),
    f AS (SELECT base.doc_id, n_tokens,
        n_tokens < $GateMinTok AS f_short,
        n_tokens > $GateMaxTok AS f_long,
        (ascii_frac >= 0.5 AND (atlw < 3.0 OR atlw > 10.0)) AS f_toklen,
        (ascii_frac >= 0.5 AND stop < 0.02) AS f_stop,
        round(coalesce(s2.top2, 0), 6) > 0.20 AS f_rep2,
        round(coalesce(s3.dup3, 0), 6) > 0.60 AS f_rep3
      FROM base LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id))"""
  }

  val qualityGateMlOracle: String = s"""
    WITH docsml AS (${TextAnalysis.mlDocsCteSql}),
    toks AS (SELECT doc_id, ${TextFns.tokensScriptSqlOver("text")} AS t FROM docsml),
    ${gateMlCtesAfterToksOver("toks")}
    SELECT doc_id, n_tokens,
      NOT (f_short OR f_long OR coalesce(f_toklen, false) OR
           coalesce(f_stop, false) OR f_rep2 OR f_rep3) AS keep,
      concat_ws(',',
        CASE WHEN f_short THEN 'too_short' END, CASE WHEN f_long THEN 'too_long' END,
        CASE WHEN f_toklen THEN 'tok_len' END, CASE WHEN f_stop THEN 'low_stop' END,
        CASE WHEN f_rep2 THEN 'rep_2gram' END, CASE WHEN f_rep3 THEN 'rep_3gram' END) AS reasons
    FROM f
    ORDER BY doc_id"""

  /** Stages 1-2 of curation over ANY (doc_id, text, …) frame, under one
    * tokenizer and its gate: tokenize ONCE → quality gate → exact dedup
    * by token fingerprint, the min doc_id of each fingerprint surviving.
    * One definition for both tokenizers — ([[TextFns.tokens]],
    * [[qualityGateOf]]) for v1, ([[TextFns.tokensScript]],
    * [[qualityGateMlOf]]) for the v2 release chain (round 20). Returns
    * the cached (doc_id, t) tokens (the lang-id stage of
    * [[pipelineCurateOf]] reads them too) and the survivors
    * (doc_id, n_tokens, n_copies). */
  private[graft] def survivorsOf(docs: DataFrame, tokenize: Column => Column,
                                 gate: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val toks = docs
      .select(col("doc_id"), tokenize(col("text")).as("t"))
      .cache() // the single tokenize: gate stats + grams, fp, lang
    val kept = gate(toks).filter(col("keep"))
      .select(col("doc_id"), col("n_tokens"))
    // GATE ONCE (r20, guide §1.2): fp has two consumers — the exact-dup
    // survivor aggregate and the final per-doc join — and each used to
    // re-run the whole gate chain (per-doc stats + BOTH gram-fraction
    // shuffles) plus the md5 fingerprint pass over the cached tokens.
    // The frame is corpus-sized but narrow (id + count + one hash);
    // caching it halves the gate/fingerprint work (harness clears).
    val fp = toks
      .join(kept, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        TextFns.contentFp(col("t")).as("content_fp"))
      .cache()
    val surv = fp.groupBy(col("content_fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
    (toks, surv.join(fp.select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_copies")))
  }

  // ---- composed curation pipeline (round 11) ---------------------------
  // The CCNet-shaped end-to-end call: quality gate → exact dedup among
  // the kept docs → language-id the survivors — one entry a user runs
  // to turn raw documents into a curated, deduplicated, lang-tagged
  // manifest. Each stage REUSES the gated single-op definition
  // (qualityGateOf, the exact-dedup min-id rule, predictedLangT), so
  // the composition can't drift from the parts; lang scoring runs on
  // SURVIVORS ONLY (filter early, score late — at 100 TB the gate+dedup
  // typically drop half the corpus before the expensive per-token
  // scoring). TOKENIZE ONCE (round 12): the r11 form re-tokenized the
  // corpus in each of the gate, fingerprint, and lang stages — 7.5 s /
  // 3.6× growth at sf1; one cached (doc_id, t) projection now feeds
  // all three (the r7 shared-fragment pattern applied to the plan, not
  // just the oracle). Plan: one tokenize scan, the gate's aggregation
  // passes, one fingerprint shuffle, then narrow per-row scoring.
  def pipelineCurate(spark: SparkSession, dir: String): DataFrame =
    pipelineCurateOf(Tables.documents(spark, dir))

  /** The pipeline over ANY (doc_id, text, …) frame: the v1
    * [[survivorsOf]] plus the lang-id column. */
  def pipelineCurateOf(docs: DataFrame): DataFrame = {
    val (toks, surv) = survivorsOf(docs, TextFns.tokens, qualityGateOf)
    toks
      .join(surv, Seq("doc_id"))
      .select(col("doc_id"),
        TextAnalysis.predictedLangT(col("t")).as("predicted_lang"),
        col("n_tokens"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** The pipeline's CTE chain up to `surv(doc_id, n_copies)` (gate →
    * kept → fingerprint → exact-dedup winners) — shared verbatim
    * between [[pipelineCurateOracle]] and the composed release
    * manifest oracle so the stages can never drift. */
  private def pipelineCtes: String =
    s"""toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
    $pipelineCtesAfterToks"""

  /** [[pipelineCtes]] minus the `toks` head (see [[gateCtesAfterToks]]);
    * `docs` parameterizes the corpus table for the seeded v2 oracle. */
  private def pipelineCtesAfterToksOver(docs: String): String = s"""$gateCtesAfterToks,
    kept AS (
      SELECT doc_id, n_tokens FROM f
      WHERE NOT (f_short OR f_long OR f_toklen OR f_stop OR f_rep2 OR f_rep3)),
    fp AS (
      SELECT d.doc_id, k.n_tokens,
        md5(array_to_string($tokensSql, ' ')) AS content_fp
      FROM $docs d JOIN kept k USING (doc_id)),
    surv AS (
      SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      FROM fp GROUP BY content_fp)"""

  private def pipelineCtesAfterToks: String = pipelineCtesAfterToksOver("documents")

  /** Exact twin of [[pipelineCurate]]: the shared [[pipelineCtes]]
    * chain, then the shared lang-id score/CASE fragments over
    * survivors only. */
  val pipelineCurateOracle: String = s"""
    WITH $pipelineCtes,
    scored AS (
      SELECT toks.doc_id,
      ${TextAnalysis.langScoreSql}
      FROM toks JOIN surv ON surv.doc_id = toks.doc_id)
    SELECT s.doc_id,
      ${TextAnalysis.langCaseSql} AS predicted_lang,
      fp.n_tokens, surv.n_copies
    FROM scored s
    JOIN surv ON surv.doc_id = s.doc_id
    JOIN fp ON fp.doc_id = s.doc_id
    ORDER BY s.doc_id"""

  // ---- deterministic train/val/test split (round 4) --------------------
  // Hash-bucket split assignment (80/10/10): u = md5-derived 60-bit
  // hash of the doc id normalized to [0,1), thresholded. Deterministic
  // and REPRODUCIBLE across engines, cluster layouts, and reruns — the
  // property a split must have so val/test never leak into train when
  // the corpus is re-processed. Narrow per-row expressions, no shuffle
  // beyond the output sort; the salt string namespaces the hash so
  // split assignment is independent of every other md5-order sample in
  // the pipeline (mix/tmix draw different, uncorrelated orders).
  def split(spark: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(1.152921504606846976e18)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  val splitOracle: String = """
    SELECT doc_id, source,
      CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
    FROM (SELECT doc_id, source,
            CAST(CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
              / 1152921504606846976.0 AS u
          FROM documents)
    ORDER BY doc_id"""

  // ---- leakage-safe split (round 8) ------------------------------------
  // Near-dup leakage is the quiet eval killer (Lee et al. 2022 §6 — a
  // test document whose near-duplicate sits in train inflates every
  // benchmark it touches): the plain per-doc hash split ([[split]])
  // puts ~20% of each near-dup family's copies in val/test by
  // construction. The safe split hashes the doc's DEDUP CLUSTER id
  // instead, so a whole near-dup family lands on ONE side. Singleton
  // docs are their own cluster with cluster_id == doc_id, so they split
  // exactly as the baseline — the operators differ only where leakage
  // would have happened.
  //
  // Scale shape: dedupClusters' bucketed shingle join + pointer-jumping
  // CC (already proven to 1 M docs), then the same narrow hash
  // arithmetic; a production pipeline reuses its materialized cluster
  // table instead of recomputing. Same salt as [[split]] on purpose —
  // reviewable as "the baseline split, keyed by cluster rep".
  def splitLeakSafe(spark: SparkSession, dir: String): DataFrame =
    splitLeakSafeOf(
      Tables.documents(spark, dir).select(col("doc_id"), col("source")),
      Dedup.dedupClustersOf(spark, dir, ordered = false))

  /** The split given an ALREADY-MATERIALIZED (doc_id, cluster_id) table
    * — the production form (round 9, the [[graft.operators.Multimodal
    * dhashDedupOf]] pattern): a pipeline that has run `dedup_clusters`
    * reuses its output instead of recomputing the shingle join + CC
    * here, leaving only the narrow hash arithmetic and one doc_id join
    * (~the [[split]] cost). The gated entry keeps the self-contained
    * inline form; the spec proves the composed form equal. */
  def splitLeakSafeOf(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val u = conv(substring(md5(concat(lit("split:"), col("cluster_id").cast("string"))), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(1.152921504606846976e18)
    docs.select(col("doc_id"), col("source"))
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("cluster_id"),
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** The composed leak-safe split as a GATED entry (round 10): clusters
    * are materialized to parquet once per (sfDir, documents mtime) and
    * every later run pays only the [[splitLeakSafeOf]] cost — one doc_id
    * join + narrow hash arithmetic (~the [[split]] cost) instead of the
    * ~5 s shingle-join + CC recompute the self-contained [[splitLeakSafe]]
    * entry carries. Same oracle: the output is bit-identical, only where
    * the cluster table comes from differs. The mtime in the cache key
    * makes a testdata regen invalidate the cache (the r9 lesson). */
  def splitLeakSafeComposed(spark: SparkSession, dir: String): DataFrame =
    // the shared mtime+df-cap-keyed materialization (Dedup.clustersCached)
    // — the cap is part of the cache identity, so a knob change can
    // never serve stale clusters
    splitLeakSafeOf(
      Tables.documents(spark, dir).select(col("doc_id"), col("source")),
      Dedup.clustersCached(spark, dir))

  /** Cluster-keyed split assignment over `clu` as a CTE body — shared
    * verbatim between [[splitLeakSafeOracle]] and the release-manifest
    * oracle (the [[gateCtes]] discipline applied to the split). */
  private def splitAssignSqlOver(docs: String, clu: String): String = s"""
    SELECT doc_id, source, cluster_id,
      CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
    FROM (SELECT d.doc_id, d.source, c.cluster_id,
            CAST(CAST(concat('0x', substr(md5('split:' || CAST(c.cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
              / 1152921504606846976.0 AS u
          FROM $docs d JOIN $clu c USING (doc_id))"""

  private def splitAssignSql: String = splitAssignSqlOver("documents", "clu")

  val splitLeakSafeOracle: String = s"""
    WITH RECURSIVE
    ${Dedup.clustersCteSql}
    $splitAssignSql
    ORDER BY doc_id"""

  // ---- per-source corpus card (round 4) --------------------------------
  // The release artifact a curated corpus ships with: per source, how
  // many documents, how many tokens, and what fraction survives the
  // quality gate. Composes qualityGate (one definition — the card can
  // never disagree with the gate) with a source join and a tiny
  // per-source rollup; the join is on doc_id, so AQE broadcasts the
  // bounded side at small SFs and shuffle-joins at scale.
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val gate = qualityGate(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("keep"))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(gate, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        count(when(col("keep"), lit(1))).as("kept_docs"))
      .withColumn("kept_frac",
        round(col("kept_docs").cast("double") / col("n_docs"), 6))
      .orderBy(col("source"))
  }

  val corpusStatsOracle: String = s"""
    WITH gate AS ($qualityGateOracle),
    j AS (SELECT d.source, g.n_tokens, g.keep
          FROM documents d JOIN gate g USING (doc_id))
    SELECT source,
      count(*) AS n_docs,
      CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      count(CASE WHEN keep THEN 1 END) AS kept_docs,
      round(CAST(count(CASE WHEN keep THEN 1 END) AS DOUBLE) / count(*), 6) AS kept_frac
    FROM j
    GROUP BY source
    ORDER BY source"""

  // ---- composed training-data release (round 14) -----------------------
  // The artifact a user actually SHIPS: one gated entry composing the
  // full release chain — curate (pipelineCurate: gate → exact dedup →
  // survivors) → leak-safe split (splitLeakSafeOf over the materialized
  // cluster table, the composed 26q2 form) → blocks per split (the
  // packing core's closed form) → per-(split, source) corpus card.
  // Every stage IS its gated definition (no re-derivation, the 26j2
  // discipline), and the oracle is assembled from the same
  // shared fragments (pipelineCtes / clustersCteSql / splitAssignSql),
  // so the composition cannot drift from the parts.
  //
  // Scale shape: the pipeline's one tokenize scan + gate aggregates +
  // fingerprint shuffle, the cluster join, then a group-by rollup;
  // blocks per split come from the card's own token sums in closed
  // form (see [[releaseCardOf]]) — no prefix-sum pass at all.
  def releaseManifest(spark: SparkSession, dir: String): DataFrame =
    releaseManifestOf(
      Tables.documents(spark, dir),
      Dedup.clustersCached(spark, dir))

  /** The manifest over ANY (doc_id, source, text) frame and cluster
    * table — the seam the incremental release re-emits through
    * (round 15). */
  def releaseManifestOf(docs: DataFrame, clusters: DataFrame): DataFrame = {
    // stage 1: curated survivors — the gated pipeline definition
    val (_, curated) = survivorsOf(docs, TextFns.tokens, qualityGateOf)
    // stage 2: leak-safe split from the cluster table
    val splits = splitLeakSafeOf(
      docs.select(col("doc_id"), col("source")), clusters)
      .select(col("doc_id"), col("source"), col("split"))
    // stages 3+4: the v2 card ([[releaseCardOf]]) over a release frame
    // that contaminates nothing and redacts nothing — the shipped
    // tokens are the curated tokens. Every survivor passed the gate
    // (n_tokens >= GateMinTok), so the card's `tot > 0` drops no split.
    releaseCardOf(curated.join(splits, Seq("doc_id"))
        .select(col("split"), col("source"), col("n_copies"),
          col("n_tokens").as("n_ship_tokens"), lit(0L).as("n_pii"),
          lit(false).as("contaminated")))
      .drop("n_contaminated", "n_redacted")
  }

  /** Composed from the SAME fragments as the stage oracles:
    * [[pipelineCtes]] (curate), [[Dedup.clustersCteSql]] +
    * [[splitAssignSql]] (leak-safe split), and packing's
    * contiguous-stream arithmetic (blocks = ceil(split tokens /
    * BlockTokens), exactly last_block + 1 of a contiguous pack). */
  val releaseManifestOracle: String = s"""
    WITH RECURSIVE
    ${Dedup.clustersCteSql},
    $pipelineCtesAfterToks,
    spl AS ($splitAssignSql),
    cur AS (
      SELECT surv.doc_id, fp.n_tokens, surv.n_copies, spl.source, spl.split
      FROM surv JOIN fp USING (doc_id) JOIN spl USING (doc_id)),
    blocks AS (
      SELECT split,
        CAST((sum(n_tokens) - 1) // $BlockTokens + 1 AS BIGINT) AS split_blocks
      FROM cur GROUP BY split)
    SELECT cur.split, cur.source,
      count(*) AS n_docs,
      CAST(sum(cur.n_tokens) AS BIGINT) AS n_tokens,
      CAST(sum(cur.n_copies - 1) AS BIGINT) AS n_dupes_collapsed,
      blocks.split_blocks
    FROM cur JOIN blocks USING (split)
    GROUP BY cur.split, cur.source, blocks.split_blocks
    ORDER BY cur.split, cur.source"""

  // ---- release manifest v2: + decontamination + PII (round 15) --------
  // What a production release actually runs between curate and split:
  // benchmark DECONTAMINATION (the winnow fingerprint join, 26u — docs
  // sharing a ≥ k+w−1-token passage with the eval set are dropped, and
  // the card says how many) and PII REDACTION (26k — the shipped text
  // is the redacted text, so the packed token stream and the card's
  // token counts are POST-redaction; the card counts the redactions).
  // Every stage is its gated definition; the oracle is the same
  // shared-fragment assembly as v1, now with the fragments
  // table-parameterized because v2 runs over a SEEDED corpus.
  //
  // The seed (the LineSeeds/WinnowSeeds discipline): the sf corpora
  // share no ≥8-token passage with the probe slice, so decontamination
  // would be vacuous on them. One crafted doc — unique content, passes
  // the quality gate, contains the 12-token winnow seed passage —
  // joins the corpus under source 'seeded' and must surface in the
  // card as contaminated (and ship zero tokens). Its split uses the
  // singleton-cluster fallback (cluster_id = doc_id for docs the
  // materialized cluster table has never seen — the incremental-doc
  // rule the catalog operators use).
  // Two seeds, one per new stage (both unique content, both pass the
  // gate): the first carries the winnow seed passage → must surface as
  // CONTAMINATED and ship nothing; the second carries an email + a
  // phone number → must SHIP with its PII redacted (n_redacted = 2 and
  // post-redaction token counts). Without them both stages would be
  // vacuous at gate SFs — the corpus shares no ≥8-token passage with
  // the probe slice, and the piiRedact gate itself proves the corpus
  // is PII-clean.
  private[graft] val ReleaseSeeds: Seq[(Long, String, String)] = Seq(
    (9000000001L, "seeded",
      s"this archived crawl page plainly copies $WinnowSeedPassage and then " +
      "wanders through unrelated remarks about weather markets travel cooking " +
      "gardens and music until the ordinary prose convinces the quality gate to keep it"),
    (9000000002L, "seeded",
      "please contact the archive team by mail at curator@example.org or by " +
      "phone at +1 415 555 0117 for any questions about this otherwise ordinary " +
      "page of prose regarding weather travel cooking and music that the " +
      "quality gate should keep"))

  /** The shared per-doc release frame behind [[releaseManifestV2]] AND
    * [[releaseShards]]: (doc_id, n_copies, source, split, n_pii,
    * n_ship_tokens, ship_text, contaminated) for every curated
    * survivor. ONE definition, so the card and the exported shards can
    * never disagree about what ships.
    *
    * `tokVersion` (round 20, the r19 verdict's #2) threads the
    * script-aware tokenizer through the release chain: under
    * [[TextFns.TokVersion2]] the corpus is seeded with the 20 held-out
    * multilingual docs, stage 1 runs the v2 tokens + ML gate
    * ([[survivorsOf]]) and the SHIPPED token counts re-tokenize with v2
    * — so a CJK/Cyrillic doc ships with its real token count where the
    * v1 chain drops it at the gate (zero v1 tokens → too_short;
    * English-only stopword floor → low_stop; spec-proven). Winnow
    * decontamination and the cluster split stay v1-keyed on both
    * engines (the probe index and cluster table are v1 artifacts; a
    * v1-token-free doc simply has no fingerprints to contaminate). */
  private[graft] def releaseV2Frame(spark: SparkSession, dir: String,
                                    tokVersion: Int = TextFns.TokVersion): DataFrame = {
    import spark.implicits._
    val docsBase = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .unionByName(ReleaseSeeds.toDF("doc_id", "source", "text"))
    val docsPlus =
      if (tokVersion < TextFns.TokVersion2) docsBase
      else docsBase.unionByName(
        TextAnalysis.HoldoutDocs.map(h => (h._2, "holdout", h._3))
          .toDF("doc_id", "source", "text"))
    releaseFrameOf(docsPlus, Dedup.clustersCached(spark, dir), dir, tokVersion)
  }

  /** The release frame over ANY (doc_id, source, text) frame and
    * cluster table: the seeded corpus with [[Dedup.clustersCached]]
    * ([[releaseV2Frame]]) or one nightly batch with the extended
    * cluster table ([[releaseShardsRefresh]]). `dir` names the corpus
    * whose persisted probe index decontaminates. */
  private def releaseFrameOf(docs: DataFrame, clusters: DataFrame, dir: String,
                             tokVersion: Int = TextFns.TokVersion): DataFrame = {
    val spark = docs.sparkSession
    val ml = tokVersion >= TextFns.TokVersion2
    val tokenize: Column => Column = if (ml) TextFns.tokensScript else TextFns.tokens
    // stage 1: curate — the gated survivors under the release tokenizer
    val (_, curated) = survivorsOf(docs, tokenize,
      if (ml) qualityGateMlOf else qualityGateOf)
    // stage 2: decontaminate — corpus-side winnow fingerprints joined
    // against the PERSISTED probe index (round 16: the benchmark slice
    // is static — [[winnowProbeFpCached]] — so a release run only
    // fingerprints the corpus; winnowing is per-doc, so the filtered
    // corpus side computes the same fingerprints the union form did)
    val contam = TextAnalysis.winnowFingerprintOf(
        docs.select(col("doc_id"), col("text"))
          .filter(col("doc_id") >= ProbeDocs))
      .join(broadcast(winnowProbeFpCached(spark, dir)), Seq("fp"))
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    // stage 3: redact — the 26k chain; the SHIPPED text is the redacted
    // text, so token counts for pack + card re-tokenize it
    val afterEmail = regexp_replace(col("text"), TextAnalysis.EmailRe, "<EMAIL>")
    val afterIp    = regexp_replace(afterEmail, TextAnalysis.Ipv4Re, "<IP>")
    val afterPhone = regexp_replace(afterIp, TextAnalysis.PhoneRe, "<PHONE>")
    val red = docs.select(col("doc_id"),
      (regexp_count(col("text"), lit(TextAnalysis.EmailRe)) +
       regexp_count(afterEmail, lit(TextAnalysis.Ipv4Re)) +
       regexp_count(afterIp, lit(TextAnalysis.PhoneRe))).cast("long").as("n_pii"),
      size(tokenize(afterPhone)).cast("long").as("n_ship_tokens"),
      afterPhone.as("ship_text"))
    // stage 4: leak-safe split from the cluster table, singleton
    // fallback for docs the table has never seen (the seeds, a batch's
    // novel docs)
    val cluPlus = docs.select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val splits = splitLeakSafeOf(
        docs.select(col("doc_id"), col("source")), cluPlus)
      .select(col("doc_id"), col("source"), col("split"))
    curated.select(col("doc_id"), col("n_copies"))
      .join(splits, Seq("doc_id"))
      .join(red, Seq("doc_id"))
      .join(contam, Seq("doc_id"), "left")
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
  }

  /** CODE version baked into [[releaseV2FrameCached]]'s key (round 17,
    * the r16 verdict's #6): the artifact's identity is (corpus state,
    * df cap, AND the release semantics that computed it). Bump this
    * when [[ReleaseSeeds]], the PII regexes, or any gate/winnow
    * constant changes — otherwise an existing artifact would silently
    * serve the OLD semantics until the next corpus regen re-keyed it. */
  private[graft] final val ReleaseV2CodeVersion = 1

  /** The release-frame artifact path for an explicit code version —
    * split out so the bump-invalidates spec can prove a version bump
    * re-keys (and therefore rebuilds) without mutating the constant.
    *
    * `tokVersion` folds into the key only when ≠ v1 so every existing
    * v1 artifact stays valid — the ML frame is a SIBLING generation
    * family member, not an invalidation of the v1 release. */
  private[graft] def releaseV2CachePath(spark: SparkSession, dir: String,
                                        version: Int = ReleaseV2CodeVersion,
                                        tokVersion: Int = TextFns.TokVersion): String = {
    val maxDf = Dedup.effectiveMaxShingleDf(spark)
    val tok = if (tokVersion == TextFns.TokVersion) "" else s"_tok$tokVersion"
    val key = s"${Layout.storeKey(spark, dir, "documents")}_df${maxDf}_v$version$tok"
    s"${Layout.cacheRoot(spark)}/release_v2_cache/$key"
  }

  /** [[releaseV2Frame]] MATERIALIZED once per corpus version (round 16,
    * the clustersCached / 26q2 pattern): the curate→winnow→redact→split
    * chain is the suite's most expensive composition (~4.5 s sf0.1,
    * 12.5 s sf1 — a day-scale job at 100 TB), and a real release run
    * consumes it TWICE (the card via [[releaseManifestV2]], the shipped
    * bytes via [[releaseShards]]). The stateTag in the key re-keys the
    * artifact on any corpus regen — same second included — and the df
    * cap is part of the identity because the cluster stage depends on
    * it (the splitLeakSafeComposed rule). Warm consumers pay a parquet
    * read of exactly the columns they prune to. */
  private[graft] def releaseV2FrameCached(spark: SparkSession, dir: String,
                                          tokVersion: Int = TextFns.TokVersion): DataFrame = {
    // generation protocol (round 18): fresh gen-dir + _CURRENT commit
    val path = Layout.generation(spark,
        releaseV2CachePath(spark, dir, tokVersion = tokVersion)) { g =>
      releaseV2Frame(spark, dir, tokVersion).write.parquet(g)
    }
    spark.read.parquet(path)
  }

  /** The card served from the MATERIALIZED release frame — stages 5-6
    * (pack + aggregate) over the artifact, bit-identical to the inline
    * [[releaseManifestV2]] (same oracle gates both; the inline entry
    * stays the operator under test, this is the deployment shape: a
    * card+shards release run pays the chain once). */
  def releaseManifestV2Composed(spark: SparkSession, dir: String): DataFrame =
    releaseCardOf(releaseV2FrameCached(spark, dir).drop("ship_text"))

  def releaseManifestV2(spark: SparkSession, dir: String): DataFrame =
    releaseCardOf(releaseV2Frame(spark, dir).drop("ship_text"))

  /** Gated `curation_release_ml` (round 20): the release card under the
    * v2 tokenizer over the holdout-seeded corpus — the 20 held-out
    * multilingual docs must SHIP (the spec proves the v1 chain loses
    * every one of them at the gate). Served from the tok2 generation
    * of the release-frame cache, the v3 deployment shape. */
  def releaseManifestMl(spark: SparkSession, dir: String): DataFrame =
    releaseCardOf(
      releaseV2FrameCached(spark, dir, TextFns.TokVersion2).drop("ship_text"))

  /** Stages 5-6 of the release over any per-doc release frame — ONE
    * definition consumed by the v1 ([[releaseManifestOf]]), inline,
    * composed, v3 and ML card entries. */
  private def releaseCardOf(frame: DataFrame): DataFrame = {
    // stages 5+6 fused into ONE pass over the release frame (r21, guide
    // §1.2/§2.4): blocks per split derive from the card's own kept-token
    // sums — for a contiguous stream of non-negative counts, the packing
    // core's max(last_block) + 1 is exactly (Σn − 1) div BlockTokens + 1
    // (the cumulative position of the final token; the oracles compute
    // this same closed form, and ScaleOpsSpec "pack closed form" proves
    // the identity on adversarial inputs incl. zero counts), so no
    // prefix-sum pass runs. A split with no kept tokens packs no blocks
    // and has no packs row: the `tot > 0` filter (NULL-safe false for
    // all-contaminated splits, whose kept sum is NULL) drops it.
    val card0 = frame.groupBy(col("split"), col("source"))
      .agg(
        count(when(!col("contaminated"), lit(1))).as("n_docs"),
        sum(when(!col("contaminated"), col("n_ship_tokens"))).as("n_tokens"),
        sum(when(!col("contaminated"), col("n_copies") - 1)).as("n_dupes_collapsed"),
        count(when(col("contaminated"), lit(1))).as("n_contaminated"),
        sum(when(!col("contaminated"), col("n_pii"))).as("n_redacted"))
      .cache() // card-sized; feeds the packs rollup AND the final join
    val packs = card0.groupBy(col("split"))
      .agg(sum(col("n_tokens")).as("tot"))
      .filter(col("tot") > 0)
      .select(col("split"), expr(s"(tot - 1) div $BlockTokens + 1").as("split_blocks"))
    val out = card0
      .join(broadcast(packs), Seq("split"))
      .orderBy(col("split"), col("source"))
      .cache() // cache the CARD itself (card-sized rows), not just cur —
    out.count() // counting-then-unpersisting upstream left the returned
    card0.unpersist() // lazy frame to recompute the whole chain (r15 advice)
    out
  }

  /** The other half of the release contract (round 15): write exactly
    * what [[releaseManifestV2]] SAYS ships — curated, decontaminated
    * docs with their REDACTED text — as per-split training shards
    * ([[ShardExport.exportSplitShards]]: deterministic md5-shuffle
    * order, document-aligned shard files, per-split manifests). Both
    * read the SAME [[releaseV2FrameCached]] artifact, so the card and
    * the shard trees cannot disagree (spec-proven: tree doc counts ==
    * card n_docs per split, contaminated docs absent, exported text
    * carries the PII placeholders) AND a card+shards release run pays
    * the curate→winnow→redact→split chain ONCE (round 16 — previously
    * each consumer recomputed it). Returns the union shard manifest. */
  def releaseShards(spark: SparkSession, dir: String, outDir: String,
                    blocksPerShard: Long = ShardExport.DefaultBlocksPerShard): DataFrame = {
    val kept = releaseV2FrameCached(spark, dir)
      .filter(!col("contaminated"))
      .select(col("doc_id"), col("ship_text").as("text"), col("split"))
    ShardExport.exportSplitShards(
      kept.select(col("doc_id"), col("text")),
      kept.select(col("doc_id"), col("split")),
      outDir, blocksPerShard)
  }

  /** O(batch) NIGHTLY release-shard refresh (round 16) — the v2
    * release semantics applied to ONE arriving batch, extending the
    * exported split trees instead of re-exporting them: the batch
    * alone runs the quality gate (intra-batch exact dedup included),
    * DECONTAMINATION against the persisted probe index
    * ([[winnowProbeFpCached]] — the benchmark side never recomputes),
    * and PII REDACTION (the shipped text is the redacted text); its
    * split comes from the EXTENDED cluster table
    * ([[extendClusters]] — so a near-dup of a released train doc
    * shards into train by construction, singleton fallback for
    * novels), and each touched split's tree extends via
    * [[ShardExport.refreshSplitShards]] (full released shards
    * byte-stable). Preconditions are [[incrementalRelease]]'s: pass
    * the batch's NOVEL docs (cross-corpus exact/near dups are the
    * caller's `incrementalOf` verdicts — shipping a doc the release
    * already carries is the caller's double-count, not detectable
    * from the batch alone). Returns the union manifest of the
    * touched splits. */
  def releaseShardsRefresh(batch: DataFrame, clusters2: DataFrame,
                           dir: String, outDir: String,
                           blocksPerShard: Long = ShardExport.DefaultBlocksPerShard): DataFrame = {
    val kept = releaseFrameOf(
        batch.select(col("doc_id"), col("source"), col("text")), clusters2, dir)
      .filter(!col("contaminated"))
    ShardExport.refreshSplitShards(
      kept.select(col("doc_id"), col("ship_text").as("text")),
      kept.select(col("doc_id"), col("split")), outDir, blocksPerShard)
  }

  /** The per-doc release-frame CTE chain (everything through `cur` —
    * the SQL twin of [[releaseV2Frame]]), shared by the v2 and v3
    * oracles so the two releases cannot disagree on the frame. */
  private def releaseFrameCtes: String = {
    val benchSeed = WinnowSeeds.head
    s"""docsplus AS (
      SELECT doc_id, source, text FROM documents
      ${ReleaseSeeds.map { case (id, src, t) =>
        s"UNION ALL SELECT CAST($id AS BIGINT), '$src', '${t.replace("'", "''")}'"
      }.mkString("\n      ")}),
    ${Dedup.clustersCteSqlOver("docsplus")},
    ${pipelineCtesAfterToksOver("docsplus")},
    wtoksv2 AS (
      SELECT doc_id, t FROM toks
      UNION ALL
      SELECT CAST(${benchSeed._1} AS BIGINT),
             ${tokensSqlOver(s"'${benchSeed._2.replace("'", "''")}'")}),
    ${TextAnalysis.winnowCtesFromToks("wtoksv2")},
    probe AS (SELECT DISTINCT fp FROM wfp WHERE doc_id < $ProbeDocs),
    contam AS (
      SELECT DISTINCT w.doc_id FROM wfp w JOIN probe USING (fp)
      WHERE w.doc_id >= $ProbeDocs),
    red0 AS (SELECT doc_id, text,
        regexp_replace(text, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g') AS after_email
      FROM docsplus),
    red1 AS (SELECT doc_id, text, after_email,
        regexp_replace(after_email, '${TextAnalysis.Ipv4Re}', '<IP>', 'g') AS after_ip
      FROM red0),
    red AS (SELECT doc_id,
        len(regexp_extract_all(text, '${TextAnalysis.EmailRe}'))
          + len(regexp_extract_all(after_email, '${TextAnalysis.Ipv4Re}'))
          + len(regexp_extract_all(after_ip, '${TextAnalysis.PhoneRe}')) AS n_pii,
        CAST(len(${tokensSqlOver(
          s"regexp_replace(after_ip, '${TextAnalysis.PhoneRe}', '<PHONE>', 'g')")}) AS BIGINT)
          AS n_ship_tokens
      FROM red1),
    spl AS (${splitAssignSqlOver("docsplus", "clu")}),
    cur AS (
      SELECT s.doc_id, s.n_copies, spl.source, spl.split,
        red.n_pii, red.n_ship_tokens,
        (c.doc_id IS NOT NULL) AS contaminated
      FROM surv s
      JOIN spl USING (doc_id)
      JOIN red USING (doc_id)
      LEFT JOIN contam c USING (doc_id))"""
  }

  /** Stages 5-6 (pack + card) over any per-doc frame CTE — the SQL
    * twin of [[releaseCardOf]], parameterized like the Spark side. */
  private def releaseCardSqlOver(cur: String): String = s"""
    blocks AS (
      SELECT split,
        CAST((sum(n_ship_tokens) - 1) // $BlockTokens + 1 AS BIGINT) AS split_blocks
      FROM $cur WHERE NOT contaminated GROUP BY split)
    SELECT $cur.split, $cur.source,
      count(CASE WHEN NOT contaminated THEN 1 END) AS n_docs,
      CAST(sum(CASE WHEN NOT contaminated THEN n_ship_tokens END) AS BIGINT) AS n_tokens,
      CAST(sum(CASE WHEN NOT contaminated THEN n_copies - 1 END) AS BIGINT) AS n_dupes_collapsed,
      count(CASE WHEN contaminated THEN 1 END) AS n_contaminated,
      CAST(sum(CASE WHEN NOT contaminated THEN n_pii END) AS BIGINT) AS n_redacted,
      blocks.split_blocks
    FROM $cur JOIN blocks USING (split)
    GROUP BY $cur.split, $cur.source, blocks.split_blocks
    ORDER BY $cur.split, $cur.source"""

  /** Same fragment assembly as [[releaseManifestOracle]], with every
    * corpus-reading fragment pointed at the seeded `docsplus` CTE and
    * the two new stages spliced between surv and the card. */
  val releaseManifestV2Oracle: String = s"""
    WITH RECURSIVE
    $releaseFrameCtes,
    ${releaseCardSqlOver("cur")}"""

  /** The ML release frame's CTE chain (the SQL twin of
    * [[releaseV2Frame]] at tokVersion 2): corpus seeded with
    * [[TextAnalysis.HoldoutDocs]], curation over v2 tokens
    * ([[gateMlCtesAfterToksOver]] + v2-token fingerprints), shipped
    * token counts re-tokenized with v2 — while winnow decontamination
    * and the cluster split run the v1 `toks` CTE the clusters fragment
    * defines, exactly like the Spark side. */
  private def releaseMlFrameCtes: String = {
    val benchSeed = WinnowSeeds.head
    s"""docsmlp AS (
      SELECT doc_id, source, text FROM documents
      ${ReleaseSeeds.map { case (id, src, t) =>
        s"UNION ALL SELECT CAST($id AS BIGINT), '$src', '${t.replace("'", "''")}'"
      }.mkString("\n      ")}
      ${TextAnalysis.HoldoutDocs.map { case (_, id, t) =>
        s"UNION ALL SELECT CAST($id AS BIGINT), 'holdout', '${t.replace("'", "''")}'"
      }.mkString("\n      ")}),
    ${Dedup.clustersCteSqlOver("docsmlp")},
    toksml AS (SELECT doc_id, ${TextFns.tokensScriptSqlOver("text")} AS t FROM docsmlp),
    ${gateMlCtesAfterToksOver("toksml")},
    keptml AS (
      SELECT doc_id, n_tokens FROM f
      WHERE NOT (f_short OR f_long OR coalesce(f_toklen, false) OR
                 coalesce(f_stop, false) OR f_rep2 OR f_rep3)),
    fp AS (
      SELECT d.doc_id, k.n_tokens,
        md5(array_to_string(${TextFns.tokensScriptSqlOver("d.text")}, ' ')) AS content_fp
      FROM docsmlp d JOIN keptml k USING (doc_id)),
    surv AS (
      SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      FROM fp GROUP BY content_fp),
    wtoks1 AS (
      SELECT doc_id, t FROM toks
      UNION ALL
      SELECT CAST(${benchSeed._1} AS BIGINT),
             ${tokensSqlOver(s"'${benchSeed._2.replace("'", "''")}'")}),
    ${TextAnalysis.winnowCtesFromToks("wtoks1")},
    probe AS (SELECT DISTINCT fp FROM wfp WHERE doc_id < $ProbeDocs),
    contam AS (
      SELECT DISTINCT w.doc_id FROM wfp w JOIN probe USING (fp)
      WHERE w.doc_id >= $ProbeDocs),
    red0 AS (SELECT doc_id, text,
        regexp_replace(text, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g') AS after_email
      FROM docsmlp),
    red1 AS (SELECT doc_id, text, after_email,
        regexp_replace(after_email, '${TextAnalysis.Ipv4Re}', '<IP>', 'g') AS after_ip
      FROM red0),
    red AS (SELECT doc_id,
        len(regexp_extract_all(text, '${TextAnalysis.EmailRe}'))
          + len(regexp_extract_all(after_email, '${TextAnalysis.Ipv4Re}'))
          + len(regexp_extract_all(after_ip, '${TextAnalysis.PhoneRe}')) AS n_pii,
        CAST(len(${TextFns.tokensScriptSqlOver(
          s"regexp_replace(after_ip, '${TextAnalysis.PhoneRe}', '<PHONE>', 'g')")}) AS BIGINT)
          AS n_ship_tokens
      FROM red1),
    spl AS (${splitAssignSqlOver("docsmlp", "clu")}),
    cur AS (
      SELECT s.doc_id, s.n_copies, spl.source, spl.split,
        red.n_pii, red.n_ship_tokens,
        (c.doc_id IS NOT NULL) AS contaminated
      FROM surv s
      JOIN spl USING (doc_id)
      JOIN red USING (doc_id)
      LEFT JOIN contam c USING (doc_id))"""
  }

  val releaseManifestMlOracle: String = s"""
    WITH RECURSIVE
    $releaseMlFrameCtes,
    ${releaseCardSqlOver("cur")}"""

  // ---- v3: source quotas composed into the release (round 19, the
  // r18 verdict's #7) ----------------------------------------------------
  // The v2 release ships EVERY kept doc; real releases weight sources
  // (a crawl dump must not drown the curated slices). v3 splices the
  // temperature-mix stage (26i's exact semantics: τ=0.5 weights over
  // the SHIPPABLE population, 6-dp decimal weight sum, md5-order
  // selection under a namespaced salt) between curate and the card:
  // the quota table is a |sources|-row broadcast agg, selection is the
  // WindowGroupLimit-friendly constant-bound rank filter — nothing
  // corpus-shaped beyond one rank window. Contaminated rows bypass the
  // quota (they ship nothing; the card's n_contaminated audit column
  // must still see them). Composed from the CACHED v2 frame — a v3
  // release run pays the curate→winnow→redact→split chain only cold.

  private[graft] val Rel3Budget = 200

  /** The quota stage over any per-doc release frame. */
  private[graft] def quotaStageOf(frame: DataFrame): DataFrame = {
    val cur = frame.cache()
    val kept = cur.filter(!col("contaminated"))
    val wtd = kept.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
      .withColumn("w", round(sqrt(col("cnt")), 6).cast("decimal(18,6)"))
    val tot = wtd.agg(sum(col("w")).as("tw"))
    val quotas = wtd.crossJoin(broadcast(tot))
      .withColumn("quota", greatest(lit(1),
        floor(lit(Rel3Budget) * col("w").cast("double") / col("tw").cast("double")).cast("int")))
      .select(col("source"), col("quota"))
    val w = Window.partitionBy(col("source")).orderBy(col("hk"), col("doc_id"))
    val sel = kept
      .withColumn("hk", md5(concat(lit("rel3:"), col("doc_id").cast("string"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= Rel3Budget) // constant bound → WindowGroupLimit
      .join(broadcast(quotas), Seq("source"))
      .filter(col("rk") <= col("quota"))
      .drop("hk", "rk", "quota")
    sel.unionByName(cur.filter(col("contaminated")))
  }

  def releaseManifestV3(spark: SparkSession, dir: String): DataFrame =
    releaseCardOf(quotaStageOf(
      releaseV2FrameCached(spark, dir).drop("ship_text")))

  val releaseManifestV3Oracle: String = s"""
    WITH RECURSIVE
    $releaseFrameCtes,
    rq_kept AS (SELECT doc_id, source FROM cur WHERE NOT contaminated),
    rq_cnt AS (SELECT source, count(*) AS cnt FROM rq_kept GROUP BY source),
    rq_w AS (SELECT source, CAST(round(sqrt(cnt), 6) AS DECIMAL(18,6)) AS w FROM rq_cnt),
    rq_tot AS (SELECT sum(w) AS tw FROM rq_w),
    rq_quota AS (SELECT source,
             greatest(1, CAST(floor($Rel3Budget * CAST(w AS DOUBLE) / CAST(tw AS DOUBLE)) AS INT)) AS quota
           FROM rq_w, rq_tot),
    rq_rank AS (SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5('rel3:' || CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
           FROM rq_kept),
    rq_sel AS (SELECT rq_rank.doc_id FROM rq_rank JOIN rq_quota USING (source) WHERE rq_rank.rk <= rq_quota.quota),
    rq_cur AS (
      SELECT cur.* FROM cur JOIN rq_sel USING (doc_id)
      UNION ALL
      SELECT cur.* FROM cur WHERE contaminated),
    ${releaseCardSqlOver("rq_cur")}"""

  // ---- incremental release (round 15) ----------------------------------
  // The nightly loop: a new batch arrives, is classified against the
  // persisted dedup catalog (19e's incrementalOf), the CLUSTER TABLE
  // EXTENDS by append — a dup/near-dup inherits its match's cluster_id,
  // a novel doc becomes its own singleton — and the manifest re-emits
  // over the grown corpus. Because split = hash(cluster_id) and
  // existing cluster rows are NEVER touched, no previously-released
  // document can move across split boundaries as the corpus grows (the
  // leak-safe invariant under growth), and a near-dup of a train doc
  // lands in train BY CONSTRUCTION, not by luck.
  //
  // Rebuild-equivalence contract (spec-proven): sequential nightly
  // releases emit the SAME manifest as one batch release over the
  // union, provided each batch is internally deduplicated and no batch
  // doc near-dups two different existing clusters (a bridge would merge
  // them in a full rebuild; incremental keeps the best match). Those
  // are the standard incremental-clustering preconditions — a
  // production pipeline runs the batch through pipelineCurate first
  // and reconciles bridges at the next full rebuild.
  //
  // Scale shape: O(batch) — incrementalOf's capped candidate join, one
  // batch-sized cluster lookup join, catalog append (never re-reads
  // the catalog), and the manifest re-emit (or a delta thereof).

  /** Extend a cluster table with one classified batch (verdicts =
    * [[Dedup.incrementalOf]] output). Existing rows pass through
    * untouched — the no-split-migration guarantee. */
  def extendClusters(clusters: DataFrame, verdicts: DataFrame): DataFrame = {
    val newRows = verdicts
      .join(clusters.select(col("doc_id").as("match_id"),
        col("cluster_id").as("mcid")), Seq("match_id"), "left")
      .select(col("doc_id"),
        coalesce(col("mcid"), col("doc_id")).as("cluster_id"))
    clusters.unionByName(newRows)
  }

  /** One nightly release step: classify → extend clusters → merge the
    * catalog → re-emit the manifest over the grown corpus. Returns
    * (manifest, catalogFp', catalogSh', clusters') — the state the
    * next night's step consumes. */
  def incrementalRelease(released: DataFrame, batch: DataFrame,
                         catalogFp: DataFrame, catalogSh: DataFrame,
                         clusters: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val verdicts = Dedup.incrementalOf(catalogFp, catalogSh, batch)
    val clusters2 = extendClusters(clusters, verdicts)
    val Seq(fp2, sh2) = Dedup.ShingleCatalog.merge(Seq(catalogFp, catalogSh), batch, verdicts)
    val manifest = releaseManifestOf(released.unionByName(batch), clusters2)
    (manifest, fp2, sh2, clusters2)
  }

  // ---- DSIR importance resampling (round 7) ----------------------------
  // Data Selection via Importance Resampling (Xie et al. 2023,
  // arXiv:2302.03169 — public paper): pick raw-corpus docs that LOOK like
  // a small high-quality target domain by importance weight under two
  // bag-of-hashed-ngrams LMs. The hashed feature space is the whole
  // trick at scale: vocabulary is unbounded, but B=4096 buckets is a
  // FIXED dimension, so both LM tables and the per-bucket log-ratio
  // table are always broadcastable no matter the corpus size — the
  // selection pass is one gram explode, one bucket-keyed aggregate, and
  // a broadcast join, never a vocab-sized shuffle.
  //
  //  - features: unigrams ∪ bigrams, bucket = md5-60-bit % B (portable
  //    hash arithmetic, same recipe as simhash/LSH).
  //  - LMs: Laplace-smoothed bucket distributions over the target slice
  //    (source ∈ {src0, src1} — the "trusted domain") and the raw rest.
  //    Both bucket-count columns come from ONE conditional aggregate
  //    over one explode (no second scan for the second LM).
  //  - log importance weight: Σ_g λ[bucket(g)] + n_g·C where
  //    λ[b] = log2(c_t+1) − log2(c_r+1) and C = log2(N_r+B) − log2(N_t+B)
  //    (the per-doc-constant normalizer, kept so logw is the honest
  //    weight, not just a ranking score). Per-bucket λ rounds to 8 dp,
  //    the per-doc sum uses the decimal-sum recipe, 4 dp out.
  //  - resampling: Gumbel-top-k (sampling without replacement ∝ exp of
  //    the weight) with the Gumbel drawn from the md5-uniform of the doc
  //    id — deterministic, rerunnable, engine-independent. Top-k plans
  //    as TakeOrderedAndProject (per-partition top-k, no global sort);
  //    the sample rank is numbered post-limit without a window.
  private[graft] val DsirBuckets = 4096
  private val DsirK = 25
  private val DsirTargetSources = Seq("src0", "src1")
  private val Ln2 = "0.6931471805599453"

  /** md5-hashed feature bucket of a gram column (portable arithmetic). */
  private[graft] def dsirBucket(g: Column): Column =
    conv(substring(md5(concat(lit("dsir:"), g)), 1, 15), 16, 10)
      .cast("long") % DsirBuckets

  /** (source, b): one hashed-gram occurrence row per corpus gram — the
    * LM training input. Deliberately NOT pre-aggregated per document:
    * the bucket-keyed aggregate below partial-aggregates each partition
    * to ≤B rows before its exchange, so grouping by (doc, bucket) first
    * would only manufacture a corpus-sized shuffle (measured: 107 s vs
    * 67 s at 1 M docs) to save work the combiner already elides. */
  private def dsirGrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), TextFns.tokens(col("text")).as("t"))
      .select(col("source"),
        explode(concat(col("t"), TextFns.shinglesFromTokens(col("t"), 2))).as("g"))
      .select(col("source"), dsirBucket(col("g")).as("b"))

  private def dsirIsTarget: Column = col("source").isin(DsirTargetSources: _*)

  /** The shared narrow scorer: adds (n_g, logw) to a frame carrying a
    * `text` column, from a dense B-element λ array (index = bucket) and
    * the per-gram constant C — both inlined as LITERALS so the decimal
    * fold stays inside whole-stage codegen (a joined 1-row model frame
    * was measured 3× slower: the BNLJ projection evaluates the fold
    * interpreted). No join, no shuffle, O(grams) per row with O(1)
    * model lookups — used verbatim by the batch sample and the
    * streaming ingest scorer (EventStream.dsirScore). */
  private[graft] def dsirScored(docs: DataFrame, lamArr: Seq[Double],
                                cBits: Column): DataFrame = {
    val lamLit = typedLit(lamArr)
    docs
      .withColumn("__t", TextFns.tokens(col("text")))
      .withColumn("__g", concat(col("__t"), TextFns.shinglesFromTokens(col("__t"), 2)))
      .withColumn("n_g", size(col("__g")).cast("long"))
      .withColumn("__s", aggregate(
        transform(col("__g"),
          g => element_at(lamLit, (dsirBucket(g) + 1).cast("int"))
            .cast("decimal(28,12)")),
        lit(BigDecimal(0)).cast("decimal(28,12)"),
        (acc, x) => (acc + x).cast("decimal(28,12)")))
      .withColumn("logw",
        round(col("__s").cast("double") + col("n_g") * cBits, 4))
      .drop("__t", "__g", "__s", "text")
  }


  /** The model in driver form for streaming ingest: the λ map (≤B
    * entries — driver-sized BY CONSTRUCTION, the fixed feature dimension
    * again) and the per-gram constant C = log2(N_r+B) − log2(N_t+B).
    * C is computed through Spark expressions so its rounding semantics
    * are identical to the batch plan's. Buckets absent from the map
    * carry λ = 0 (log2(0+1) − log2(0+1)) — the lookup must coalesce. */
  def dsirModel(spark: SparkSession, dir: String): (Map[Long, Double], Double) = {
    val (lamArr, nt, nr) = dsirTrain(spark, dir)
    val lamMap = lamArr.zipWithIndex.collect {
      case (l, b) if l != 0.0 => b.toLong -> l
    }.toMap
    val c = spark.range(1).select(
      round(log2(lit(nr) + DsirBuckets) - log2(lit(nt) + DsirBuckets), 8))
      .head.getDouble(0)
    (lamMap, c)
  }

  /** One training pass: the dense λ array (index = bucket; absent
    * buckets hold λ = 0, the exact zero-count value) plus the exact
    * (N_t, N_r) totals. λ values are computed by Spark's own
    * log2/round expressions before the ≤B-row collect, so they are
    * bit-identical to a fully in-plan formulation; a relational
    * densify (range ⟕ lm → collect_list) was measured at 1.5 s of
    * pure stage latency and rejected. */
  private[graft] def dsirTrain(spark: SparkSession, dir: String): (Seq[Double], Long, Long) = {
    val isTarget = dsirIsTarget
    val lmRows = dsirGrams(spark, dir).groupBy(col("b")).agg(
      count(when(isTarget, lit(1))).as("ct"),
      count(when(!isTarget, lit(1))).as("cr"))
      .select(col("b"),
        round(log2(col("ct") + 1) - log2(col("cr") + 1), 8).as("lam"),
        col("ct"), col("cr"))
      .collect()
    val a = Array.fill(DsirBuckets)(0.0)
    lmRows.foreach(r => a(r.getLong(0).toInt) = r.getDouble(1))
    (a.toSeq, lmRows.map(_.getLong(2)).sum, lmRows.map(_.getLong(3)).sum)
  }

  def dsirSample(spark: SparkSession, dir: String): DataFrame = {
    val B = DsirBuckets
    val isTarget = dsirIsTarget
    // The WHOLE model — dense λ array + the (nt, nr) totals — is ONE
    // driver row (≤B doubles + two longs, ~32 KB, driver-sized BY
    // CONSTRUCTION — the same justification as packSequences' subtotal
    // collect), materialized by one action over one pass of corpus
    // grams, then inlined as a LITERAL into the scoring scan. Scoring
    // is the shared narrow fold [[dsirScored]]: the only exchange in
    // the whole operator carries ≤B×partitions LM rows. Designs
    // measured and rejected on the way here (1 M-doc stress): per-gram
    // rows joined to λ (corpus×grams shuffle, 107 s); a broadcast MAP
    // column (Spark map data has no hash index — element_at is a
    // linear scan, O(B) per gram); a crossJoined 1-row model frame
    // (the BroadcastNestedLoopJoin projection runs the decimal fold
    // OUTSIDE whole-stage codegen — 37 s where the literal runs in
    // ~13 s). Equality: decimal addition is exact, so the fold equals
    // the aggregation-order-free sum the oracle computes; absent
    // buckets densify to λ = 0, the exact value of a zero-count
    // bucket.
    // λ is COMPUTED BY SPARK's own log2/round expressions (so its
    // values are bit-identical to a fully in-plan formulation), then
    // the ≤B (b, λ, ct, cr) rows are collected in one action and
    // densified in Scala — a relational densify (range ⟕ lm →
    // collect_list) was measured at 1.5 s of pure stage latency at
    // sf0.1. Totals are exact integer sums, safe on the driver.
    val (lamArr, nt, nr) = dsirTrain(spark, dir)
    val cBits = round(log2(lit(nr) + B) - log2(lit(nt) + B), 8)
    // docs with no grams carry no weight. The guard is a single-tokenize
    // predicate BEFORE the scorer: an equivalent post-hoc `n_g > 0`
    // filter gets pushed below the scoring projections and re-inlines
    // the tokenize+shingle tree 4× per row inside the filter condition
    // (measured: 24 s of the 30 s at 1 M docs). Zero grams ⟺ zero
    // tokens, since bigrams only ever add to the gram array.
    dsirScored(
      Tables.documents(spark, dir).filter(!isTarget)
        .filter(size(TextFns.tokens(col("text"))) > 0)
        .select(col("doc_id"), col("source"), col("text")),
      lamArr, cBits)
      .select(col("doc_id"), col("source"), col("logw"))
      .withColumn("score", round(col("logw") +
        expr(s"-ln(-ln(cast(conv(substring(md5(concat('dsirg:', cast(doc_id as string))), 1, 15), 16, 10) as double) / 1152921504606846976.0)) / $Ln2"), 6))
      .transform(Sampling.topNumbered(_, Seq(col("score").desc, col("doc_id")), DsirK, "rk"))
      .orderBy(col("rk"))
  }

  val dsirSampleOracle: String = {
    val B = DsirBuckets
    val tgt = DsirTargetSources.map(s => s"'$s'").mkString(", ")
    s"""
    WITH toks AS (SELECT doc_id, source, $tokensSql AS t FROM documents),
    grams AS (
      SELECT doc_id, source, unnest(t) AS g FROM toks
      UNION ALL
      SELECT doc_id, source,
             unnest(list_transform(range(len(t)-1), i -> array_to_string(t[i+1:i+2], ' '))) AS g
      FROM toks WHERE len(t) >= 2),
    db AS (SELECT doc_id, source,
             CAST(concat('0x', substr(md5('dsir:' || g), 1, 15)) AS BIGINT) % $B AS b,
             count(*) AS c
           FROM grams GROUP BY 1, 2, 3),
    lm AS (SELECT b,
             CAST(coalesce(sum(CASE WHEN source IN ($tgt) THEN c END), 0) AS BIGINT) AS ct,
             CAST(coalesce(sum(CASE WHEN source NOT IN ($tgt) THEN c END), 0) AS BIGINT) AS cr
           FROM db GROUP BY b),
    lam AS (SELECT b, round(log2(ct + 1) - log2(cr + 1), 8) AS lam FROM lm),
    tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM lm),
    per AS (SELECT db.doc_id, db.source, CAST(sum(c) AS BIGINT) AS n_g,
              CAST(sum(CAST(c AS DECIMAL(10,0)) * CAST(lam AS DECIMAL(20,12))) AS DOUBLE) AS s
            FROM db JOIN lam USING (b)
            WHERE db.source NOT IN ($tgt)
            GROUP BY db.doc_id, db.source),
    w AS (SELECT doc_id, source,
            round(s + n_g * round(log2(nr + $B) - log2(nt + $B), 8), 4) AS logw
          FROM per, tot),
    sc AS (SELECT doc_id, source, logw,
             round(logw + -ln(-ln(
               CAST(CAST(concat('0x', substr(md5('dsirg:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
                 / 1152921504606846976.0)) / $Ln2, 6) AS score
           FROM w),
    top AS (SELECT doc_id, source, logw, score FROM sc
            ORDER BY score DESC, doc_id LIMIT $DsirK)
    SELECT doc_id, source, logw, score,
      CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rk
    FROM top ORDER BY rk"""
  }

  // ---- trained quality classifier (round 9) ----------------------------
  // The single most-used curation component real LLM pipelines ship
  // that resampling alone doesn't cover: GPT-3 (Brown et al. 2020,
  // appendix A) and the LLaMA line filter the crawl with a CLASSIFIER
  // trained to tell a trusted reference corpus from raw crawl text —
  // every incoming document gets a score and a keep verdict, not just a
  // resampled subset. Ours is multinomial Naive Bayes over the SAME
  // hashed bag-of-ngrams feature space as DSIR — deliberately: the NB
  // feature log-likelihood-ratio in bits IS [[dsirScored]]'s logw
  // (per-gram λ[b] = log2(ct+1)−log2(cr+1) plus the per-gram Laplace
  // normalizer C), so training is [[dsirTrain]] verbatim (one gram
  // aggregate, fixed B-dimension model) plus ONE doc-count aggregate
  // for the class prior, and scoring is the shared narrow decimal fold
  // — no join, no shuffle, streaming-safe. Per doc:
  //  - nb_bits  = logw + log2(D_t)−log2(D_r): posterior log-odds of
  //    "target-like" in bits (4 dp, the honest calibrated quantity);
  //  - margin   = logw / n_g: the length-normalized per-gram margin —
  //    raw log-odds grow with doc length (the standard NB artifact), so
  //    thresholding pipelines use the per-gram rate (6 dp);
  //  - keep     = nb_bits > 0 (posterior favors the reference class).
  // Unlike [[dsirSample]] it scores EVERY document (target slice
  // included — a classifier must rank its own training domain high;
  // the direction spec asserts exactly that).
  private[graft] def classPriorBits(spark: SparkSession, dir: String): Double =
    Tables.documents(spark, dir)
      .agg(count(when(dsirIsTarget, lit(1))).as("dt"),
           count(when(!dsirIsTarget, lit(1))).as("dr"))
      .select(round(log2(col("dt")) - log2(col("dr")), 8)).head.getDouble(0)

  /** Verdict columns over a [[dsirScored]] frame — ONE definition of
    * the posterior/margin/keep arithmetic for the batch entry and the
    * streaming ingest scorer (EventStream.classifierScore). */
  private[graft] def classifierVerdict(scored: DataFrame, priorBits: Double): DataFrame =
    scored
      .withColumn("nb_bits", round(col("logw") + lit(priorBits), 4))
      .withColumn("margin", round(col("logw") / col("n_g"), 6))
      .withColumn("keep", col("nb_bits") > 0)

  /** The trained model in driver form for streaming ingest: DSIR's
    * (λ map, C) plus the class-prior bits. ≤B+2 doubles — driver-sized
    * by construction, same argument as [[dsirModel]]. */
  def qualityClassifierModel(spark: SparkSession, dir: String): (Map[Long, Double], Double, Double) = {
    val (lamMap, c) = dsirModel(spark, dir)
    (lamMap, c, classPriorBits(spark, dir))
  }

  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val B = DsirBuckets
    val (lamArr, nt, nr) = dsirTrain(spark, dir)
    val cBits = round(log2(lit(nr) + B) - log2(lit(nt) + B), 8)
    val prior = classPriorBits(spark, dir)
    // same pre-scorer zero-gram guard as dsirSample (zero grams ⟺ zero
    // tokens; a post-hoc n_g filter re-inlines the gram tree into the
    // pushed-down condition)
    classifierVerdict(
      dsirScored(
        Tables.documents(spark, dir)
          .filter(size(TextFns.tokens(col("text"))) > 0)
          .select(col("doc_id"), col("source"), col("text")),
        lamArr, cBits),
      prior)
      .select(col("doc_id"), col("source"), col("n_g"),
        col("nb_bits"), col("margin"), col("keep"))
      .orderBy(col("doc_id"))
  }

  val qualityClassifierOracle: String = {
    val B = DsirBuckets
    val tgt = DsirTargetSources.map(s => s"'$s'").mkString(", ")
    s"""
    WITH toks AS (SELECT doc_id, source, $tokensSql AS t FROM documents),
    grams AS (
      SELECT doc_id, source, unnest(t) AS g FROM toks
      UNION ALL
      SELECT doc_id, source,
             unnest(list_transform(range(len(t)-1), i -> array_to_string(t[i+1:i+2], ' '))) AS g
      FROM toks WHERE len(t) >= 2),
    db AS (SELECT doc_id, source,
             CAST(concat('0x', substr(md5('dsir:' || g), 1, 15)) AS BIGINT) % $B AS b,
             count(*) AS c
           FROM grams GROUP BY 1, 2, 3),
    lm AS (SELECT b,
             CAST(coalesce(sum(CASE WHEN source IN ($tgt) THEN c END), 0) AS BIGINT) AS ct,
             CAST(coalesce(sum(CASE WHEN source NOT IN ($tgt) THEN c END), 0) AS BIGINT) AS cr
           FROM db GROUP BY b),
    lam AS (SELECT b, round(log2(ct + 1) - log2(cr + 1), 8) AS lam FROM lm),
    tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM lm),
    pri AS (SELECT round(log2(count(CASE WHEN source IN ($tgt) THEN 1 END))
                 - log2(count(CASE WHEN source NOT IN ($tgt) THEN 1 END)), 8) AS prior
            FROM documents),
    per AS (SELECT db.doc_id, db.source, CAST(sum(c) AS BIGINT) AS n_g,
              CAST(sum(CAST(c AS DECIMAL(10,0)) * CAST(lam AS DECIMAL(20,12))) AS DOUBLE) AS s
            FROM db JOIN lam USING (b)
            GROUP BY db.doc_id, db.source),
    w AS (SELECT doc_id, source, n_g,
            round(s + n_g * round(log2(nr + $B) - log2(nt + $B), 8), 4) AS logw
          FROM per, tot)
    SELECT doc_id, source, n_g,
      round(logw + prior, 4) AS nb_bits,
      round(logw / n_g, 6) AS margin,
      (round(logw + prior, 4) > 0) AS keep
    FROM w, pri ORDER BY doc_id"""
  }

  // ---- codepoint-garble gate (round 20) -------------------------------
  // The segmentation-backed quality rule the unspaced scripts were
  // missing: the ML gate (26j3) correctly made the English-calibrated
  // length/stopword rules vacuous on CJK docs — but that leaves
  // codepoint GARBLE (OCR noise, mojibake, shuffled scrapes) with no
  // vocabulary-shaped rule at all, since per-codepoint tokens carry no
  // length signal. Under the fixture-derived BPE segmenter
  // (TextAnalysis.segUnits) real prose re-uses its language's learned
  // units and compresses well below the threshold while a codepoint
  // permutation of the SAME multiset cannot — the measured gap on the
  // committed fixtures is wide (prose ≤ 0.83, garble twins well above
  // the 0.90 threshold; margins asserted in the spec). COVERAGE SCOPE, documented
  // honestly: the rule is only meaningful for languages the seed
  // dictionary covers (ja today — any added unspaced seed line joins
  // automatically); in production the gate keys on nb_lang_id ∈
  // seeded languages before applying it. In the gated corpus every
  // unspaced-heavy doc IS a dictionary language or its garble twin,
  // so the entry exercises exactly the deployable scope.
  private[graft] val GarbleMinCp = 24
  private[graft] val GarbleRatioMax = 0.90

  def garbleGate(spark: SparkSession, dir: String): DataFrame = {
    val flag = col("n_cp") >= GarbleMinCp && col("ratio") > GarbleRatioMax
    TextAnalysis.segStatsOf(TextAnalysis.mlDocs3(spark, dir))
      .select(col("doc_id"), col("n_cp"), col("ratio"),
        (!flag).as("keep"),
        when(flag, "cp_garble").otherwise("").as("reason"))
      .orderBy(col("doc_id"))
  }

  /** The PRODUCTION form: the garble rule scoped by certified
    * language — a doc is flagged only when `nb_lang_id` certifies it
    * as a language the seg dictionary was trained on
    * ([[TextAnalysis.SegCoveredLangs]], fixture-derived). An
    * UNCOVERED unspaced-script doc legitimately fails to compress
    * without being garble — unscoped, it would be a guaranteed false
    * kill; scoped, it rides through untouched (spec: a ru-certified
    * doc carrying a non-compressing Han run keeps here while the
    * unscoped rule fires on it). Docs too short for lang-id (no
    * grams, no row) stay unflagged — the rule needs a certificate.
    * One narrow join of two per-doc frames; the model rides as
    * broadcast literals, the seg fold as the distinct-run join —
    * nothing here shuffles corpus-shaped data twice. */
  def garbleGateScopedOf(docs: DataFrame): DataFrame = {
    val lang = TextAnalysis.nbLangIdOf(docs)
      .select(col("doc_id"), col("nb_lang"))
    val flag = col("n_cp") >= GarbleMinCp && col("ratio") > GarbleRatioMax &&
      coalesce(col("nb_lang").isin(TextAnalysis.SegCoveredLangs: _*), lit(false))
    TextAnalysis.segStatsOf(docs)
      .join(lang, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_cp"), col("ratio"), col("nb_lang"),
        (!flag).as("keep"),
        when(flag, "cp_garble").otherwise("").as("reason"))
  }

  val garbleGateOracle: String = s"""
    WITH docsg AS (${TextAnalysis.mlDocs3CteSql}),
    ${TextAnalysis.segCtesOver("docsg")},
    gper AS (SELECT doc_id,
        CAST(sum(length(run)) AS BIGINT) AS n_cp,
        CAST(sum(len(sym)) AS BIGINT) AS n_units
      FROM sseg GROUP BY doc_id),
    g AS (SELECT d.doc_id, COALESCE(s.n_cp, 0) AS n_cp,
        CASE WHEN COALESCE(s.n_cp, 0) > 0
          THEN round(CAST(s.n_units AS DOUBLE) / s.n_cp, 4) END AS ratio
      FROM (SELECT doc_id FROM docsg) d LEFT JOIN gper s USING (doc_id))
    SELECT doc_id, n_cp, ratio,
      NOT (n_cp >= $GarbleMinCp AND ratio > $GarbleRatioMax) AS keep,
      CASE WHEN n_cp >= $GarbleMinCp AND ratio > $GarbleRatioMax
        THEN 'cp_garble' ELSE '' END AS reason
    FROM g ORDER BY doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curation_garble_gate" -> (garbleGate _),
    "curation_quality_classifier" -> (qualityClassifier _),
    "curation_stratified_mix" -> (stratifiedMix _),
    "curation_priority_sample" -> (prioritySample _),
    "curation_contamination"  -> (contamination _),
    "curation_winnow_contamination" -> (winnowContamination _),
    "curation_pack_sequences" -> (packSequences _),
    "curation_pack_bpe"      -> (packBpe _),
    "curation_chunk_dedup"   -> (chunkDedup _),
    "curation_cdc_chunk_dedup" -> (cdcChunkDedup _),
    "curation_substring_dedup" -> (substringDedup _),
    "curation_line_dedup"    -> (lineDedup _),
    "curation_temperature_mix" -> (temperatureMix _),
    "curation_quality_gate"  -> (qualityGate _),
    "curation_quality_gate_ml" -> (qualityGateMl _),
    "curation_pipeline"      -> (pipelineCurate _),
    "curation_split"         -> (split _),
    "curation_split_leak_safe" -> (splitLeakSafe _),
    "curation_split_leak_safe_composed" -> (splitLeakSafeComposed _),
    "curation_dsir_sample"   -> (dsirSample _),
    "curation_corpus_stats"  -> (corpusStats _),
    "curation_domain_gate"   -> (DomainCuration.domainGate _),
    "curation_release_manifest" -> (releaseManifest _),
    "curation_release_manifest_v2" -> (releaseManifestV2 _),
    "curation_release_v2_composed" -> (releaseManifestV2Composed _),
    "curation_release_v3"    -> (releaseManifestV3 _),
    "curation_release_ml"    -> (releaseManifestMl _),
    "curation_shard_export"  -> (ShardExport.shardExport _),
    "curation_url_dedup"     -> (DomainCuration.urlDedup _))

  val oracle: Map[String, String] = Map(
    "curation_garble_gate" -> garbleGateOracle,
    "curation_quality_classifier" -> qualityClassifierOracle,
    "curation_stratified_mix" -> stratifiedMixOracle,
    "curation_priority_sample" -> prioritySampleOracle,
    "curation_contamination"  -> contaminationOracle,
    "curation_winnow_contamination" -> winnowContaminationOracle,
    "curation_pack_sequences" -> packSequencesOracle,
    "curation_pack_bpe"      -> packBpeOracle,
    "curation_chunk_dedup"   -> chunkDedupOracle,
    "curation_cdc_chunk_dedup" -> cdcChunkDedupOracle,
    "curation_substring_dedup" -> substringDedupOracle,
    "curation_line_dedup"    -> lineDedupOracle,
    "curation_temperature_mix" -> temperatureMixOracle,
    "curation_quality_gate"  -> qualityGateOracle,
    "curation_quality_gate_ml" -> qualityGateMlOracle,
    "curation_pipeline"      -> pipelineCurateOracle,
    "curation_split"         -> splitOracle,
    "curation_split_leak_safe" -> splitLeakSafeOracle,
    "curation_split_leak_safe_composed" -> splitLeakSafeOracle,
    "curation_dsir_sample"   -> dsirSampleOracle,
    "curation_corpus_stats"  -> corpusStatsOracle,
    "curation_domain_gate"   -> DomainCuration.domainGateOracle,
    "curation_release_manifest" -> releaseManifestOracle,
    "curation_release_manifest_v2" -> releaseManifestV2Oracle,
    "curation_release_v2_composed" -> releaseManifestV2Oracle,
    "curation_release_v3"    -> releaseManifestV3Oracle,
    "curation_release_ml"    -> releaseManifestMlOracle,
    "curation_shard_export"  -> ShardExport.shardExportOracle,
    "curation_url_dedup"     -> DomainCuration.urlDedupOracle)
}
