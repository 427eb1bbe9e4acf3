package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.StringType
import graft.sources.Tables
import graft.functions.{TextFns, VecNative}

/** Retrieval ranking over the `documents` corpus (SURVEY §2e/§2d) — the
  * query side the reference's IR datasets (CISI, wikIR — api.py's whole
  * subject matter) exist FOR, and the retrieval stage of a RAG pipeline:
  *
  *  - BM25 top-k (Robertson–Spärck Jones; the Lucene idf variant):
  *    classic lexical ranking, k1 = 1.2, b = 0.75.
  *  - Hybrid reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009):
  *    RRF over the BM25 list and the embedding-cosine list — the
  *    standard lexical+dense ensemble, score = Σ 1/(60 + rank).
  *
  * Probe convention (shared with the `sim_topk_*` family): queries are
  * the first [[NQ]] ids; a BM25 query is the DISTINCT term set of that
  * probe doc, and candidates exclude the probe itself.
  *
  * Scale shape: everything query-sized (term sets, per-term idf, both
  * ranked lists, the fusion) lives on the driver; the ONLY corpus-sized
  * work is one tokenize scan for corpus stats and one explode whose
  * output is filtered against the literal query vocabulary BEFORE the
  * tf aggregate — so the shuffle carries query-term POSTINGS, not the
  * corpus vocabulary. df and the contributions come from two narrow
  * passes over those postings (the BM25 core below). At 100 TB with a
  * fixed query set this is a pruned scan plus postings-sized
  * aggregates; nothing all-pairs, nothing vocab-wide.
  *
  * Cross-engine exactness (the proven §2e recipe): idf is a difference
  * of log2 over INTEGERS — the +0.5 Lucene smoothing is multiplied
  * through: idf = log2(2N+2) − log2(2·df+1) ≡ log2((N+1)/(df+0.5)) —
  * rounded to 8 dp; the tf factor clears k1/b/avgdl denominators into
  * one exact-integer ratio (avgdl = T/N ⇒ numerator 22·tf·T, denominator
  * 10·tf·T + 3·T + 9·dl·N; every product < 2^53 so both engines IEEE-
  * divide identical operands), rounded to 8 dp; per-term contributions
  * round to 6 dp and sum as DECIMAL(28,12). No transcendental ever takes
  * a non-integer argument.
  */
object Retrieval {

  private val tokensSql =
    "list_filter(regexp_split_to_array(lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')), '\\s+'), x -> x <> '')"

  private val NQ = 5 // probe queries: distinct terms of docs 0..NQ-1
  private val K = 5 // final list depth (gated)
  private[graft] val FuseK = 20 // per-system list depth feeding RRF
  private val RrfC = 60 // the standard RRF constant

  // ---- the BM25 serve core -------------------------------------------
  // Every BM25 entry (the inline plans, the stored-index serve, the
  // streaming hybrid serve) ranks through the same two Spark passes over
  // the query-vocabulary postings (doc_id, dl, term, tf): a df pass that
  // counts each batch term's postings per partition (no exchange), and a
  // contribution pass that emits each (query, doc) pair's per-term
  // contribution as exact DECIMAL(28,12) units, sums them in one
  // groupBy(q, doc_id) — the pass's only exchange — and keeps a
  // partition-local top list per query. The driver merges both passes
  // (Similarity §3e5's `localTop`/`mergeTop`/`topkFrame`), so the answer
  // is a local relation and no cache outlives the call. The arithmetic
  // is the SQL twins' exactly (property-spec'd in Bm25ArithSpec).

  /** A double as the unscaled value of Spark's `CAST(d AS DECIMAL(28,12))`. */
  private[graft] def units12(d: Double): Long = VecNative.units(d, 12)

  /** `CAST(sum AS DOUBLE)` of a DECIMAL(·,12) sum held as units. */
  private[graft] def fromUnits12(u: Long): Double = VecNative.fromUnits(u, 12)

  /** Spark's `log2`: StrictMath.log(x) / StrictMath.log(2). */
  private def log2d(x: Long): Double = StrictMath.log(x.toDouble) / StrictMath.log(2)

  /** idf = round(log2(2N+2) − log2(2·df+1), 8). */
  private[graft] def bm25Idf(df: Long, nDocs: Long): Double =
    VecNative.roundTo(log2d(2L * nDocs + 2L) - log2d(df * 2L + 1L), 8)

  /** The tf factor, one exact-integer ratio divided as doubles:
    * round(22·tf·T / (10·tf·T + 3·T + 9·dl·N), 8). The products overflow
    * exactly where Spark's ANSI long arithmetic fails. */
  private[graft] def bm25TfPart(tf: Long, dl: Long, nDocs: Long, tToks: Long): Double = {
    import java.lang.Math.{addExact, multiplyExact}
    val num = multiplyExact(tf, multiplyExact(22L, tToks))
    val den = addExact(addExact(multiplyExact(tf, multiplyExact(10L, tToks)),
      multiplyExact(3L, tToks)), multiplyExact(dl, multiplyExact(9L, nDocs)))
    VecNative.roundTo(num.toDouble / den.toDouble, 8)
  }

  /** One posting's contribution round(idf · tf part, 6) as DECIMAL(28,12) units. */
  private[graft] def bm25Contrib(idf: Double, tfPart: Double): Long =
    units12(VecNative.roundTo(idf * tfPart, 6))

  /** A pair's score from its summed contribution units: round(·, 4). */
  private[graft] def bm25Score(units: Long): Double = VecNative.roundTo(fromUnits12(units), 4)

  /** What a contribution task reads: the query ids, the corpus scalars,
    * and per batch term its idf and the indices of the querying queries. */
  private final case class Bm25Task(qids: Array[Long], nDocs: Long, tToks: Long,
                                    terms: Map[String, (Double, Array[Int])])

  /** The BM25 serve core: top-`k` (qid, rn, doc_id, score) per query of
    * the (qid, term) batch `qterms` (duplicates allowed) over `qposts`,
    * the postings of the batch vocabulary, as a local relation in
    * (qid, rn) order; a query never ranks its own doc_id. */
  private def bm25Core(qposts: DataFrame, qterms: Seq[(Long, String)],
                       nDocs: Long, tToks: Long, k: Int): DataFrame = {
    val spark = qposts.sparkSession
    import spark.implicits._
    val pairs = qterms.distinct
    val qids = pairs.map(_._1).distinct.toIndexedSeq
    val qIndex = qids.zipWithIndex.toMap
    val lists =
      if (pairs.isEmpty) Map.empty[Int, Seq[Similarity.Scored]]
      else {
        // df pass: per-partition term counts, summed on the driver
        val df = qposts.select(col("term")).as[String]
          .mapPartitions { terms =>
            val n = scala.collection.mutable.HashMap.empty[String, Long]
            terms.foreach(t => n(t) = n.getOrElse(t, 0L) + 1L)
            n.iterator
          }
          .collect()
          .groupMapReduce(_._1)(_._2)(_ + _)
        val terms = pairs.groupMap(_._2)(p => qIndex(p._1)).collect {
          case (t, qs) if df.contains(t) => t -> (bm25Idf(df(t), nDocs), qs.toArray)
        }
        val task = spark.sparkContext.broadcast(Bm25Task(qids.toArray, nDocs, tToks, terms))
        val contrib = qposts
          .select(col("doc_id").cast("long"), col("dl").cast("long"), col("term"),
            col("tf").cast("long"))
          .as[(Long, Long, String, Long)]
          .mapPartitions { rows =>
            val t = task.value
            rows.flatMap { case (doc, dl, term, tf) =>
              t.terms.get(term).iterator.flatMap { case (idf, qs) =>
                val u = bm25Contrib(idf, bm25TfPart(tf, dl, t.nDocs, t.tToks))
                qs.iterator.collect { case qi if t.qids(qi) != doc => (qi, doc, u) }
              }
            }
          }
        val top = contrib.toDF("q", "doc_id", "u")
          .groupBy(col("q"), col("doc_id")).agg(sum(col("u")))
          .as[(Int, Long, Long)]
          .mapPartitions(rows => Similarity.localTop(
            rows.map { case (q, doc, u) => (q, doc, bm25Score(u)) }, k))
          .collect()
        task.destroy()
        Similarity.mergeTop(top, k)
      }
    Similarity.topkFrame(spark, qids, lists, "score")
      .select(col("qid"), col("rn"), col("nid").as("doc_id"), col("score"))
  }

  /** BM25 top-`k` per probe query: (qid, rn, doc_id, score). */
  def bm25Ranked(spark: SparkSession, dir: String, k: Int): DataFrame =
    bm25RankedFrom(
      Tables.documents(spark, dir)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("ts")),
      col("doc_id") < NQ, k)

  /** The inline BM25 plan over ANY tokenized (doc_id, ts) frame with
    * `isQuery` marking the probe docs — the tokenizer/corpus seam the
    * multilingual entry plugs into (round 19). */
  private def bm25RankedFrom(toks0: DataFrame, isQuery: org.apache.spark.sql.Column,
                             k: Int): DataFrame = {
    // TOKENIZE ONCE (r20 optimization, guide §1.2/§2.3): the tokenized
    // frame has three consumers — the corpus-scalar aggregate, the query
    // term sets and the postings explode. Uncached, each consumer
    // re-derived the full tokenize scan (the seg-token variant re-ran
    // the whole segmentation chain per consumer — measured 7.1 s for
    // text_bm25_topk_seg at sf0.1, ~3 full corpus passes); cached, the corpus is tokenized exactly
    // once and released as soon as the query-sized result materializes
    // (the pipelineCurateOf precedent). The cache spills to disk past
    // storage memory; the production serve path remains the stored
    // postings index (bm25TopkIndexed), which never re-tokenizes.
    val toks = toks0
      .select(col("doc_id"), col("ts"), size(col("ts")).as("dl"))
      .cache()
    // corpus scalars N (docs) and T (tokens): a 2-value driver collect
    // (coalesce: an empty corpus yields T=0, not a NULL→getLong NPE);
    // this action also materializes the tokenize cache
    val st = toks.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head
    // query term sets: the probe-doc rows of the cache, on the driver
    val qterms = termRows(toks.filter(isQuery)
      .select(col("doc_id").as("qid"), explode(col("ts")).as("term")))
    val vocab = qterms.map(_._2).distinct
    // postings of query-vocabulary terms ONLY: the literal IN filter
    // runs before the tf aggregate, so the one corpus shuffle is
    // postings-sized. Cached: the core's df and contribution passes
    // both read it.
    val qposts = toks
      .select(col("doc_id"), col("dl"), explode(col("ts")).as("term"))
      .filter(if (vocab.isEmpty) lit(false) else col("term").isInCollection(vocab))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .cache()
    val out = bm25Core(qposts, qterms, st.getLong(0), st.getLong(1), k)
    // the answer is a local relation: both caches are done
    qposts.unpersist()
    toks.unpersist()
    out
  }

  def bm25Topk(spark: SparkSession, dir: String): DataFrame =
    bm25Ranked(spark, dir, K)

  /** Multilingual BM25 (round 19, closing the r18 "BM25 can't index
    * CJK" finding): the SAME inline plan over the script-aware v2
    * tokenizer and the seeded multilingual corpus (documents ∪ the 20
    * held-out docs ∪ the 20 seed-prose docs). Probes are the held-out
    * docs — a Japanese query's per-codepoint terms now carry idf and
    * tf like any term, and it retrieves the same-language prose the
    * reference tokenizer structurally cannot even index (v1 sees ZERO
    * tokens in it — spec'd). */
  def bm25TopkMl(spark: SparkSession, dir: String): DataFrame =
    bm25RankedFrom(
      TextAnalysis.mlDocs2(spark, dir)
        .select(col("doc_id"), TextFns.tokensScript(col("text")).as("ts")),
      col("doc_id").between(MlQidLo, MlQidHi), K)

  // the held-out docs' id range, DERIVED from the fixture (not a
  // hardcoded -9020..-9001): adding a language to lang_holdout.tsv
  // must widen the probe set on both engines, not silently exclude
  // the new doc from it (r19 advice). The same derived literals are
  // spliced into the oracle predicate below.
  private val MlQidHi = TextAnalysis.HoldoutDocs.map(_._2).max
  private val MlQidLo = TextAnalysis.HoldoutDocs.map(_._2).min

  /** BM25 over SEGMENTED tokens (round 20, v3 = the 25k4 upgrade): the
    * ML entry indexes unspaced scripts per-codepoint, so a two-
    * codepoint Japanese word matches any doc containing EITHER
    * character — unigram recall, no precision. v3 tokens are the v2
    * word runs plus the 23d segmentation UNITS of each unspaced run
    * (the per-codepoint singletons they replace are dropped): a
    * learned multi-codepoint unit is one term with its own df/tf, so
    * a ja query term matches only true occurrences of that word
    * piece — exactly how production CJK analyzers feed Lucene. Tokens
    * are a bag here, so the unit/word interleaving order is
    * irrelevant; dl = |words| + |units| on both engines. Same inline
    * plan, same probes (the held-out docs), same scoring tail. */
  def bm25TopkSeg(spark: SparkSession, dir: String): DataFrame = {
    val docs = TextAnalysis.mlDocs2(spark, dir)
    // word runs extracted directly (r20): one word-run-pattern scan
    // instead of the full-alternation scan + a per-token interpreted
    // rlike filter — token-for-token identical (TextFns.WordRunPattern
    // scaladoc; SegWordsSpec), oracle unchanged
    val words = docs.select(col("doc_id"),
      TextFns.tokensScriptWords(col("text")).as("ws"))
    val toks = words
      .join(TextAnalysis.segUnitsOf(docs), Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat(col("ws"),
          coalesce(col("us"), array().cast("array<string>"))).as("ts"))
    bm25RankedFrom(toks, col("doc_id").between(MlQidLo, MlQidHi), K)
  }

  val bm25TopkSegOracle: String = s"""
    WITH docsml2 AS (${TextAnalysis.mlDocs2CteSql}),
    ${TextAnalysis.segCtesOver("docsml2")},
    tlw AS (SELECT doc_id,
        list_filter(${TextFns.tokensScriptSqlOver("text")},
          x -> NOT regexp_matches(x, '^${TextFns.UnspacedBlockClass}$$')) AS ws
      FROM docsml2),
    tlu AS (SELECT doc_id, flatten(list(sym ORDER BY ri)) AS us
      FROM sseg GROUP BY doc_id),
    tl AS (SELECT w.doc_id,
        list_concat(w.ws, COALESCE(u.us, CAST([] AS VARCHAR[]))) AS ts
      FROM tlw w LEFT JOIN tlu u USING (doc_id)),
    ${bm25OracleCtesFromTl(s"doc_id BETWEEN $MlQidLo AND $MlQidHi", K)}
    SELECT qid, rn, doc_id, score FROM textr ORDER BY qid, rn"""

  // ---- materialized postings index (round 10) -------------------------
  // The inline plan's one irreducible cost is the full tokenize scan per
  // query BATCH — the honest bound ScaleRetrieval measures at 43 s for
  // 1M docs. A production retrieval service amortizes it: build the
  // postings + stats tables ONCE, persist them, and serve every later
  // query batch against the stored index — batch 2+ never touches
  // `text` again (the `rrfFuseOf`/`splitLeakSafeOf` composability
  // pattern). At 100 TB the index is the thing you shuffle-partition by
  // `term` and store bucketed; each query batch then reads only the
  // term-buckets its broadcast vocabulary names.

  /** Build the full BM25 index from a (doc_id, text) frame:
    * (postings(doc_id, dl, term, tf), stats(n_docs, t_toks)) — both
    * persistable; `bm25Of` serves any query batch from them. */
  def bm25IndexOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("ts"))
      .select(col("doc_id"), col("ts"), size(col("ts")).as("dl"))
    val postings = toks
      .select(col("doc_id"), col("dl"), explode(col("ts")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // coalesce: sum over zero rows is NULL — an empty corpus must yield
    // t_toks = 0, not an NPE in bm25Of's getLong (the same graceful
    // empty-corpus degradation the PQ/IVFPQ index paths guarantee)
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("t_toks"))
    (postings, stats)
  }

  /** BM25 top-`k` over a MATERIALIZED index: `postings`/`stats` are
    * [[bm25IndexOf]] outputs (typically parquet-roundtripped), `qterms`
    * is any (qid, term) query batch. Per-term df on the vocabulary
    * restriction equals corpus df (the filter is on `term` alone), so
    * scores are bit-identical to the inline plan's. */
  def bm25Of(postings: DataFrame, stats: DataFrame, qterms: DataFrame,
             k: Int): DataFrame = {
    val st = stats.head
    bm25OfTerms(postings, st.getLong(0), st.getLong(1), termRows(qterms), k)
  }

  /** A (qid, term) batch on the driver — batch-sized (the vocabulary
    * already had to fit a literal IN filter); duplicates are harmless. */
  private def termRows(qterms: DataFrame): Seq[(Long, String)] = {
    import qterms.sparkSession.implicits._
    qterms.select(col("qid").cast("long"), col("term")).as[(Long, String)].collect().toSeq
  }

  /** A query batch's distinct terms, on the driver. */
  private def vocabOf(qterms: DataFrame): Seq[String] =
    qterms.select(col("term")).distinct().collect().map(_.getString(0)).toSeq

  /** [[bm25Of]] over a collected batch and the corpus scalars. */
  private def bm25OfTerms(postings: DataFrame, nDocs: Long, tToks: Long,
                          qterms: Seq[(Long, String)], k: Int): DataFrame = {
    val vocab = qterms.map(_._2).distinct
    // The vocabulary restriction is a LITERAL IN filter on the postings
    // scan (round 13 — was a broadcast join, which reaches every posting
    // file). Over the term-bucketed store ([[Postings]]) Spark prunes
    // buckets: a batch naming t distinct terms reads at most t of the
    // store's buckets; over a flat frame it is the same semi filter as
    // before (inner join on a distinct key == IN on that key).
    val qposts = (if (vocab.isEmpty) postings.filter(lit(false))
                  else postings.filter(col("term").isInCollection(vocab)))
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    bm25Core(qposts, qterms, nDocs, tToks, k)
  }

  /** Incremental index maintenance — the `dedup_incremental` catalog
    * pattern applied to the retrieval index: postings rows are per-doc
    * independent and the corpus scalars are additive, so absorbing a
    * new document batch is ONE batch-sized tokenize + a union/sum —
    * never a rebuild. df is derived from postings AT QUERY TIME
    * (`bm25Of`'s aggregate), so no stored statistic goes stale.
    * Returns the merged (postings, stats); spec proves merged ==
    * built-from-union exactly. Contract: `newDocs` doc_ids are disjoint
    * from the indexed corpus (dedup upstream — the same precondition
    * `dedup_incremental`'s catalog append states); an overlapping id
    * would double-count its postings. At 100 TB this is the
    * nightly-crawl shape: O(batch) work per ingest, the stored index
    * only ever appends. */
  def bm25IndexMerge(postings: DataFrame, stats: DataFrame,
                     newDocs: DataFrame): (DataFrame, DataFrame) = {
    val (np, ns) = bm25IndexOf(newDocs)
    val mergedStats = stats.unionByName(ns)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("t_toks")).as("t_toks"))
    (postings.unionByName(np), mergedStats)
  }

  /** Gated twin of `text_bm25_topk` served from an mtime-keyed
    * materialized index (same oracle — identical output, different
    * provenance): warm runs skip the tokenize scan entirely. */
  def bm25TopkIndexed(spark: SparkSession, dir: String): DataFrame = {
    val (postings, _) = bm25Store(spark, dir)
    val qterms = postings.filter(col("doc_id") < NQ)
      .select(col("doc_id").as("qid"), col("term")) // already distinct per (doc, term)
    bm25ServeStored(spark, dir, qterms, K)
  }

  /** The postings store every stored-index serve shares
    * ([[bm25TopkIndexed]] batches, the streaming hybrid serve): postings
    * bucketed by term, so [[bm25Of]]'s literal vocabulary
    * IN filter reads only the buckets a batch's terms hash into, and the
    * corpus `stats` side table. The key folds the tokenizer version
    * (postings are token rows); K and NQ apply at serve time and do not
    * key it. ~8k docs of postings per bucket: 16 buckets at the gated
    * SFs (the floor), 128 at the 1 M-doc ScaleRetrieval store. */
  private[graft] val Postings = new Layout.BucketedStore("bm25_index", "bm25",
      "documents", s"_tok${TextFns.TokVersion}", 8192L, "term", "postings")(
    (spark, dir, g) => {
      val (p, s) = bm25IndexOf(Tables.documents(spark, dir))
      s.write.parquet(s"$g/stats")
      p
    })

  /** The production (postings, stats) pair for `dir`'s corpus. */
  private[graft] def bm25Store(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val store = Postings.open(spark, dir)
    (store.bucketed, statsOf(store))
  }

  /** A postings store's `stats` side table, read with its stated schema
    * (no schema-inference job per batch). */
  private def statsOf(store: Layout.ServeStore): DataFrame =
    store.bucketed.sparkSession.read.schema("n_docs BIGINT, t_toks BIGINT")
      .parquet(s"${store.gen}/stats")

  /** (N, T) of committed postings generation dirs, least recently used
    * first. A committed generation dir never changes, so its scalars
    * stay valid; the bound keeps a serve loop over many generations
    * small (the `Similarity.storedModel` memo). */
  private val storedStats =
    new java.util.LinkedHashMap[String, (Long, Long)](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, (Long, Long)]): Boolean =
        size() > 8
    }

  private def storedScalars(store: Layout.ServeStore): (Long, Long) =
    storedStats.synchronized {
      Option(storedStats.get(store.gen)).getOrElse {
        val st = statsOf(store).head
        val nt = (st.getLong(0), st.getLong(1))
        storedStats.put(store.gen, nt)
        nt
      }
    }

  /** Term-bucket count of `dir`'s postings store. */
  private[graft] def postingsBuckets(spark: SparkSession, dir: String): Int =
    Postings.buckets(spark, dir)

  /** Distinct term buckets a query vocabulary hashes into — the store's
    * driver-side rule over the collected vocabulary. */
  private[graft] def vocabBucketCoverage(qterms: DataFrame, nb: Int): Long =
    Layout.bucketsOf(vocabOf(qterms), StringType, nb).distinct.size.toLong

  /** Adaptive stored-index serve: the batch, collected once, picks the
    * bucketed postings or their flat twin ([[Layout.ServeStore.pick]])
    * by its vocabulary, which becomes the literal IN filter of the
    * postings scan. Answers are layout-invariant either way
    * (require-gated in ScaleRetrieval, spec-asserted in RetrievalSpec);
    * only the scan strategy moves. The answer is a local relation;
    * per batch the corpus scalars cost no read. */
  def bm25ServeStored(spark: SparkSession, dir: String, qterms: DataFrame,
                      k: Int): DataFrame = {
    val store = Postings.open(spark, dir)
    val batch = termRows(qterms)
    val (nDocs, tToks) = storedScalars(store)
    bm25OfTerms(store.pick(batch.map(_._2).distinct, StringType), nDocs, tToks, batch, k)
  }

  /** The bm25 CTE stack, parameterized by list depth (shared with the
    * hybrid oracle). Yields a relation (qid, rn, doc_id, score). */
  private def bm25OracleCtes(k: Int): String =
    bm25OracleCtesOver("documents", tokensSql, s"doc_id < $NQ", k)

  /** The oracle CTE chain over any (docs relation, token-expression,
    * probe predicate) — the SQL twin of [[bm25RankedFrom]]'s seam; the
    * default-argument assembly is byte-identical to the historical
    * `bm25OracleCtes` string, so every composed oracle is unchanged. */
  private def bm25OracleCtesOver(docs: String, tokSql: String,
                                 qPred: String, k: Int): String = s"""
    tl AS (SELECT doc_id, $tokSql AS ts FROM $docs),
    ${bm25OracleCtesFromTl(qPred, k)}"""

  /** The scoring chain AFTER a prebuilt `tl(doc_id, ts)` CTE — split
    * out (round 20) so a token list that needs its own CTE chain (the
    * seg-unit tokenizer, whose units come from the island-alternation
    * merges, not a scalar expression) reuses the identical scoring
    * tail. */
  private def bm25OracleCtesFromTl(qPred: String, k: Int): String = s"""
    toks AS (SELECT doc_id, ts, len(ts) AS dl FROM tl),
    stats AS (SELECT count(*) AS n, sum(dl) AS t FROM toks),
    posts AS (
      SELECT doc_id, dl, term, count(*) AS tf
      FROM (SELECT doc_id, dl, unnest(ts) AS term FROM toks)
      GROUP BY doc_id, dl, term),
    qterms AS (SELECT DISTINCT qid, term FROM
      (SELECT doc_id AS qid, unnest(ts) AS term FROM toks WHERE $qPred)),
    dfreq AS (SELECT term, count(*) AS df FROM posts
      WHERE term IN (SELECT term FROM qterms) GROUP BY term),
    qidf AS (SELECT qid, term, round(log2(2*n + 2) - log2(2*df + 1), 8) AS idf
      FROM qterms JOIN dfreq USING (term), stats),
    cand AS (SELECT qid, doc_id,
        round(idf * round(CAST(tf * 22 * t AS DOUBLE) /
          CAST(tf * 10 * t + 3 * t + dl * 9 * n AS DOUBLE), 8), 6) AS c
      FROM posts JOIN qidf USING (term), stats
      WHERE doc_id <> qid),
    scored AS (SELECT qid, doc_id,
        round(CAST(sum(CAST(c AS DECIMAL(28,12))) AS DOUBLE), 4) AS score
      FROM cand GROUP BY qid, doc_id),
    textr AS (SELECT qid,
        CAST(row_number() OVER (PARTITION BY qid
          ORDER BY score DESC, doc_id) AS INT) AS rn, doc_id, score
      FROM scored QUALIFY rn <= $k)"""

  val bm25TopkOracle: String = s"""
    WITH ${bm25OracleCtes(K)}
    SELECT qid, rn, doc_id, score FROM textr ORDER BY qid, rn"""

  val bm25TopkMlOracle: String = s"""
    WITH docsml2 AS (${TextAnalysis.mlDocs2CteSql}),
    ${bm25OracleCtesOver("docsml2", TextFns.tokensScriptSqlOver("text"),
      s"doc_id BETWEEN $MlQidLo AND $MlQidHi", K)}
    SELECT qid, rn, doc_id, score FROM textr ORDER BY qid, rn"""

  /** Composable fusion over any materialized rank lists — (qid, id, rn)
    * frames — so production reuses per-system retrieval outputs instead
    * of recomputing them per fusion (the `splitLeakSafeOf` pattern).
    * The lists are batch × depth sized, so they collect to the driver
    * (no job for a local relation) and fuse there: contributions
    * round(1/(C+rank), 8) summed as DECIMAL(28,12) units, rounded to 8
    * dp — identical rank lists fuse identically. (qid, rn, id, rrf) by
    * (rrf desc, id), a local relation in (qid, rn) order. */
  def rrfFuseOf(lists: Seq[DataFrame], k: Int): DataFrame = {
    val spark = lists.head.sparkSession
    import spark.implicits._
    val fused = lists.flatMap(_.select(col("qid").cast("long"), col("id").cast("long"),
        col("rn").cast("int")).as[(Long, Long, Int)].collect())
      .groupMapReduce(r => (r._1, r._2))(r => rrfTerm(r._3))(_ + _)
    val qids = fused.keys.map(_._1).toIndexedSeq.distinct
    val qIndex = qids.zipWithIndex.toMap
    val scored = fused.map { case ((qid, id), u) => (qIndex(qid), id, rrfScore(u)) }.toArray
    Similarity.topkFrame(spark, qids, Similarity.mergeTop(scored, k), "rrf")
      .select(col("qid"), col("rn"), col("nid").as("id"), col("rrf"))
  }

  /** One list's contribution round(1/(C+rn), 8) as DECIMAL(28,12) units. */
  private[graft] def rrfTerm(rn: Int): Long =
    units12(VecNative.roundTo(1.0 / (rn + RrfC).toDouble, 8))

  /** A fused score from its summed units: round(·, 8). */
  private[graft] def rrfScore(units: Long): Double = VecNative.roundTo(fromUnits12(units), 8)

  /** Hybrid retrieval: RRF over the BM25 and embedding-cosine lists
    * (depth [[FuseK]] each), fused top-[[K]]: (qid, rn, id, rrf). */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame =
    rrfFuseOf(Seq(
      bm25Ranked(spark, dir, FuseK)
        .select(col("qid"), col("doc_id").as("id"), col("rn")),
      Similarity.cosineRanked(spark, dir, NQ, FuseK)
        .select(col("qid"), col("nid").as("id"), col("rn"))), K)

  /** Gated twin of `sim_hybrid_rrf` over MATERIALIZED rank lists (the
    * `splitLeakSafeOf` pattern, same oracle): each retrieval system's
    * ranked list persists once per corpus version (mtime-keyed), and
    * the fusion pays only `rrfFuseOf` — rank-list-sized work, no
    * retrieval recompute per fusion. At 100 TB each system's list is a
    * stored table the ensemble (and every re-weighting experiment over
    * it) reuses. */
  def hybridRrfComposed(spark: SparkSession, dir: String): DataFrame = {
    val mt = Seq("documents", "embeddings")
      .map(t => Layout.stateTag(spark, s"$dir/$t.parquet")).mkString("_")
    // key = data version + constants BAKED INTO the stored lists: their
    // depth (FuseK) and the tokenizer behind the BM25 leg. RrfC/K apply
    // at fuse time over the stored lists, so they don't key the cache.
    val keyDir = s"${Layout.cacheRoot(spark)}/rrf_lists/${dir.replaceAll("[^A-Za-z0-9.]", "_")}_$mt" +
      s"_f${FuseK}_tok${TextFns.TokVersion}"
    // completeness gates on the LAST-written list ("vec"): a crashed
    // build leaves an incomplete generation → rebuild, never a torn
    // cache. Generation protocol (round 18): own gen-dir + _CURRENT
    val base = Layout.generation(spark, keyDir, "vec") { g =>
      bm25Ranked(spark, dir, FuseK)
        .select(col("qid"), col("doc_id").as("id"), col("rn"))
        .write.parquet(s"$g/text")
      Similarity.cosineRanked(spark, dir, NQ, FuseK)
        .select(col("qid"), col("nid").as("id"), col("rn"))
        .write.parquet(s"$g/vec")
    }
    // read with the stored lists' schema: no inference job per fusion
    rrfFuseOf(Seq("text", "vec").map(l =>
      spark.read.schema("qid BIGINT, id BIGINT, rn INT").parquet(s"$base/$l")), K)
  }

  val hybridRrfOracle: String = s"""
    WITH ${bm25OracleCtes(FuseK)},
    vecr AS (
      SELECT q.vec_id AS qid, c.vec_id AS id,
        CAST(row_number() OVER (PARTITION BY q.vec_id
          ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                         CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id)
          AS INT) AS rn
      FROM embeddings q JOIN embeddings c
        ON q.vec_id < $NQ AND c.vec_id <> q.vec_id
      QUALIFY rn <= $FuseK),
    unioned AS (
      SELECT qid, doc_id AS id,
        round(CAST(1 AS DOUBLE) / (rn + $RrfC), 8) AS c FROM textr
      UNION ALL
      SELECT qid, id, round(CAST(1 AS DOUBLE) / (rn + $RrfC), 8) AS c FROM vecr),
    fused AS (SELECT qid, id,
        round(CAST(sum(CAST(c AS DECIMAL(28,12))) AS DOUBLE), 8) AS rrf
      FROM unioned GROUP BY qid, id)
    SELECT qid, CAST(row_number() OVER (PARTITION BY qid
        ORDER BY rrf DESC, id) AS INT) AS rn, id, rrf
    FROM fused QUALIFY rn <= $K ORDER BY qid, rn"""

  // ---- MMR diversified re-ranking (Carbonell & Goldstein 1998) --------
  // The standard retrieve-then-diversify stage: greedily select K of the
  // top-FuseK cosine candidates, each round's winner maximizing
  // λ·relevance − (1−λ)·max-similarity-to-already-selected. Greedy
  // selection is inherently sequential in K but K is small and fixed —
  // each round is ONE narrow argmax over the broadcast-sized candidate
  // set (the Lloyd/CC bounded-driver-loop pattern; candidate sets stay
  // ≤ FuseK rows per query at ANY corpus size because the retrieval leg
  // in front already cut them down). Determinism: cosines and MMR
  // scores round to 6 dp, ties break on candidate id, every round.
  private val MmrNum = 7 // λ = 0.7 (×10 to keep literals exact)

  /** Spark-exact `round(x, 6)` for the in-task greedy (the CharStats
    * replication recipe from round 18): BigDecimal.valueOf + HALF_UP,
    * NaN/Infinity passed through — property-spec'd against the Round
    * expression in MmrGreedySpec. */
  private[graft] def mmrRound6(x: Double): Double = VecNative.round6(x)

  /** Spark-exact `dot6` (the [[graft.functions.DotProduct]] sequential
    * left fold, then [[mmrRound6]]) — same summation order, bit-identical. */
  private[graft] def mmrDot6(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    mmrRound6(s)
  }

  /** The greedy MMR selection over ONE query's candidate list
    * (nid, cos, vec), already sorted by nid — K rounds of
    * argmax(λ·cos − (1−λ)·max-sim-to-selected), ties to the lowest
    * nid, every score 6-dp-rounded exactly like the Spark expressions
    * ([[mmrRound6]]/[[mmrDot6]]). Scores compare in Spark's double
    * order (NaN greatest, -0.0 == 0.0), the order of the window's sort
    * and of the penalty's max. Emits (nid, mmr, rn). */
  private[graft] def mmrGreedy(
      cands: Array[(Long, Double, Seq[Double])]): Seq[(Long, Double, Int)] = {
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Double, Int)]()
    val selVecs = scala.collection.mutable.ArrayBuffer[Seq[Double]]()
    val taken = new Array[Boolean](cands.length)
    for (r <- 1 to K if picked.length == r - 1) {
      var bi = -1
      var bScore = 0.0
      var bNid = 0L
      var i = 0
      while (i < cands.length) {
        if (!taken(i)) {
          val (nid, cos, vec) = cands(i)
          // round 1 ranks by raw cos (the window's key); later rounds by
          // the rounded mmr — exactly the two orderings the per-round
          // Spark windows used
          val score =
            if (r == 1) cos
            else {
              var pen = Double.NegativeInfinity
              selVecs.foreach { sv =>
                val d = mmrDot6(vec, sv)
                if (SQLOrderingUtil.compareDoubles(d, pen) > 0) pen = d
              }
              mmrRound6((MmrNum * cos - (10 - MmrNum) * pen) / 10d)
            }
          val c = if (bi < 0) 1 else SQLOrderingUtil.compareDoubles(score, bScore)
          if (c > 0 || (c == 0 && nid < bNid)) {
            bi = i; bScore = score; bNid = nid
          }
        }
        i += 1
      }
      if (bi >= 0) {
        val (nid, cos, vec) = cands(bi)
        taken(bi) = true
        selVecs += vec
        picked += ((nid,
          if (r == 1) mmrRound6(MmrNum * cos / 10d) else bScore, r))
      }
    }
    picked.toSeq
  }

  /** r20 optimization (guide §2.4/§5): the greedy loop used to run as
    * K−1 driver-coordinated Spark rounds — each an anti-join + pair
    * join + aggregate + window + collect, a full cluster barrier per
    * rank (~10 jobs for K=5). Candidate sets are ≤ [[FuseK]] rows per
    * query by construction (the retrieval leg already cut them), so
    * the whole selection fits ONE task per query: shuffle the
    * candidates once by qid and run the greedy in-task. Scores are
    * bit-identical — [[mmrRound6]]/[[mmrDot6]] replicate the Round and
    * DotProduct expressions exactly (property- and differential-spec'd
    * in MmrGreedySpec; the unrolled DuckDB oracle stays the gate). At
    * scale this turns O(K) full-cluster barriers into one exchange of
    * batch×FuseK rows. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = Similarity.emb(spark, dir)
      .select(col("vec_id"), col("vec"))
    val picked = Similarity.cosineRanked(spark, dir, NQ, FuseK)
      .select(col("qid"), col("nid"), col("cos"))
      .join(all.select(col("vec_id").as("nid"), col("vec")), "nid")
      .select(col("qid"), col("nid"), col("cos"), col("vec"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // sort by nid for a deterministic scan order (iterator order is
        // partition-dependent); the greedy itself ties on lowest nid
        val cs = it.map(t => (t._2, t._3, t._4)).toArray.sortBy(_._1)
        mmrGreedy(cs).iterator.map { case (nid, mmr, rn) => (qid, nid, mmr, rn) }
      }
      .toDF("qid", "nid", "mmr", "rn")
    picked.orderBy(col("qid"), col("rn"))
  }

  /** Exact twin: the greedy rounds unroll as MATERIALIZED CTEs (an
    * inlined round-k CTE referenced twice re-expands the tree per
    * round); pair cosines use the raw-embedding formulation the
    * brute-force oracle already proves equal to dot-of-normalized. */
  val mmrRerankOracle: String = {
    val cos = (a: String, b: String) =>
      s"round(list_cosine_similarity(CAST($a.embedding AS DOUBLE[]), CAST($b.embedding AS DOUBLE[])), 6)"
    val rounds = (2 to K).map { r =>
      s"""
    sel$r AS MATERIALIZED (
      SELECT qid, nid, mmr, $r AS rn FROM (
        SELECT p.qid, p.nid,
          round(($MmrNum * p.cos - ${10 - MmrNum} * p.pen) / 10, 6) AS mmr,
          row_number() OVER (PARTITION BY p.qid ORDER BY
            round(($MmrNum * p.cos - ${10 - MmrNum} * p.pen) / 10, 6) DESC,
            p.nid) AS rnk
        FROM (
          SELECT c.qid, c.nid, c.cos, max(${cos("e1", "e2")}) AS pen
          FROM mcands c
          JOIN selu${r - 1} s ON s.qid = c.qid
          JOIN embeddings e1 ON e1.vec_id = c.nid
          JOIN embeddings e2 ON e2.vec_id = s.nid
          WHERE NOT EXISTS (SELECT 1 FROM selu${r - 1} x
                            WHERE x.qid = c.qid AND x.nid = c.nid)
          GROUP BY c.qid, c.nid, c.cos) p)
      WHERE rnk = 1),
    selu$r AS MATERIALIZED (
      SELECT qid, nid FROM selu${r - 1} UNION ALL SELECT qid, nid FROM sel$r),"""
    }.mkString
    s"""
    WITH mcands AS MATERIALIZED (
      SELECT q.vec_id AS qid, c.vec_id AS nid, ${cos("q", "c")} AS cos
      FROM embeddings q JOIN embeddings c
        ON q.vec_id < $NQ AND c.vec_id <> q.vec_id
      QUALIFY CAST(row_number() OVER (PARTITION BY q.vec_id
        ORDER BY ${cos("q", "c")} DESC, c.vec_id) AS INT) <= $FuseK),
    sel1 AS MATERIALIZED (
      SELECT qid, nid, round($MmrNum * cos / 10, 6) AS mmr, 1 AS rn FROM (
        SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid
          ORDER BY cos DESC, nid) AS rnk FROM mcands)
      WHERE rnk = 1),
    selu1 AS MATERIALIZED (SELECT qid, nid FROM sel1),$rounds
    allsel AS (${(1 to K).map(r => s"SELECT * FROM sel$r").mkString(" UNION ALL ")})
    SELECT qid, CAST(rn AS INT) AS rn, nid, mmr FROM allsel ORDER BY qid, rn"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bm25_topk" -> (bm25Topk _),
    "text_bm25_topk_ml" -> (bm25TopkMl _),
    "text_bm25_topk_seg" -> (bm25TopkSeg _),
    "text_bm25_topk_indexed" -> (bm25TopkIndexed _),
    "sim_hybrid_rrf" -> (hybridRrf _),
    "sim_hybrid_rrf_composed" -> (hybridRrfComposed _),
    "sim_mmr_rerank" -> (mmrRerank _))

  val oracle: Map[String, String] = Map(
    "text_bm25_topk" -> bm25TopkOracle,
    "text_bm25_topk_ml" -> bm25TopkMlOracle,
    "text_bm25_topk_seg" -> bm25TopkSegOracle,
    "text_bm25_topk_indexed" -> bm25TopkOracle,
    "sim_hybrid_rrf" -> hybridRrfOracle,
    "sim_hybrid_rrf_composed" -> hybridRrfOracle,
    "sim_mmr_rerank" -> mmrRerankOracle)
}
