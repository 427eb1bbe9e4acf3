package graft.tools
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, BatchCatalog, Curation, Dedup, DomainCuration, Retrieval, ShardExport, Similarity, TextAnalysis}

/** Two decades of scale, one representative per operator FAMILY
  * (round 15 — grown from the 3-headliner round-12 form): synthesize a
  * FULL sf10 corpus (100× sf0.1 — 60 M lineitem, 10 M events, 500 k
  * documents, 200 k embeddings) with ScaleSf1's FK-consistent recipe,
  * time each representative at sf0.1 / sf1 / sf10, and write
  * `BENCH_sf10_r20.json` with per-decade seconds + the sf1→sf10 growth
  * factor. The gate: zero superlinear growth (factor ≤ 12 for one
  * decade, the slack covering fixed per-query orchestration).
  *
  * Families NOT run here, and why the record still covers them:
  *  - ANN serve/store (ivf_pq_indexed, bm25_indexed, ivf2…): the
  *    require-gated scale tools already run their stores at 1-2 M
  *    rows — LARGER than sf10's own 200 k embeddings (ScaleIvfPq 1 M,
  *    ScaleAnnK 1 M, ScaleRetrieval 1 M docs); `sim_topk_ivf` here
  *    carries the family's inline shape.
  *  - pairwise dedup beyond LSH (clusters, ngram_jaccard, semantic):
  *    ScaleDedup runs the cluster pipeline at 1 M docs (2× sf10);
  *    `dedup_minhash_lsh` + `dedup_exact` carry the banded-join and
  *    hash-collapse shapes.
  *  - crawl hygiene: ScaleCrawl runs 2 M urls + 200 k WARC docs (4×
  *    sf10's documents); `curation_url_dedup` carries the shape.
  *  - streaming: rate-independent of corpus SF (ScaleStream drives
  *    volume); composed manifests: parts all present here, and the sf1
  *    record tracks the composition (1.05× at r14).
  *
  * Replication decorrelation: documents suffix every token per rep (no
  * cross-rep shingle collisions); embeddings cyclic-shift by rep mod
  * dim and NEGATE for reps ≥ dim (shift and negation both preserve
  * within-rep geometry exactly, while cross-rep cosines decorrelate —
  * without the negation reps r and r+64 would be exact duplicates at
  * dim 64).
  */
object ScaleSf10 {

  val Dir = "target/tmp/sf10"

  def ensureCorpus(spark: SparkSession): Unit = {
    val src = ScaleSf1.Src
    val dir = Dir
    def rep = explode(sequence(lit(0), lit(99)))
    def scaled(k: org.apache.spark.sql.Column) = k * 100 + col("__rep")
    if (!(new java.io.File(s"$dir/lineitem.parquet").exists() &&
          new java.io.File(s"$dir/documents.parquet").exists() &&
          new java.io.File(s"$dir/embeddings.parquet").exists() &&
          new java.io.File(s"$dir/region.parquet").exists())) {
      new java.io.File(dir).mkdirs()
      def build(name: String, keyCols: Seq[String])(extra: DataFrame => DataFrame = identity): Unit = {
        val base = spark.read.parquet(s"$src/$name.parquet").withColumn("__rep", rep)
        val remapped = keyCols.foldLeft(base)((df, k) => df.withColumn(k, scaled(col(k))))
        extra(remapped).drop("__rep")
          .repartition(64).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
      build("customer", Seq("c_custkey"))()
      build("supplier", Seq("s_suppkey"))()
      build("part",     Seq("p_partkey"))()
      build("orders",   Seq("o_orderkey", "o_custkey"))()
      build("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))()
      build("documents", Seq("doc_id")) { df =>
        df.withColumn("text",
            concat_ws(" ", transform(graft.functions.TextFns.tokens(col("text")),
              t => concat(t, lit("_r"), col("__rep")))))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      build("events", Seq("event_id", "user_id"))()
      build("embeddings", Seq("vec_id")) { df =>
        val dim = size(col("embedding"))
        val sh = col("__rep") % dim
        val shifted = concat(
          slice(col("embedding"), sh + 1, dim - sh),
          slice(col("embedding"), lit(1), sh))
        df.withColumn("embedding",
          when(col("__rep") < dim, shifted)
            .otherwise(transform(shifted, x => -x)))
      }
      Seq("nation", "region").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)

    ScaleSf1.ensureCorpus(spark)
    ensureCorpus(spark)

    // one representative per family; comments name the family
    val reps: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q1_pricing_summary"     -> (Analytics.q1PricingSummary _),  // scan+agg
      "q9_profit_by_nation"    -> (Analytics.q9ProfitByNation _),  // multi-join
      "q_events_kmv"           -> (Analytics.eventsKmv _),         // events/sketch
      "dedup_exact"            -> (Dedup.exact _),                 // hash collapse
      "dedup_minhash_lsh"      -> (Dedup.minhashLsh _),            // banded LSH join
      "text_token_histogram"   -> (TextAnalysis.tokenHistogram _), // token agg
      "text_tfidf_topterms"    -> (TextAnalysis.tfidfTopTerms _),  // df join + topk
      "text_nb_lang_id"        -> (TextAnalysis.nbLangId _),       // gram NB (r15)
      "curation_quality_gate"  -> (Curation.qualityGate _),        // gate aggs
      "curation_pack_sequences"-> (Curation.packSequences _),      // prefix sum
      "curation_shard_export"  -> (ShardExport.shardExport _),     // shards (r15)
      "curation_url_dedup"     -> (DomainCuration.urlDedup _),     // crawl hygiene
      "sim_topk_bruteforce"    -> (Similarity.topkBruteforce _),   // exact ANN
      "sim_topk_ivf"           -> (Similarity.topkIvf _),          // cell-pruned ANN
      // serving/release chains (round 18, VERDICT r17 #3): the warm
      // pass below builds each decade's stores COLD (disclosed by the
      // warm-pass wall); the timed rows are the production WARM serves
      "release_v2_composed"    -> (Curation.releaseManifestV2Composed _), // release chain
      "bm25_topk_indexed"      -> (Retrieval.bm25TopkIndexed _),   // stored-postings serve
      "sim_topk_ivf_pq_indexed"-> (Similarity.topkIvfPqIndexed _)) // stored-ANN warm serve

    val decades = Seq(ScaleSf1.Src -> "sf01", ScaleSf1.Dir -> "sf1", Dir -> "sf10")
    val times = scala.collection.mutable.Map.empty[(String, String), Double]
    decades.foreach { case (d, tag) =>
      reps.foreach { case (_, fn) =>   // codegen warm pass at this SF
        try fn(spark, d).count() catch { case t: Throwable =>
          System.err.println(s"[sf10] warm failed at $tag: ${t.getMessage}") }
      }
      spark.catalog.clearCache()
      reps.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val n = fn(spark, d).count()
        val sec = (System.nanoTime() - t0) / 1e9
        times((name, tag)) = sec
        println(f"[sf10] $tag%-5s $name%-24s $sec%8.2f s  rows=$n")
        spark.catalog.clearCache()
      }
    }
    // ---- the nightly refresh as a per-decade row (round 18) -----------
    // Bootstrap state (catalog + cluster table + shard release) is built
    // ONCE per decade corpus and cached under target/tmp; the timed part
    // is one 1 000-doc night — classify vs catalog, extend clusters,
    // append, refreshSplitShards. O(batch) means the sf1→sf10 growth of
    // this row should sit near 1×, the strongest scale claim in the
    // record (ScaleNightly gates the same loop's correctness at 250 k).
    import spark.implicits._
    val stops = typedLit(Seq("the", "and", "of", "to", "in", "is", "that"))
    def mkBatch(n: Int): DataFrame =
      spark.range(90000000L, 90000000L + n).select(col("id").as("doc_id"),
          when(col("id") % 2 === 0, "web").otherwise("wiki").as("source"),
          concat_ws(" ", flatten(transform(sequence(lit(0), lit(19)), k =>
            array(
              element_at(stops, pmod(k, lit(7)) + 1),
              concat(lit("w"), pmod(hash(col("id") * 40 + k * 2), lit(99991))),
              concat(lit("w"), pmod(hash(col("id") * 40 + k * 2 + 1), lit(99991)))))))
            .as("text"))
    def refreshNight(dir: String, tag: String): Double = {
      val root = s"target/tmp/refresh_night_$tag"
      val (fpPath, shPath, cluPath, out) =
        (s"$root/fp", s"$root/sh", s"$root/clusters", s"$root/release")
      if (!new java.io.File(s"$root/_BOOTSTRAPPED").exists()) {
        val t0 = System.nanoTime()
        val corpus = spark.read.parquet(s"$dir/documents.parquet")
        val (fp0, sh0) = Dedup.buildCatalog(corpus.select(col("doc_id"), col("text")))
        BatchCatalog.write(fp0, fpPath, 0L); BatchCatalog.write(sh0, shPath, 0L)
        Dedup.clustersCached(spark, dir).write.mode("overwrite").parquet(cluPath)
        Curation.releaseShards(spark, dir, out)
        new java.io.File(s"$root/_BOOTSTRAPPED").createNewFile()
        println(f"[sf10] $tag refresh bootstrap (once): ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      val batch = mkBatch(1000)
      val t0 = System.nanoTime()
      // fixed batchId=1: re-runs take the crash-retry path and land
      // byte-identical — the timed work is the same classify/extend/
      // append/refresh either way
      val Seq(catFp, catSh) = Dedup.ShingleCatalog.read(spark, Seq(fpPath, shPath), Some(1L))
      val verdicts = Dedup.incrementalOf(catFp, catSh,
        batch.select(col("doc_id"), col("text"))).cache()
      val clusters2 = Curation.extendClusters(spark.read.parquet(cluPath), verdicts).cache()
      Dedup.ShingleCatalog.append(Seq(fpPath, shPath),
        batch.select(col("doc_id"), col("text")), verdicts, 1L)
      Curation.releaseShardsRefresh(batch, clusters2, dir, out)
      verdicts.unpersist(); clusters2.unpersist()
      (System.nanoTime() - t0) / 1e9
    }
    decades.foreach { case (d, tag) =>
      val sec = refreshNight(d, tag)
      times(("refresh_night", tag)) = sec
      println(f"[sf10] $tag%-5s refresh_night            $sec%8.2f s  (1000-doc night)")
      spark.catalog.clearCache()
    }

    def f3(x: Double) = f"$x%.3f"
    val allNames = reps.map(_._1) :+ "refresh_night"
    val entries = allNames.map { name =>
      val (a, b, c) = (times((name, "sf01")), times((name, "sf1")), times((name, "sf10")))
      val g = if (b > 0) c / b else 0.0
      (name, a, b, c, g)
    }
    val worst = entries.map(_._5).max
    val qs = entries.map { case (n, a, b, c, g) =>
      s""""$n":{"sf01":${f3(a)},"sf1":${f3(b)},"sf10":${f3(c)},"growth_sf1_to_sf10":${f3(g)}}"""
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"sf10_growth","n_queries":${allNames.length},""" +
      s""""sf01_total":${f3(entries.map(_._2).sum)},"sf1_total":${f3(entries.map(_._3).sum)},""" +
      s""""sf10_total":${f3(entries.map(_._4).sum)},"worst_growth_sf1_to_sf10":${f3(worst)},""" +
      s""""queries":$qs}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_sf10_r20.json"), json + "\n")
    entries.sortBy(-_._5).foreach { case (n, a, b, c, g) =>
      println(f"[sf10] $n%-24s sf0.1 ${a}%7.2f  sf1 ${b}%7.2f  sf10 ${c}%8.2f  growth(sf1→sf10) ${g}%6.2f×")
    }
    println(s"[sf10] record written to BENCH_sf10_r20.json; worst sf1→sf10 growth ${f3(worst)}×")
    require(worst <= 12.0,
      s"superlinear growth detected: worst sf1->sf10 factor $worst > 12 for 10x data")
    spark.stop()
  }
}
