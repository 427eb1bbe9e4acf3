package graft.tools
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}

/** Long-document stress: 10 MB single documents (~1.4 M tokens each)
  * through the tokenize / shingle / chunk paths. The sf corpora cap out
  * at a few KB per doc, so per-ROW costs (token array materialization,
  * distinct-shingle explosion, chunk fan-out) never show up there.
  *
  * Corpus: the sf0.01 documents plus 7 monsters — two exact-duplicate
  * pairs (collapse must hit the exact-first path, never the shingle
  * join), one near-duplicate pair (one mutated word per 1000 — MUST
  * survive the jaccard threshold), one unique. Each monster draws from
  * its own 5000-word vocabulary so unrelated monsters share no shingles.
  */
object ScaleLongDocs {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    import spark.implicits._

    val dir = "target/tmp/longsf"
    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      def longText(vocab: Int, seed: Int, mutateEvery: Int = 0): String = {
        val rnd = new scala.util.Random(seed)
        val sb = new StringBuilder(11 << 20)
        var i = 0
        while (sb.length < (10 << 20)) {
          val w = if (mutateEvery > 0 && i % mutateEvery == 0) s"mut${vocab}x$i"
                  else s"v${vocab}w${rnd.nextInt(5000)}"
          sb.append(w).append(' '); i += 1
        }
        sb.toString
      }
      val monsters = Seq(
        (100000L, longText(1, 1)), (100001L, longText(1, 1)),          // exact dup pair
        (100002L, longText(2, 2)), (100003L, longText(2, 2)),          // exact dup pair
        (100004L, longText(3, 3)), (100005L, longText(3, 3, 1000)),    // near-dup pair
        (100006L, longText(4, 4)))                                     // unique
        .toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("stress").as("source"), length(col("text")).cast("long").as("n_chars"))
      spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .unionByName(monsters)
        .repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[scale] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    time("text_quality 10MB docs")(TextAnalysis.quality(spark, dir).count())
    time("text_fingerprint 10MB docs")(TextAnalysis.fingerprint(spark, dir).count())
    time("token_histogram 10MB docs")(TextAnalysis.tokenHistogram(spark, dir).count())
    time("chunk_windows 10MB docs")(TextAnalysis.chunkWindows(spark, dir).count())
    time("dedup_exact 10MB docs")(Dedup.exact(spark, dir).count())
    // CDC chunk dedup on monsters (round 17): the per-doc stage builds
    // the cut array AND every chunk string inside one row's expression
    // tree — per-row memory is O(doc), the same class as the token
    // array itself. The exact-dup monster pairs must collapse at chunk
    // granularity (first-occurrence keeps ~all of doc A, cuts ~all of
    // its byte-identical twin), proving the rule holds at 1.4 M tokens
    // per row, not just gate-sized docs.
    locally {
      val t0 = System.nanoTime()
      val cdc = graft.operators.Curation.cdcChunkDedup(spark, dir)
        .filter(col("doc_id") >= 100000L)
        .select(col("doc_id"), col("n_chunks"), col("n_kept"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      println(f"[scale] cdc_chunk_dedup 10MB docs: ${(System.nanoTime() - t0) / 1e9}%.2f s  " +
        cdc.map { case (d, n, k) => s"$d:$k/$n" }.mkString(" "))
      val byId = cdc.map(c => c._1 -> c).toMap
      require(byId(100001L)._3 * 20 < byId(100001L)._2,
        s"an exact 10MB twin must lose >95% of its chunks: ${byId(100001L)}")
      require(byId(100000L)._2 == byId(100000L)._3,
        "the first occurrence keeps everything")
    }

    // pipeline + clusters with doc-length-aware spread OFF vs ON —
    // placement-only change, so cluster assignments must be identical
    def runPipes(tag: String): Map[Long, Long] = {
      time(s"dedup_pipeline 10MB docs $tag")(Dedup.dedupPipeline(spark, dir).count())
      val t0 = System.nanoTime()
      val clusters = Dedup.dedupClusters(spark, dir)
        .filter(col("doc_id") >= 100000L).collect().map(r => r.getLong(0) -> r.getLong(1))
      println(f"[scale] dedup_clusters 10MB docs $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s  " +
        s"monster clusters=${clusters.toSeq.sorted.mkString(",")}")
      spark.catalog.clearCache()
      clusters.toMap
    }
    val off = runPipes("[spread off]")
    spark.conf.set("spark.graft.dedup.lengthAware", "true")
    val on = runPipes("[spread on]")
    spark.conf.set("spark.graft.dedup.lengthAware", "false")
    val off2 = runPipes("[spread off 2nd]") // order-bias check: JIT-warm rerun

    val want = Map(
      100000L -> 100000L, 100001L -> 100000L, 100002L -> 100002L,
      100003L -> 100002L, 100004L -> 100004L, 100005L -> 100004L, 100006L -> 100006L)
    println(s"[scale] monster cluster assignment correct=${off == want} " +
      s"spread-invariant=${on == off && off2 == off}")

    // Scenario B: MANY heavy docs — 64 × 2 MB, pairwise shingle-disjoint.
    // Here the per-row explode+minhash stage IS the pipeline, and the
    // semi-join + AQE small-partition coalescing packs heavy rows into
    // few tasks: the exact co-location failure a 100 TB long-doc corpus
    // hits. Spread ON must beat OFF by spreading one monster per task.
    val dirB = "target/tmp/longsfB"
    if (!new java.io.File(s"$dirB/documents.parquet").exists()) {
      def midText(vocab: Int): String = {
        val rnd = new scala.util.Random(vocab)
        val sb = new StringBuilder(3 << 20)
        while (sb.length < (2 << 20)) sb.append(s"v${vocab}w${rnd.nextInt(5000)} ")
        sb.toString
      }
      val many = (0 until 64).map(i => (200000L + i, midText(100 + i)))
        .toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("stress").as("source"), length(col("text")).cast("long").as("n_chars"))
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .unionByName(many)
        .repartition(8).write.mode("overwrite").parquet(s"$dirB/documents.parquet")
    }
    def runB(tag: String): Long = {
      var n = 0L
      time(s"dedup_clusters 64x2MB $tag")({ n = Dedup.dedupClusters(spark, dirB).count(); n })
      spark.catalog.clearCache()
      n
    }
    runB("[warm-up]")
    spark.conf.set("spark.graft.dedup.lengthAware", "false")
    val nOff = runB("[spread off]")
    spark.conf.set("spark.graft.dedup.lengthAware", "true")
    val nOn = runB("[spread on]")
    spark.conf.set("spark.graft.dedup.lengthAware", "false")
    val nOff2 = runB("[spread off 2nd]")
    println(s"[scale] scenario B rows equal across modes=${nOff == nOn && nOn == nOff2}")

    // isolated explode stage (the operation the spread targets), free of
    // the minhash shuffle / CC noise that dominates whole-pipeline time;
    // alternated twice per mode so a JIT/ordering bias can't fake a win
    val docsB = spark.read.parquet(s"$dirB/documents.parquet")
    def shingleCount(df: org.apache.spark.sql.DataFrame): Long =
      Dedup.shingleSets(df).groupBy(col("doc_id")).agg(count(lit(1))).count()
    def spreadB = graft.operators.Skew.spreadByWeight(docsB, "n_chars", "doc_id", 32, 1000000L)
    time("shingle stage [no spread] run1")(shingleCount(docsB))
    time("shingle stage [spread]    run1")(shingleCount(spreadB))
    time("shingle stage [no spread] run2")(shingleCount(docsB))
    time("shingle stage [spread]    run2")(shingleCount(spreadB))
    spark.stop()
  }
}
