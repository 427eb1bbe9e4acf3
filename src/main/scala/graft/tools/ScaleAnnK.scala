package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.VectorFns

/** Round-8 stress: IVF assignment at REAL k (the 100 TB design point
  * is k in the thousands, not the gated k=10), plus the PQ recall
  * regression gate.
  *
  *  - FLAT assignment of 1 M × 64-d vectors at k = 64 / 256 / 1024:
  *    k = 1024 (65 536 codebook doubles) crosses the literal budget and
  *    must ship as a broadcast relation — the run asserts the plan
  *    stays small (no k×dim literal) and records wall per k. Expected
  *    shape: time grows ~linearly in k (exhaustive scoring is O(k·dim)
  *    per row, no matter how the codebook ships).
  *  - TWO-LEVEL assignment (k1=32 × k2=32 = 1024 effective cells):
  *    the sub-linear path — each row scores 64 centroids instead of
  *    1024, so 1024-cell assignment should land near the flat k=64
  *    cost, not the flat k=1024 cost.
  *  - PQ RECALL GATE: on a 100 k-vector 16-cluster corpus (16 clusters
  *    so k′=16 codewords CAN dedicate one per cluster — a healthy
  *    codebook separates them, a training regression collapses them),
  *    sim_topk_pq's neighbors must come from the query's true cluster
  *    ≥ 60% (region recall, the r7 spec's contract; measured 0.80).
  *
  * Run: sbt "runMain graft.tools.ScaleAnnK"
  */
object ScaleAnnK {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    import spark.implicits._

    // ---- corpus: 1 M deterministic 64-d unit vectors, 1024 soft
    // clusters (cluster signal + per-point jitter), cached once --------
    val dim = 64
    def synth(n: Long, clusters: Int): DataFrame =
      spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          sin((col("id") % clusters) * lit(7.31) + j * lit(1.709)) +
            lit(0.15) * sin(col("id") * lit(13.17) + j * lit(0.37))).as("raw"))
        .withColumn("nrm", VectorFns.norm(col("raw")))
        .select(col("vec_id"), VectorFns.normalize(col("raw"), col("nrm")).as("vec"))

    val corpus = synth(1000000L, 1024).repartition(64).cache()
    corpus.count()
    val sample = corpus.filter(col("vec_id") % 20 === 0) // 50k training sample

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-36s $s%8.2f s")
      (r, s)
    }

    // ---- flat assignment at growing k --------------------------------
    // count() would prune the cid projection entirely — aggregate OVER
    // cid so every row's argmin is actually computed
    val walls = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (k <- Seq(64, 256, 1024)) {
      val (cents, _) = time(s"train flat k=$k (50k sample, 1 iter)") {
        Similarity.kmeansCentroidSeqs(sample, k, iters = 1)
      }
      val assigned = Similarity.assignCells(corpus, cents)
      val plan = assigned.queryExecution.executedPlan.toString
      if (k == 1024) {
        require(plan.contains("BroadcastNestedLoopJoin"),
          "k=1024 codebook (65536 doubles) must ship as a broadcast relation")
        require(plan.length < 50000,
          s"k=1024 plan blew up to ${plan.length} chars — literal leaked into the plan")
        println(s"[scale] k=1024 plan: ${plan.length} chars, broadcast codebook OK")
      }
      val (rows, s) = time(s"assign 1M vectors, flat k=$k") {
        assigned.agg(count(col("cid")), max(col("cid"))).first().getLong(0)
      }
      require(rows == 1000000L)
      walls(s"flat_k$k") = s
    }

    // ---- two-level: 1024 effective cells at 64 scores per row --------
    // training (top kmeans + grouped sub-Lloyd, all driver actions)
    // happens inside the assignTwoLevel CALL; the returned frame is the
    // lazy per-row 32+32 assignment — time the two phases separately
    val (df2, _) = time("two-level 32x32 training (50k sample)") {
      Similarity.assignTwoLevel(corpus, k1 = 32, k2 = 32, iters = 1,
        train = Some(sample))
    }
    val (_, s2) = time("assign 1M vectors, two-level 32x32") {
      df2.agg(count(col("cid2")), max(col("cid1")), max(col("cid2"))).first()
    }
    walls("twolevel_32x32") = s2
    println(f"[scale] sub-linear check: 1024 effective cells via two-level = $s2%.2f s vs " +
      f"flat k=1024 = ${walls("flat_k1024")}%.2f s (${walls("flat_k1024") / s2}%.1fx); " +
      f"flat k=64 (same per-row score count) = ${walls("flat_k64")}%.2f s")
    // ---- sampled-training two-level SEARCH recall (round 9) -----------
    // The 100 TB reality: codebooks train on a hash-sample, never a
    // full-corpus Lloyd. The `% 20` assignment sample above would be
    // BIASED for search purposes (gcd(20, 1024) = 4 — only every 4th
    // synthetic cluster is represented); the md5-uniform sample is the
    // production recipe: deterministic, rerunnable, independent of the
    // cluster id. Gate: two-level search (k1·k2 = 256 effective cells)
    // trained on the 10% sample must still find the TRUE exact-cosine
    // top-5 of each query over the full 1 M corpus — recall@5 vs
    // brute force ≥ 0.60, the ScaleAnnK PQ-floor contract. A sampling
    // or training regression (empty cells, collapsed codebooks,
    // probe-path drift) sends neighbors to foreign cells and trips it.
    val mdSample = corpus.filter(
      conv(substring(md5(concat(lit("annsamp:"), col("vec_id"))), 1, 15), 16, 10)
        .cast("long") % 10 === 0)
    val (ivf2df, sTrain) = time("ivf2 train 16x16 (md5-10% of 1M)") {
      Similarity.topkIvf2Of(corpus, k1 = 16, k2 = 16, iters = 1,
        train = Some(mdSample))
    }
    val (ivf2, sSearch) = time("ivf2 search 1M corpus, 5 queries") {
      ivf2df.select("qid", "nid").as[(Long, Long)].collect()
    }
    walls("ivf2_sample_train") = sTrain
    walls("ivf2_sample_search") = sSearch
    val qs = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val wbf = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val (bf, sBf) = time("bruteforce truth 5 x 1M") {
      corpus.crossJoin(broadcast(qs)).filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          VectorFns.dot6(col("qvec"), col("vec")).as("cos"))
        .withColumn("rn", row_number().over(wbf)).filter(col("rn") <= 5)
        .select("qid", "nid").as[(Long, Long)].collect()
    }
    walls("ivf2_bruteforce") = sBf
    val bfSet = bf.toSet
    val ivf2Recall = ivf2.count(bfSet.contains).toDouble / bf.length
    println(f"[scale] ivf2 sampled-training recall@5 vs bruteforce: $ivf2Recall%.3f")
    require(ivf2.length == 25, s"expected 5 queries x top-5, got ${ivf2.length}")
    require(bf.length == 25, s"expected 5 queries x top-5 truth, got ${bf.length}")
    require(ivf2Recall >= 0.6,
      f"sampled-training IVF2 recall regression: $ivf2Recall%.3f < 0.60 floor")
    corpus.unpersist()

    // ---- PQ recall gate on a 100k clustered corpus --------------------
    val dir = "target/tmp/annk"
    if (!new java.io.File(s"$dir/embeddings.parquet").exists()) {
      new java.io.File(dir).mkdirs()
      synth(100000L, 16)
        .select(col("vec_id"),
          transform(col("vec"), _.cast("float")).as("embedding"),
          (col("vec_id") % 16).cast("int").as("label"))
        .repartition(16).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    // REGION recall, not exact-id recall: every cluster has ~1 563
    // members whose pairwise cosines differ only by jitter — ADC at
    // PqM=4/k′=16 cannot (and need not) resolve within-cluster fine
    // ranking, so the regression canary is "do PQ's neighbors come from
    // the query's true cluster", same contract as the r7 region-recall
    // spec. A codebook-training regression sends neighbors to foreign
    // clusters and trips this immediately.
    def cluster(id: Long): Long = id % 16
    val (pq, _) = time("sim_topk_pq 100k clustered corpus") {
      Similarity.topkPq(spark, dir)
        .select("qid", "nid").as[(Long, Long)].collect()
    }
    val hits = pq.count { case (q, n) => cluster(q) == cluster(n) }
    val recall = hits.toDouble / pq.length
    println(f"[scale] pq region-recall@5: $recall%.3f ($hits/${pq.length})")
    require(pq.length == 25, s"expected 5 queries x top-5, got ${pq.length}")
    require(recall >= 0.6,
      f"PQ recall regression: $recall%.3f < 0.60 floor on the clustered stress corpus")

    val rec = walls.map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"scale_annk","walls":$rec,"pq_recall":$recall%.3f,"ivf2_sample_recall":$ivf2Recall%.3f}""")
    spark.stop()
  }
}
