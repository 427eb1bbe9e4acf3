package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** 1M-row scale record for the multimodal candidate-key cap (round 20):
  * the ScaleDedup pattern applied to `blockPairsOf` — the machinery
  * under mm_image_dhash_dedup and mm_audio_sig_dedup, and (same
  * capByFrequency discipline, per-key variants) the video aligned and
  * winnow joins.
  *
  * Leg 1 (quadratic demo): a 50k corpus with a planted hot block value
  * shared by h ∈ {2k, 4k, 8k} docs (a "flat region"), uncapped vs
  * capped: uncapped grows ~4× per doubling of h (the h² candidate
  * join), capped stays flat.
  *
  * Leg 2 (1M record): 1M signature rows, 200k sharing the hot b0
  * (h² = 4·10¹⁰ candidates uncapped — would not complete), 1000
  * planted near-dup pairs (500 of them sharing the hot b0, findable
  * only via their cold blocks). The capped run must find EXACTLY the
  * planted pairs and report wall seconds. 16-bit blocks saturate at
  * this density (~15 docs per (k,bv) organically), so the organic
  * candidate mass is the operator's honest profile — the cap's job is
  * the skew outlier, not the uniform mass.
  *
  * The 1M leg needs a 16 GB driver heap. The heap is fixed when the JVM
  * starts, so set it there, not as a session conf:
  *
  *   SPARK_DRIVER_MEM=16g sbt "runMain graft.tools.ScaleMmDedup"
  */
object ScaleMmDedup {
  private def f2(d: Double) = f"$d%.2f"

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(16)
    import spark.implicits._

    val Hot = 0xBEEF

    // md5-derived 16-bit blocks; doc ids in [lo, lo+n); ids < hotN get
    // the hot b0
    def sigs(n: Long, hotN: Long): DataFrame =
      spark.range(n).select(
        col("id").as("doc_id"),
        when(col("id") < hotN, lit(Hot))
          .otherwise(conv(substring(md5(concat(lit("s0:"), col("id"))), 1, 4), 16, 10).cast("int")).as("b0"),
        conv(substring(md5(concat(lit("s1:"), col("id"))), 1, 4), 16, 10).cast("int").as("b1"),
        conv(substring(md5(concat(lit("s2:"), col("id"))), 1, 4), 16, 10).cast("int").as("b2"),
        conv(substring(md5(concat(lit("s3:"), col("id"))), 1, 4), 16, 10).cast("int").as("b3"))

    def time(frame: => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = frame.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // ---- leg 1: quadratic growth, uncapped vs capped -------------------
    // h docs sharing one block value is h² candidate rows through the
    // join: wall time must grow ~4× per doubling uncapped and stay
    // flat capped (h=64k uncapped is 4·10⁹ candidate rows)
    println("[scalemm] leg 1: hot population h, uncapped vs capped seconds")
    for (h <- Seq(16000L, 32000L, 64000L)) {
      val corpus = sigs(100000L, h).cache(); corpus.count()
      val (tu, nu) = time(Multimodal.blockPairsOf(corpus, maxDf = None))
      val (tc, nc) = time(Multimodal.blockPairsOf(corpus, maxDf = Some(256)))
      println(s"[scalemm] h=$h uncapped ${f2(tu)} s ($nu pairs)  capped ${f2(tc)} s ($nc pairs)")
      corpus.unpersist()
    }

    // ---- leg 2: 1M rows, 200k hot, 1000 planted pairs ------------------
    val n = 1000000L
    val hotN = 200000L
    val base = sigs(n, hotN)
    // planted pairs i = 0..999: ids 2e6+i and 3e6+i, identical blocks;
    // even i additionally carries the hot b0 (cold-block discovery only)
    def planted(lo: Long) = spark.range(1000).select(
      (col("id") + lo).as("doc_id"),
      when(col("id") % 2 === 0, lit(Hot))
        .otherwise(conv(substring(md5(concat(lit("p0:"), col("id"))), 1, 4), 16, 10).cast("int")).as("b0"),
      conv(substring(md5(concat(lit("p1:"), col("id"))), 1, 4), 16, 10).cast("int").as("b1"),
      conv(substring(md5(concat(lit("p2:"), col("id"))), 1, 4), 16, 10).cast("int").as("b2"),
      conv(substring(md5(concat(lit("p3:"), col("id"))), 1, 4), 16, 10).cast("int").as("b3"))
    val corpus = base.unionAll(planted(2000000L)).unionAll(planted(3000000L))
      .repartition(32).cache()
    corpus.count()

    val t0 = System.nanoTime()
    val pairs = Multimodal.blockPairsOf(corpus, maxDf = Some(256),
      logDropsAs = Some("scalemm")).cache()
    val total = pairs.count()
    val wall = (System.nanoTime() - t0) / 1e9
    val plantedFound = pairs
      .filter(col("da") >= 2000000L && col("da") < 2001000L &&
        col("db") === col("da") + 1000000L).count()
    println(s"[scalemm] leg 2: 1M rows + 200k-hot b0 + 1000 planted pairs: " +
      s"${f2(wall)} s, $total pairs, $plantedFound/1000 planted found")
    require(plantedFound == 1000L,
      s"every planted pair must survive the cap via its cold blocks: $plantedFound")
    // organic md5 near-collisions are true hamming<=3 pairs of the
    // operator's definition (expected O(1) at this density: ~30M
    // organic candidates x 2^-47-ish); anything beyond a handful means
    // the corpus degenerated (the r19 lesson)
    require(total - 1000L <= 5L,
      s"organic pair count beyond md5-collision expectation: ${total - 1000L}")
    println("[scalemm] OK")
    spark.stop()
  }
}
