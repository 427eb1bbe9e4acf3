package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.Bloom

/** Round-11 stress: the Bloom-prefiltered catalog probe at the 100 TB
  * design point — a 10 M-key fingerprint catalog probed by a 1 M-doc
  * incoming batch that is 90% novel (the production mix: most of every
  * crawl batch has never been seen).
  *
  * What must hold:
  *  - the filter builds in ONE narrow aggregation pass (no shuffle of
  *    the catalog) and lands ~10 MB at 8 bits/key — broadcastable;
  *  - the probe routes the 90% novel majority with ZERO catalog access
  *    (narrow filter), so the exact confirm join's input is the ~10%
  *    maybe sliver, not the full batch;
  *  - the result is EXACTLY the plain anti-join's (count-checked here;
  *    value-checked by the dedup_bloom_probe gate + BloomSpec);
  *  - wall: prefiltered probe beats the plain shuffle anti-join once
  *    the filter exists (the amortization story — one build serves
  *    every later batch).
  *
  * Run: sbt "runMain graft.tools.ScaleBloom"
  */
object ScaleBloom {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    // BloomFilterAggregate clamps to these session caps (defaults:
    // 4 M items / 8 MiB — runtime-filter sizing, not catalog sizing);
    // raise them or a 10 M-key build silently degrades to ~11% fpp
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "100000000")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "1073741824")

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-44s $s%8.2f s")
      (r, s)
    }

    // per-route shuffle-volume accounting — locally a shuffle is a
    // memcpy, so WALL under-reports the cluster difference; bytes
    // moved is the honest 1000-executor metric
    val shuffled = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          shuffled.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })
    def shuffleOf[T](f: => T): (T, Long) = {
      Thread.sleep(300); shuffled.set(0L)
      val r = f
      Thread.sleep(500) // listener bus is async; drain before reading
      (r, shuffled.get())
    }

    val catN = 10000000L
    val incN = 1000000L
    // catalog keys cat-0..cat-(10M-1); incoming: 10% members, 90% novel
    val catalog = spark.range(catN)
      .select(md5(concat(lit("cat-"), col("id"))).as("fp"))
      .repartition(64).cache()
    catalog.count()
    val incoming = spark.range(incN)
      .select(col("id").as("doc_id"),
        md5(concat(
          when(col("id") % 10 === 0, concat(lit("cat-"), col("id")))
            .otherwise(concat(lit("new-"), col("id"))))).as("fp"))
      .repartition(32).cache()
    incoming.count()

    val (bytes, tBuild) = time(s"bloomAgg build over ${catN / 1000000}M keys") {
      catalog.agg(Bloom.bloomAgg(col("fp"), catN, 8L * catN).as("bf"))
        .head().getAs[Array[Byte]](0)
    }
    println(f"[scale] filter size ${bytes.length / 1024 / 1024} MiB " +
      f"(${8.0 * bytes.length / catN}%.1f bits/key)")

    val bc = Bloom.broadcastFilter(spark, bytes)
    // maybe sliver: true members (100k) + false positives (~2% of 900k)
    val (maybes, tProbe) = time("narrow probe: count maybe-members of 1M") {
      incoming.filter(Bloom.mightContainBc(bc, col("fp"))).count()
    }
    val members = incN / 10
    println(s"[scale] maybes=$maybes (true members=$members, " +
      s"fp-rate over novel=${(maybes - members).toDouble / (incN - members)})")
    require(maybes >= members, "false negative: Bloom missed a member")
    require(maybes - members <= (incN - members) / 20,
      s"false-positive sliver too fat: ${maybes - members}")

    // steady-state serve: 3 reps each, best wall (the per-batch marginal
    // cost a long-lived dedup service pays; rep 1 includes broadcast
    // shipping + JVM-global filter deser, later reps are the real rate)
    var nBloom = 0L; var nPlain = 0L
    var bloomBytes = 0L; var plainBytes = 0L
    val tBloomJoin = (1 to 3).map { r =>
      val ((n, bytesMoved), t) = time(s"bloomAntiJoinBc serve rep $r") {
        shuffleOf(Dedup.bloomAntiJoinBc(incoming, catalog, "fp", bc).count())
      }
      nBloom = n; bloomBytes = bytesMoved; t
    }.min
    val tPlain = (1 to 3).map { r =>
      val ((n, bytesMoved), t) = time(s"plain anti-join (1M x 10M shuffle) rep $r") {
        shuffleOf(incoming.join(catalog, Seq("fp"), "left_anti").count())
      }
      nPlain = n; plainBytes = bytesMoved; t
    }.min
    println(f"[scale] shuffle bytes/batch: bloom=${bloomBytes / 1024.0 / 1024}%.1f MiB " +
      f"plain=${plainBytes / 1024.0 / 1024}%.1f MiB " +
      f"(${plainBytes.toDouble / math.max(1, bloomBytes)}%.0fx)")
    require(bloomBytes * 5 < plainBytes,
      "bloom route must move at least 5x fewer shuffle bytes than the plain join")
    require(nBloom == nPlain, s"bloom route changed the answer: $nBloom vs $nPlain")
    require(nBloom == incN - members, s"expected ${incN - members} novel, got $nBloom")

    println(f"[scale] RECORD build=$tBuild%.1f probe=$tProbe%.1f " +
      f"bloomJoin=$tBloomJoin%.1f plainJoin=$tPlain%.1f " +
      f"bloomMiB=${bloomBytes / 1024 / 1024} plainMiB=${plainBytes / 1024 / 1024} " +
      f"maybes=$maybes novel=$nBloom filterMiB=${bytes.length / 1024 / 1024}")
    spark.stop()
  }
}
