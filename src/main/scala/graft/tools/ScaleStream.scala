package graft.tools
import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import graft.operators.{Analytics, Curation, Dedup}

object ScaleStream {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    val dir = "target/tmp/bigsf"
    // self-sufficient: build the 1M-event corpus if no prior ScaleAll/
    // ScaleDedup run left it behind (same construction as ScaleAll)
    if (!new java.io.File(s"$dir/events.parquet").exists()) {
      new java.io.File(dir).mkdirs()
      // Tables.events normalizes either ts encoding (TIMESTAMP(NANOS) or
      // timestamp[us]) to the ns-long contract the replication math needs
      graft.sources.Tables.events(spark, "/root/testdata/sf0.1")
        .withColumn("rep", explode(sequence(lit(0), lit(9))))
        .select((col("event_id") + col("rep") * 100000L).as("event_id"),
          (col("ts") + col("rep") * 1000000L).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .repartition(32).write.parquet(s"$dir/events.parquet")
    }
    val t0 = System.nanoTime()
    val q = EventStream.windowedAgg(EventStream.readEvents(spark, dir))
      .writeStream.format("memory").queryName("big_win")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    require(q.awaitTermination(300000), "windowed-agg stream timed out; comparison would be mid-flight")
    val got = spark.table("big_win").count()
    val t1 = (System.nanoTime() - t0) / 1e9
    val want = Analytics.eventsWindowedAgg(spark, dir).count()
    println(f"[scale] streaming windowed agg 1M events: $t1%.2f s rows=$got (batch rows=$want, equal=${got == want})")

    // KMV sketch over the same 1 M events in ONE AvailableNow pass — the
    // whole group arrives in a single batch, exercising the O(k)-memory
    // per-batch fold (a collect-then-sort merge would materialize ~200k
    // rows per group here)
    val t2 = System.nanoTime()
    val kq = EventStream.kmvDistinct(EventStream.readEvents(spark, dir))
      .writeStream.format("memory").queryName("big_kmv")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    require(kq.awaitTermination(300000), "KMV stream timed out; comparison would be mid-flight")
    val t3 = (System.nanoTime() - t2) / 1e9
    val est = spark.table("big_kmv").collect()
      .map(r => (r.getString(0), r.getDouble(2))).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).max }
    val batchEst = Analytics.eventsKmv(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    println(f"[scale] streaming KMV 1M events: $t3%.2f s groups=${est.size} (== batch: ${est == batchEst})")

    // ---- decade growth for the ingest loops (round 8) -----------------
    // The classify-against-growing-catalog and DSIR-scoring loops were
    // spec-proven (31g/31h) but had no growth record: run each at 100 k
    // and 1 M docs and report t(1M)/t(100k). The classify loop drives
    // [[EventStream.classifyBatch]] — the exact foreachBatch body of
    // classifyAgainstCatalog — 4 sequential batches against a catalog
    // seeded with a 5th of the slice and GROWING with every append, the
    // nightly-ingest shape. bigsf docs are sf0.1 × 200 exact copies, so
    // this also exercises the exact-dup fast path + df-capped shingle
    // join at duplication-heavy scale.
    val allDocs = spark.read.parquet(Corpora.ensureBigDocuments(spark))
      .select(col("doc_id"), col("text"))

    def classifyLoop(label: String, n: Long): Double = {
      val root = s"target/tmp/clsgrow_$label"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val docs = allDocs.filter(col("doc_id") < n)
      val nb = 5
      // split by REP index (doc_id / 5000), not doc_id % nb — reps are
      // multiples of 5000, so a doc_id % nb split puts each ORIGINAL's
      // copies all in one batch and no batch ever re-sees a catalog
      // doc (everything classifies novel — not the ingest shape).
      // Rep-split batches carry fresh copies of every original, so
      // later batches exact-match the catalog dominantly, which is
      // what a nightly re-crawl looks like.
      val batchCol = pmod(floor(col("doc_id") / 5000L), lit(nb))
      val (fp0, sh0) = Dedup.buildCatalog(docs.filter(batchCol === 0))
      fp0.write.mode("overwrite").parquet(s"$root/fp")
      sh0.write.mode("overwrite").parquet(s"$root/sh")
      val t0 = System.nanoTime()
      for (b <- 1 until nb)
        EventStream.classifyBatch(docs.filter(batchCol === b),
          b.toLong, s"$root/fp", s"$root/sh", s"$root/verdicts")
      val sec = (System.nanoTime() - t0) / 1e9
      val verd = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$root/verdicts")
      val byStatus = verd.groupBy(col("status")).count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(", ")
      println(f"[scale] classify loop $label%-5s (4 batches, growing catalog): $sec%8.2f s  ($byStatus)")
      spark.catalog.clearCache()
      sec
    }
    val clsSmall = classifyLoop("100k", 100000L)
    val clsBig = classifyLoop("1m", 1000000L)
    println(f"[scale] classify-loop decade growth: ${clsBig / clsSmall}%.2f x for 10x docs")

    // streaming DSIR scoring: model trained once (offline stage), the
    // ingest-time scorer timed at both slice sizes; sum(logw) forces the
    // full decimal fold (count() would prune the scorer itself)
    val bigDir = "target/tmp/bigsf"
    Corpora.linkBigDocuments(spark, bigDir)
    val (lam, cBits) = Curation.dsirModel(spark, bigDir)
    def dsirAt(label: String, n: Long): Double = {
      val t0 = System.nanoTime()
      EventStream.dsirScore(allDocs.filter(col("doc_id") < n), lam, cBits)
        .agg(sum(col("logw"))).first()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] streaming DSIR score $label%-5s: $sec%8.2f s")
      sec
    }
    val dsSmall = dsirAt("100k", 100000L)
    val dsBig = dsirAt("1m", 1000000L)
    println(f"[scale] dsir-score decade growth: ${dsBig / dsSmall}%.2f x for 10x docs")
    println(f"""{"metric":"scale_stream_growth","classify_100k":$clsSmall%.2f,"classify_1m":$clsBig%.2f,"classify_growth":${clsBig / clsSmall}%.2f,"dsir_100k":$dsSmall%.2f,"dsir_1m":$dsBig%.2f,"dsir_growth":${dsBig / dsSmall}%.2f}""")
    spark.stop()
  }
}
