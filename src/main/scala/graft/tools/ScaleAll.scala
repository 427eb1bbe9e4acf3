package graft.tools
import org.apache.spark.sql.functions._

object ScaleAll {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    val dir = "target/tmp/bigsf"
    // big events (1M) and embeddings (100k) alongside the 1M docs
    if (!new java.io.File(s"$dir/events.parquet").exists()) {
      // Tables.events normalizes either ts encoding (TIMESTAMP(NANOS) or
      // timestamp[us]) to the ns-long contract the replication math needs
      graft.sources.Tables.events(spark, "/root/testdata/sf0.1")
        .withColumn("rep", explode(sequence(lit(0), lit(9))))
        .select((col("event_id") + col("rep") * 100000L).as("event_id"),
          (col("ts") + col("rep") * 1000000L).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .repartition(32).write.parquet(s"$dir/events.parquet")
    }
    // separate guard: another tool (ScaleStream) may have left events
    // behind without embeddings — coupling the two under one guard
    // skipped this build and failed the embedding stages downstream
    if (!new java.io.File(s"$dir/embeddings.parquet").exists()) {
      spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .withColumn("rep", explode(sequence(lit(0), lit(49))))
        .select((col("vec_id") + col("rep") * 2000L).as("vec_id"),
          col("embedding"), col("label"))
        .repartition(32).write.parquet(s"$dir/embeddings.parquet")
    }
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[scale] $label%-28s ${(System.nanoTime()-t0)/1e9}%8.2f s  rows=$n")
      // outside the timed section: operators with internal caches
      // (qualityGate's token arrays, dedup fingerprints) must not pin
      // storage memory under the NEXT measurement
      spark.catalog.clearCache()
    }
    import graft.operators._
    time("token_histogram 1M docs")(TextAnalysis.tokenHistogram(spark, dir).count())
    time("quality 1M docs")(TextAnalysis.quality(spark, dir).count())
    time("fingerprint 1M docs")(TextAnalysis.fingerprint(spark, dir).count())
    time("chunk_windows 1M docs")(TextAnalysis.chunkWindows(spark, dir).count())
    time("sessionize 1M events")(Analytics.eventsSessionize(spark, dir).count())
    time("windowed_agg 1M events")(Analytics.eventsWindowedAgg(spark, dir).count())
    time("asof_join 1M events")(AsOfJoin.purchaseSignup(spark, dir).count())
    time("chunk_dedup 1M docs")(Curation.chunkDedup(spark, dir).count())
    time("quality_gate 1M docs")(Curation.qualityGate(spark, dir).count())
    time("pii_redact 1M docs")(TextAnalysis.piiRedact(spark, dir).count())
    time("split 1M docs")(Curation.split(spark, dir).count())
    time("kmv 1M events")(Analytics.eventsKmv(spark, dir).count())
    time("sim_topk_lsh 100k vecs")(Similarity.topkLsh(spark, dir).count())
    time("neardup_lsh 100k vecs")(Similarity.nearDupPairsLsh(spark, dir).count())
    // custom physical as-of operator at 1M events
    time("asof_EXEC 1M events")({
      import org.apache.spark.sql.functions._
      val ev = graft.sources.Tables.events(spark, dir).withColumn("us", expr("ts div 1000"))
      val p = ev.filter(col("event_type") === "purchase").select(col("user_id"), col("us"), col("event_id"))
      val s = ev.filter(col("event_type") === "signup").select(col("user_id"), col("us"), col("event_id"))
      graft.plans.AsOfJoinPlan.asOf(p, s, "user_id", "us").count()
    })
    spark.stop()
  }
}
