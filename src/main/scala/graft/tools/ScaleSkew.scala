package graft.tools
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, AsOfJoin}

/** Skew stress: user 0 owns ~50% of 1M events. Sessionize/as-of window
  * on user_id then has one partition with 500k rows — the straggler
  * shape AQE cannot split (windows need whole key groups). */
object ScaleSkew {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    val dir = "target/tmp/skewsf"
    if (!new java.io.File(s"$dir/events.parquet").exists()) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val base = spark.read.parquet("target/tmp/bigsf/events.parquet")
      base.select(col("event_id"), col("ts"),
        when(pmod(col("event_id"), lit(2)) === 0, 0L).otherwise(col("user_id")).as("user_id"),
        col("event_type"), col("value"), col("props"))
        .repartition(32).write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[scale] $label%-30s ${(System.nanoTime()-t0)/1e9}%8.2f s  rows=$n")
    }
    time("sessionize skewed 1M")(Analytics.eventsSessionize(spark, dir).count())
    time("windowed_agg skewed 1M")(Analytics.eventsWindowedAgg(spark, dir).count())
    time("asof skewed 1M")(AsOfJoin.purchaseSignup(spark, dir).count())

    // funnel: plain vs salted join (conf-gated gated-path variant) —
    // alternated so JIT ordering can't fake a result; outputs must match
    def funnelRow() = Analytics.eventsFunnel(spark, dir).collect().toSeq
    def timeF(label: String)(f: => Seq[org.apache.spark.sql.Row]): Seq[org.apache.spark.sql.Row] = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label%-30s ${(System.nanoTime()-t0)/1e9}%8.2f s"); r
    }
    timeF("funnel warm-up")(funnelRow())
    val plain1 = timeF("funnel plain run1")(funnelRow())
    spark.conf.set("spark.graft.skew.funnelSalts", "16")
    val salted1 = timeF("funnel salted run1")(funnelRow())
    spark.conf.set("spark.graft.skew.funnelSalts", "0")
    val plain2 = timeF("funnel plain run2")(funnelRow())
    spark.conf.set("spark.graft.skew.funnelSalts", "16")
    val salted2 = timeF("funnel salted run2")(funnelRow())
    spark.conf.set("spark.graft.skew.funnelSalts", "0")
    println(s"[scale] funnel salted == plain: ${plain1 == salted1 && plain2 == salted2 && plain1 == plain2}")

    // same comparison under the 100 TB plan shape: at cluster scale
    // `entered` (one row per user, billions of users) cannot broadcast
    // and the join is a shuffle join — disable broadcast + AQE's skew
    // splitting to expose the hot-key reducer locally
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    timeF("funnel SMJ warm-up")(funnelRow())
    val p1 = timeF("funnel SMJ plain run1")(funnelRow())
    spark.conf.set("spark.graft.skew.funnelSalts", "16")
    val s1 = timeF("funnel SMJ salted run1")(funnelRow())
    spark.conf.set("spark.graft.skew.funnelSalts", "0")
    val p2 = timeF("funnel SMJ plain run2")(funnelRow())
    spark.conf.set("spark.graft.skew.funnelSalts", "16")
    val s2 = timeF("funnel SMJ salted run2")(funnelRow())
    spark.conf.set("spark.graft.skew.funnelSalts", "0")
    println(s"[scale] funnel SMJ salted == plain: ${p1 == s1 && p2 == s2 && p1 == plain1}")

    // 20 M events, 95% on user 0 — big enough for the hot reducer to be
    // a real straggler instead of a milliseconds sort
    val dir20 = "target/tmp/skewsf20"
    if (!new java.io.File(s"$dir20/events.parquet").exists()) {
      val base = spark.read.parquet("target/tmp/bigsf/events.parquet")
      base.withColumn("rep", explode(sequence(lit(0), lit(19))))
        .select((col("event_id") * 20 + col("rep")).as("event_id"), col("ts"),
          when(pmod(col("event_id") * 20 + col("rep"), lit(20)) < 19, 0L)
            .otherwise(col("user_id")).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .repartition(64).write.mode("overwrite").parquet(s"$dir20/events.parquet")
    }
    def funnel20() = Analytics.eventsFunnel(spark, dir20).collect().toSeq
    timeF("funnel20 SMJ warm-up")(funnel20())
    val q1 = timeF("funnel20 SMJ plain run1")(funnel20())
    spark.conf.set("spark.graft.skew.funnelSalts", "16")
    val r1 = timeF("funnel20 SMJ salted run1")(funnel20())
    spark.conf.set("spark.graft.skew.funnelSalts", "0")
    val q2 = timeF("funnel20 SMJ plain run2")(funnel20())
    spark.conf.set("spark.graft.skew.funnelSalts", "16")
    val r2 = timeF("funnel20 SMJ salted run2")(funnel20())
    spark.conf.set("spark.graft.skew.funnelSalts", "0")
    println(s"[scale] funnel20 SMJ salted == plain: ${q1 == r1 && q2 == r2 && q1 == q2}")
    spark.stop()
  }
}
