package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-minded defaults (SURVEY §4).
  *
  * AQE handles runtime partition coalescing and skew-join splitting — at
  * 100 TB the same code runs with shuffle.partitions sized to the cluster
  * (rule of thumb: 2-3× total cores); local test runs use the core count.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // keep bucket-aware scans ON even when no join/agg wants the
      // distribution: the planner's auto-disable rule also forfeits
      // bucket PRUNING, and the term-bucketed BM25 postings store
      // (round 13) serves filter-only scans that prune by bucket
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** The one way a main gets a session: `local[cpus]` with `cpus`
    * shuffle partitions and WARN logging. A main that needs another SQL
    * conf sets it with `spark.conf.set` on the returned session. */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Local session for tests: one per JVM, shared across suites. */
  lazy val test: SparkSession = local(4)
}
