package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The entry-point mains share one session factory and one timing
  * harness: every main gets its session from `GraftSession.local`,
  * Verify and Bench select queries through `SparkEntry.select`, and
  * Bench's per-run counters repeat exactly on a gated query. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = GraftSession.test

  test("SparkSession.builder appears only in GraftSession; local(n) carries its confs") {
    val main = Paths.get("src", "main", "scala")
    val files = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
    assert(files.nonEmpty, s"no sources under ${main.toAbsolutePath}")
    val builders = files
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession.builder"))
      .map(p => main.relativize(p).toString)
    assert(builders == Vector(Paths.get("graft", "GraftSession.scala").toString),
      s"hand-built sessions outside GraftSession: $builders")

    val s = GraftSession.local(4)
    assert(s eq spark)
    assert(s.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled") == "false")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("foreachBatch and batch-keyed paths appear only in BatchCatalog") {
    val main = Paths.get("src", "main", "scala")
    val files = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
    def filesWith(needle: String): Vector[String] = files
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(p => main.relativize(p).toString)
    val batchModule = Vector(Paths.get("graft", "operators", "BatchCatalog.scala").toString)
    val streams = filesWith(".foreachBatch")
    assert(streams == batchModule, s"foreachBatch outside BatchCatalog: $streams")
    val batchPaths = filesWith("/batch-$")
    assert(batchPaths == batchModule, s"batch-keyed paths outside BatchCatalog: $batchPaths")
  }

  test("SparkEntry.select: filters and sorts, and fails fast on an unknown name") {
    assert(SparkEntry.select(None).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.select(Some("sim_mmr_rerank, q1_pricing_summary,sim_mmr_rerank"))
      .map(_._1) == Seq("q1_pricing_summary", "sim_mmr_rerank"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("sim_mmr_rerank,sim_mmr_rerankk")))
    assert(e.getMessage.contains("sim_mmr_rerankk"))
    // Bench selects before it builds a session, so a typo costs no query
    intercept[IllegalArgumentException](Bench.main(Array("no_such_query")))
  }

  test("Bench tail block: fits TailBudget over every gated query and ends with the total line") {
    // synthetic medians with wide values (up to 6 chars each at 2 dp)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val medians = names.zipWithIndex.map { case (n, i) => n -> (i * 7919 % 99991) / 100.0 }
    val totalLine = """{"metric":"total","value":12345.67,"unit":"sec",""" +
      """"serve_only":12000.01,"n_queries":153,"n_failed":0,"failed_reps":0,""" +
      """"loadavg":[12.3,14.5,16.7,18.9,20.1],"sf":"data/tpch/sf0.01"}"""
    val block = Bench.tailBlock(medians, totalLine)
    assert(block.map(_.length + 1).sum <= Bench.TailBudget,
      s"tail block is ${block.map(_.length + 1).sum} chars")
    assert(block.last == totalLine)
    assert(block.init.nonEmpty && block.init.forall(_.startsWith("""{"g":"""")))
    // the slowest median always ships, the fastest never (153 queries
    // cannot all fit)
    def shown(v: Double) = {
      val s = "%.2f".formatLocal(java.util.Locale.ROOT, v)
      val k = ":" + (if (s.endsWith("0")) s.dropRight(1) else s)
      block.init.exists(l => l.contains(k + ",") || l.contains(k + "}"))
    }
    assert(shown(medians.map(_._2).max) && !shown(medians.map(_._2).min), block)
  }

  test("Bench counters: two runs of a gated query count the same jobs, stages and tasks") {
    val sf = "/root/testdata/sf0.001"
    val counters = new Bench.GroupCounters
    spark.sparkContext.addSparkListener(counters)
    // one warm-up call builds the stores the ANN serve entries read, so
    // both counted runs serve warm
    def twoRuns(query: String): (Bench.Counters, Bench.Counters) = {
      val (name, fn) = SparkEntry.select(Some(query)).head
      Seq("warm", "1", "2").foreach(r =>
        assert(Bench.timeQuery(spark, name, fn, sf, s"$query#$r") >= 0))
      org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
      val (a, b) = (counters(s"$query#1"), counters(s"$query#2"))
      assert((a.jobs, a.stages, a.tasks) == (b.jobs, b.stages, b.tasks), s"$query: $a vs $b")
      (a, b)
    }
    try {
      val (mmr, _) = twoRuns("sim_mmr_rerank")
      // the job count the standalone per-query profiler printed for this
      // query at sf0.001 before the listener moved into Bench
      assert(mmr.jobs == 8, s"$mmr")
      assert(mmr.inputBytes > 0 && mmr.shuffleWriteBytes > 0, s"$mmr")
      // the stored-index serve entries, at most the jobs this test
      // counted for them: the IVFPQ serve core's query batch, ADC and
      // refine passes plus the count, and IVF2 since its search stages
      // were shared
      Seq("sim_topk_ivf_pq_indexed" -> 7, "sim_topk_ivf2_indexed" -> 14)
        .foreach { case (query, jobs) =>
          val (a, _) = twoRuns(query)
          assert(a.jobs <= jobs && a.inputBytes > 0, s"$query: $a")
        }
      // the BM25 serve core's batch collect, df pass and contribution
      // pass, and, for the hybrid, the cosine pass over the embeddings
      // and the inline BM25 leg's tokenize passes
      Seq("text_bm25_topk_indexed" -> 6, "sim_hybrid_rrf" -> 15)
        .foreach { case (query, jobs) =>
          val (a, _) = twoRuns(query)
          assert(a.jobs <= jobs && a.inputBytes > 0, s"$query: $a")
        }
    } finally spark.sparkContext.removeSparkListener(counters)
  }

  test("annServeBatch serves a warm query batch in at most 5 Spark jobs") {
    val sf = "/root/testdata/sf0.001"
    import spark.implicits._
    val base = graft.operators.Similarity.ivfPqWriteIndex(spark, sf,
      Files.createTempDirectory("annjobs_idx").toString)
    val out = Files.createTempDirectory("annjobs_out").toString
    // foreign ids, as a served batch has: the corpus vectors of 0..7
    val batch = graft.sources.Tables.embeddings(spark, sf).filter($"vec_id" < 8)
      .select(($"vec_id" + 10000000L).as("vec_id"), $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq.toDF("vec_id", "embedding")
    val counters = new Bench.GroupCounters
    spark.sparkContext.addSparkListener(counters)
    def serve(group: String, batchId: Long): Unit = {
      spark.sparkContext.setJobGroup(group, group)
      try graft.streaming.EventStream.annServeBatch(batch, batchId, base, out, Some(sf))
      finally spark.sparkContext.clearJobGroup()
    }
    try {
      // the warm-up call opens the index models and the vector store
      serve("ann#warm", 0L)
      serve("ann#1", 1L)
      org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
      val c = counters("ann#1")
      // ADC map stage + ADC result, refine scan, batch write
      assert(c.jobs >= 1 && c.jobs <= 5, s"annServeBatch: $c")
    } finally spark.sparkContext.removeSparkListener(counters)
    assert(spark.read.parquet(s"$out/batch-1").count() == 8 * 5)
  }

  test("hybridServeBatch serves a warm query batch in at most 6 Spark jobs") {
    val sf = "/root/testdata/sf0.001"
    import spark.implicits._
    val out = Files.createTempDirectory("hybjobs_out").toString
    // foreign ids, as a served batch has: the corpus text and vectors of 0..7
    val batch = graft.sources.Tables.documents(spark, sf).filter($"doc_id" < 8)
      .select($"doc_id", $"text")
      .join(graft.sources.Tables.embeddings(spark, sf).select($"vec_id", $"embedding"),
        $"doc_id" === $"vec_id")
      .select(($"doc_id" + 10000000L).as("qid"), $"text", $"embedding")
      .as[(Long, String, Seq[Float])].collect().toSeq.toDF("qid", "text", "embedding")
    val counters = new Bench.GroupCounters
    spark.sparkContext.addSparkListener(counters)
    def serve(group: String, batchId: Long): Unit = {
      spark.sparkContext.setJobGroup(group, group)
      try graft.streaming.EventStream.hybridServeBatch(batch, batchId, sf, out, 5)
      finally spark.sparkContext.clearJobGroup()
    }
    try {
      // the warm-up call opens the postings and vector stores and reads
      // the corpus scalars
      serve("hyb#warm", 0L)
      serve("hyb#1", 1L)
      org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
      val c = counters("hyb#1")
      // batch terms collect, BM25 df pass, BM25 contribution pass (map
      // stage + result), cosine pass, batch write
      assert(c.jobs >= 1 && c.jobs <= 6, s"hybridServeBatch: $c")
    } finally spark.sparkContext.removeSparkListener(counters)
    assert(spark.read.parquet(s"$out/batch-1").count() == 8 * 5)
  }
}
