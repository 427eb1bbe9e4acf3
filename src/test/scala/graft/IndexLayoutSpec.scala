package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Retrieval, Similarity}

/** Round 13: the STORAGE half of the 100 TB serve story — served
  * indexes are laid out so the serve tail's literal probe filters
  * become file-level pruning, asserted on EXECUTED plans (the
  * LayoutSpec discipline applied to the index stores):
  *   - IVFPQ codes are `partitionBy(label)` → a probe-schedule query
  *     reads exactly its probed-cell directories;
  *   - IVF2 cells are `partitionBy(cid1, cid2)` → the scoring scan
  *     reads only probed sub-cell directories;
  *   - BM25 postings are `bucketBy(term)` → a query batch reads only
  *     the buckets its vocabulary hashes into.
  */
class IndexLayoutSpec extends AnyFunSuite {
  lazy val spark = GraftSession.test
  import spark.implicits._

  /** All physical nodes, descending through AQE wrappers. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  /** The file scans of an EXECUTED df whose path mentions `pathPart`. */
  private def scansOf(df: DataFrame, pathPart: String): Seq[FileSourceScanExec] =
    scansIn(df.queryExecution.executedPlan, pathPart)

  private def scansIn(plan: SparkPlan, pathPart: String): Seq[FileSourceScanExec] =
    allNodes(plan).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(pathPart)) => s
    }

  /** `run`'s result, and the executed plans of the queries it ran. The
    * IVFPQ serve answers with a local relation built from its ADC and
    * refine passes, so its scans live in those passes' plans. */
  private def withPlans[T](run: => T): (T, Seq[SparkPlan]) = {
    val (out, queries) = ListenerBridge.withQueries(spark)(run)
    (out, queries.map(_._2.executedPlan))
  }

  /** The plan strings of `plans` that scan the vector store. */
  private def vecScans(plans: Seq[SparkPlan]): Seq[String] =
    plans.map(_.toString).filter(_.contains("vec_store"))

  test("ivfpq codes store: label partitions, probe reads schedule-many directories") {
    val sf = "/root/testdata/sf0.001"
    val base = Similarity.ivfPqWriteIndex(spark, sf,
      java.nio.file.Files.createTempDirectory("ivfpq_idx").toString + "/idx")

    // the store's directories ARE the coarse cells
    val dirs = new java.io.File(s"$base/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("label=")))

    val codes = Similarity.ivfPqReadCodes(spark, base)
    val books = spark.read.parquet(s"$base/books")
    val cells = spark.read.parquet(s"$base/cells")
    val nCells = cells.count().toInt
    val sched = Similarity.probeScheduleFor(nCells)
    assert(sched < nCells, "spec needs a schedule that prunes (7 of 10 at this SF)")

    // ONE query → its probed-label IN filter prunes to exactly `sched`
    // of the store's directories (code-only serve: the codes scan is
    // the only corpus-sized read in the plan)
    val q1 = Similarity.emb(spark, sf).filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val (_, plans) = withPlans(Similarity.ivfPqOf(codes, books, cells, q1))
    val scans = plans.flatMap(scansIn(_, "codes"))
    assert(scans.nonEmpty, "no codes scan found in the executed plans")
    val read = scans.map(_.metrics("numPartitions").value).max
    assert(read == sched,
      s"probe of $sched cells read $read of $nCells codes directories")
  }

  test("ivf2 cells store: (cid1,cid2) partitions, co-located queries prune the scoring scan") {
    // The gated 4×4 geometry probes EVERYTHING under the round-13 top
    // schedule (⌈2√4⌉ floors to all 4 tops), so pruning is asserted at
    // a 16-top geometry — schedule(16) = 8 tops — the regime the store
    // layout exists for. All five query ids share ONE vector, so the
    // probed-pair union is one query's probe set: ≤ 8 tops × 4
    // sub-cells of the 16×4 grid — deterministic pruning, not a
    // property of cluster geometry.
    val dim = 8
    val rnd = new scala.util.Random(13)
    def v(center: Int): Seq[Double] =
      Seq.tabulate(dim)(i => (if (i == center) 10.0 else 0.0) + rnd.nextGaussian() * 0.1)
    val q0 = v(0)
    val rows = (0 until 1000).map { id =>
      val vec = if (id < 5) q0 else v(id % 8)
      (id.toLong, vec.map(_.toFloat).toArray, id % 8)
    }
    val dir = java.nio.file.Files.createTempDirectory("ivf2_corpus").toString
    rows.toSeq.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val base = java.nio.file.Files.createTempDirectory("ivf2_idx").toString
    val (cells, subbooks, topsDf) =
      Similarity.ivf2IndexOf(Similarity.emb(spark, dir).cache(), k1 = 16, k2 = 4)
    cells.write.mode("overwrite").partitionBy("cid1", "cid2")
      .parquet(s"$base/cells")
    subbooks.write.mode("overwrite").parquet(s"$base/subbooks")
    topsDf.write.mode("overwrite").parquet(s"$base/tops")

    val served = Similarity.ivf2Of(Similarity.ivf2ReadCells(spark, base),
      spark.read.parquet(s"$base/subbooks"),
      spark.read.parquet(s"$base/tops"))
    served.collect()
    val total = new java.io.File(s"$base/cells").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).count(_.isDirectory)
    val scans = scansOf(served, "cells")
    assert(scans.nonEmpty, "no cells scan found in the executed plan")
    // the SCORING scan is the pruned one; the query-row scan reads the
    // vec_id filter without partition pruning — take the minimum
    val read = scans.map(_.metrics("numPartitions").value).min
    assert(total >= 40, s"expected a well-occupied 16x4 grid on disk, got $total")
    assert(read <= 32 && read < total,
      s"8-top probe should read <= 32 sub-cell dirs, scan read $read of $total")
  }

  test("vector store: vec_id buckets, the refine tail's candidate IN filter prunes buckets") {
    val sf = "/root/testdata/sf0.001"
    val vecs = Similarity.vecStore(spark, sf)
    val nb = Similarity.vecBuckets(spark, sf)
    // two candidate ids → at most 2 of the store's buckets in the plan
    val ids = vecs.select(col("vec_id")).orderBy(col("vec_id")).head(2).map(_.get(0)).toSeq
    val pruned = vecs.filter(col("vec_id").isInCollection(ids))
    val plan = pruned.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
    assert(sel.nonEmpty, s"bucket pruning missing from plan:\n$plan")
    assert(sel.get.group(1).toInt <= 2 && sel.get.group(2).toInt == nb,
      s"2-id filter should read <= 2 of $nb buckets, plan said ${sel.get.matched}")
    // and the refined serve through the bucketed store returns exactly
    // what it returned over the flat frame (layout must not change answers)
    val viaStore = Similarity.topkIvfPqIndexed(spark, sf)
      .as[(Long, Long, Double, Int)].collect().toSet
    val base = Similarity.ivfPqWriteIndex(spark, sf,
      java.nio.file.Files.createTempDirectory("ivfpq_flatref").toString + "/idx")
    val viaFlat = Similarity.ivfPqOf(Similarity.ivfPqReadCodes(spark, base),
        spark.read.parquet(s"$base/books"), spark.read.parquet(s"$base/cells"),
        Similarity.emb(spark, sf).filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("vec").as("qvec")),
        refine = Some(Similarity.emb(spark, sf)))
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(viaStore == viaFlat, "bucketed-store refine diverged from flat-frame refine")
  }

  test("adaptive refine source: wide coverage takes flat view, narrow keeps pruning (r14)") {
    val sf = "/root/testdata/sf0.001"
    // default derived layout (16-bucket floor): ~all corpus vectors are
    // candidates at this SF, coverage is wide → the serve should take
    // the FLAT view (no bucket metadata in the refine scan)
    val (rDefault, defaultPlans) = withPlans(Similarity.topkIvfPqIndexed(spark, sf)
      .as[(Long, Long, Double, Int)].collect().toSet)
    assert(vecScans(defaultPlans).nonEmpty, "no refine scan of the vector store")
    assert(!vecScans(defaultPlans).exists(_.contains("SelectedBucketsCount")),
      "wide-coverage refine should have taken the flat view (no bucketed scan in plan)")
    // a store forced to 512 buckets: the same candidate set covers a
    // small minority of buckets → the serve keeps the pruned bucketed scan
    val store = Similarity.Vectors.open(spark, sf, Some(512))
    val base = Similarity.ivfPqWriteIndex(spark, sf,
      java.nio.file.Files.createTempDirectory("ivfpq_narrow").toString + "/idx")
    val (rNarrow, narrowPlans) = withPlans(Similarity.ivfPqOf(
        Similarity.ivfPqReadCodes(spark, base),
        spark.read.parquet(s"$base/books"), spark.read.parquet(s"$base/cells"),
        Similarity.emb(spark, sf).filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("vec").as("qvec")),
        refine = Some(store.bucketed), refineFlat = Some((store.flat, store.nb)))
      .as[(Long, Long, Double, Int)].collect().toSet)
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(vecScans(narrowPlans).mkString("\n"))
    assert(sel.nonEmpty, "narrow-coverage refine should have kept the bucketed scan")
    assert(sel.get.group(2).toInt == 512, s"wrong layout in plan: ${sel.get.matched}")
    assert(rNarrow == rDefault, "refine source choice changed answers")
  }

  test("refine literal budget: forced broadcast semi-join path is value-identical (r14)") {
    val sf = "/root/testdata/sf0.001"
    val rLiteral = Similarity.topkIvfPqIndexed(spark, sf)
      .as[(Long, Long, Double, Int)].collect().toSet
    spark.conf.set("spark.graft.ann.refineLiteralMaxIds", "1")
    try {
      val (rJoin, joinPlans) = withPlans(Similarity.topkIvfPqIndexed(spark, sf)
        .as[(Long, Long, Double, Int)].collect().toSet)
      assert(vecScans(joinPlans).exists(_.contains("LeftSemi")),
        "over-budget refine should prune via a broadcast semi-join")
      assert(rJoin == rLiteral, "semi-join refine diverged from literal-IN refine")
      // an unbounded budget must not overflow the bounded id collect
      spark.conf.set("spark.graft.ann.refineLiteralMaxIds", Long.MaxValue.toString)
      val rMax = Similarity.topkIvfPqIndexed(spark, sf)
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(rMax == rLiteral, "Long.MaxValue refine budget diverged from the default")
    } finally spark.conf.unset("spark.graft.ann.refineLiteralMaxIds")
  }

  test("bm25 postings store: term buckets, a small vocabulary prunes buckets") {
    val sf = "/root/testdata/sf0.001"
    val store = Retrieval.Postings.open(spark, sf)
    val postings = store.bucketed
    val term1 = postings.select(col("term")).head.getString(0)
    val pruned = postings.filter(col("term").isInCollection(Seq(term1)))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains(s"SelectedBucketsCount: 1 out of ${store.nb}"),
      s"bucket pruning missing from plan:\n$plan")
    // and the real serve tail returns the same lists as the inline plan
    val inline = Retrieval.bm25Topk(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSet
    val idx = Retrieval.bm25TopkIndexed(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(idx == inline, "bucketed-store serve diverged from inline bm25")
  }

  test("Layout.buckets: derived counts move with n, power-of-2, floored and capped") {
    import graft.operators.Layout
    // floor regime: tiny corpora still get a real multi-bucket layout
    assert(Layout.buckets(0L, 8192L) == 16)
    assert(Layout.buckets(500L, 8192L) == 16)
    assert(Layout.buckets(16 * 8192L, 8192L) == 16) // exactly fills the floor
    // growth regime: smallest power of 2 covering n/rowsPerBucket
    assert(Layout.buckets(16 * 8192L + 1, 8192L) == 32)
    assert(Layout.buckets(1000000L, 8192L) == 128) // the ScaleRetrieval gate size
    assert(Layout.buckets(1000000L, 1024L) == 1024) // the ScaleIvfPq gate size
    // cap regime
    assert(Layout.buckets(Long.MaxValue / 4, 1024L) == 4096)
    // monotone in n (spot ladder)
    val ladder = Seq(1L, 100L, 10000L, 200000L, 5000000L, 100000000L)
      .map(Layout.buckets(_, 1024L))
    assert(ladder == ladder.sorted, s"not monotone: $ladder")
    // every result a power of two
    assert(ladder.forall(b => Integer.bitCount(b) == 1))
  }

  test("Layout.tableCount: same-second regen invalidates the memo (part-listing key)") {
    import graft.operators.Layout
    // regen a table WITHIN one mtime second: directory mtime can't
    // distinguish the two states, the part listing (sizes) must
    val dir = java.nio.file.Files.createTempDirectory("layout_regen").toString
    // pin the directory mtime to ONE fixed second around both writes so
    // an mtime-only key provably could not tell the two states apart
    val pinned = (System.currentTimeMillis() / 1000) * 1000
    spark.range(10).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    new java.io.File(s"$dir/t.parquet").setLastModified(pinned)
    val c1 = Layout.tableCount(spark, dir, "t")
    spark.range(250).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    new java.io.File(s"$dir/t.parquet").setLastModified(pinned)
    val c2 = Layout.tableCount(spark, dir, "t")
    assert(c1 == 10L && c2 == 250L,
      s"stale memo after same-second regen: first=$c1 second=$c2")
  }
}
