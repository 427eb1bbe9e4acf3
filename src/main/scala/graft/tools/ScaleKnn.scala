package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.VectorFns

/** Round-11 stress: the kNN-graph + pagerank family at the 100 TB
  * design point — 1 M × 64-d vectors bucketed into 1024 effective
  * cells by the TWO-LEVEL assignment (the gated entry's flat k=10 holds
  * only at sf scale; the graph build itself, [[Similarity.knnGraphOf]],
  * is partitioner-agnostic by design).
  *
  * What must hold:
  *  - per-cell pair volume stays bounded (~1 M²/1024 ≈ 1 M pairs/cell
  *    at uniform occupancy): the build is minutes of equi-join, never
  *    the 10¹² all-pairs product;
  *  - QUALITY on the clustered corpus: each vector's top-1 neighbor
  *    shares its true synthetic cluster ≥ 95% of sampled vectors (the
  *    cells respect cluster structure, so within-cell candidates
  *    contain the true neighbors);
  *  - pagerank over the 1 M-node / ≤3 M-edge graph completes in one
  *    bounded round-loop with the rank vector distributed end to end.
  *
  * Run: sbt "runMain graft.tools.ScaleKnn"
  */
object ScaleKnn {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    import spark.implicits._

    val dim = 64
    val clusters = 1024
    def synth(n: Long): DataFrame =
      spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          sin((col("id") % clusters) * lit(7.31) + j * lit(1.709)) +
            lit(0.15) * sin(col("id") * lit(13.17) + j * lit(0.37))).as("raw"))
        .withColumn("nrm", VectorFns.norm(col("raw")))
        .select(col("vec_id"), VectorFns.normalize(col("raw"), col("nrm")).as("vec"))

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-40s $s%8.2f s")
      (r, s)
    }

    val corpus = synth(1000000L).repartition(64).cache()
    corpus.count()
    val sample = corpus.filter(col("vec_id") % 20 === 0)

    // ---- two-level bucketing: 32 x 32 = 1024 effective cells ----------
    val (cells, tAssign) = time("two-level assign (32x32) + cache") {
      val c = Similarity.assignTwoLevel(corpus, k1 = 32, k2 = 32, iters = 1,
          train = Some(sample))
        .select(col("vec_id"),
          (col("cid1").cast("long") * 1000 + col("cid2")).as("cid"))
        .join(corpus, Seq("vec_id"))
        .select(col("vec_id"), col("vec"), col("cid"))
        .repartition(64, col("cid")).cache()
      c.count(); c
    }
    val occ = cells.groupBy(col("cid")).count()
      .agg(max(col("count")), avg(col("count"))).first()
    println(s"[scale] cell occupancy max=${occ.getLong(0)} avg=${occ.getDouble(1)}%.0f"
      .replace("%.0f", f"${occ.getDouble(1)}%.0f"))

    // ---- graph build ---------------------------------------------------
    val (graph, tBuild) = time("knnGraphOf J=3 over 1M, 1024 cells") {
      val g = Similarity.knnGraphOf(cells, j = 3).cache()
      g.count(); g
    }
    val nEdges = graph.count()
    require(nEdges <= 3000000L, s"edge count $nEdges exceeds J*n")
    require(graph.filter(col("vec_id") === col("nid")).isEmpty, "self-edge found")

    // top-1 neighbor shares the true cluster (sampled: every 997th vector)
    val top1 = graph.filter(col("rn") === 1 && col("vec_id") % 997 === 0)
      .select((col("vec_id") % clusters).as("ca"), (col("nid") % clusters).as("cb"))
    val agree = top1.filter(col("ca") === col("cb")).count().toDouble / top1.count()
    println(f"[scale] top-1 same-cluster agreement: $agree%.3f")
    require(agree >= 0.95, f"agreement $agree%.3f below 0.95 floor")

    // ---- pagerank over the built graph --------------------------------
    val (_, tPr) = time("pagerankOf over 1M nodes / 3M edges") {
      Similarity.pagerankOf(corpus.select(col("vec_id")),
          graph.select(col("vec_id").as("src"), col("nid").as("dst")))
        .agg(count(lit(1)), sum(col("pr"))).first()
    }

    // ---- label propagation over the same graph ------------------------
    // communities must respect the synthetic cluster structure: sampled
    // nodes sharing a community share the true cluster (the kNN edges
    // are overwhelmingly intra-cluster at 0.95+ top-1 agreement, so LPA
    // should almost never fuse across clusters)
    val (comm, tLpa) = time("labelPropagateOf over 1M nodes / sym edges") {
      val de = graph.select(col("vec_id").as("src"), col("nid").as("dst"))
      val c = Similarity.labelPropagateOf(corpus.select(col("vec_id")),
        de.union(de.select(col("dst").as("src"), col("src").as("dst"))).distinct())
        .cache()
      c.count(); c
    }
    val nComm = comm.select(col("community")).distinct().count()
    val crossPairs = comm.filter(col("vec_id") % 499 === 0)
      .select((col("vec_id") % clusters).as("truec"), col("community"))
      .groupBy(col("community"))
      .agg(countDistinct(col("truec")).as("nc"))
    val fused = crossPairs.filter(col("nc") > 1).count()
    val nSampledComms = crossPairs.count()
    println(s"[scale] LPA communities=$nComm fusedSampledComms=$fused/$nSampledComms")
    require(nComm >= clusters / 2,
      s"LPA collapsed: $nComm communities for $clusters true clusters")
    require(fused <= nSampledComms / 10,
      s"LPA fused across clusters in $fused of $nSampledComms sampled communities")

    // ---- round-count linearity (round 12) ------------------------------
    // The per-round localCheckpoint cadence must make LPA wall LINEAR
    // in rounds (each round: one count agg + one argmax + one join,
    // lineage cut every round — no superlinear re-planning). 12 rounds
    // vs the 4-round default: allow 4x for 3x the rounds (scheduling
    // floor noise), require the curve is not quadratic (9x+).
    val (_, tLpa12) = time("labelPropagateOf 12 rounds (linearity)") {
      val de = graph.select(col("vec_id").as("src"), col("nid").as("dst"))
      Similarity.labelPropagateOf(corpus.select(col("vec_id")),
          de.union(de.select(col("dst").as("src"), col("src").as("dst"))).distinct(),
          rounds = 12)
        .agg(count(lit(1))).first()
    }
    println(f"[scale] lpa rounds 4->12: $tLpa%.1f -> $tLpa12%.1f s " +
      f"(${tLpa12 / tLpa}%.2fx for 3x rounds)")
    // Round 13 (ADVICE): the 4.5x linearity bound is a WARNING, not a
    // hard gate — single-rep wall-clock ratios on a loaded machine can
    // trip it spuriously when the 4-round arm lands unusually fast.
    // The hard failure is reserved for the quadratic regime (9x+ for
    // 3x rounds), which no noise profile produces.
    if (tLpa12 > tLpa * 4.5)
      println(f"[scale] WARNING: 12-round LPA wall ${tLpa12}%.1f s > 4.5x the " +
        f"4-round ${tLpa}%.1f s — re-run on a quiet machine before reading this as a regression")
    require(tLpa12 <= tLpa * 9.0,
      f"12-round LPA wall ${tLpa12}%.1f s QUADRATIC vs 4-round ${tLpa}%.1f s")

    println(f"[scale] RECORD assign=$tAssign%.1f build=$tBuild%.1f pagerank=$tPr%.1f " +
      f"lpa=$tLpa%.1f lpa12=$tLpa12%.1f communities=$nComm edges=$nEdges agree=$agree%.3f")
    spark.stop()
  }
}
