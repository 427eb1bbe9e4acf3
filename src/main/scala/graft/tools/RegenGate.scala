package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.VectorFns

/** Round-12 regen-safety check (VERDICT r11 #4): the graph-family and
  * dedup_semantic oracles now COMPUTE their k-means cell count from the
  * corpus ([[graft.operators.Similarity.knnCellsFor]]'s SQL twin)
  * instead of pinning k=10 — which silently held only for n ≤ 2 000.
  * This tool synthesizes a testdata directory whose embeddings table
  * has n = 5 000 vectors (k derives to 25 in BOTH engines) so the
  * ordinary gate (`graft.Verify` + `tools/check.py`) can run against it
  * UNMODIFIED:
  *
  * {{{
  * sbt "runMain graft.tools.RegenGate"            # writes target/tmp/regen5000
  * sbt "runMain graft.Verify target/tmp/regen5000 target/tmp/regen5000_out \
  *      dedup_semantic,sim_knn_graph,sim_graph_pagerank,sim_graph_communities,curation_density_prune"
  * python3 tools/check.py target/tmp/regen5000 target/tmp/regen5000_out
  * }}}
  *
  * Round 13 extends the run to the ANN probe-schedule family (VERDICT
  * r12 #7): `probeScheduleSql` claims the same count()-derived
  * regen-safety, and this corpus — 5 000 rows, STRING labels where the
  * shipped testdata has ints — is the foreign-n proof. The second
  * Verify list:
  *
  * {{{
  * sbt "runMain graft.Verify target/tmp/regen5000 target/tmp/regen5000_ann \
  *      sim_topk_ivf,sim_topk_ivf_sq8,sim_topk_ivf_trained,sim_topk_ivf_pq,\
  *      sim_topk_ivf_pq_indexed,sim_topk_ivf2,sim_topk_ivf2_indexed"
  * python3 tools/check.py target/tmp/regen5000 target/tmp/regen5000_ann
  * }}}
  *
  * Every non-embeddings table is copied from sf0.01 verbatim (the
  * checked queries only read embeddings; check.py just needs the views
  * to resolve). Embeddings are clustered float32 vectors with a few
  * exact duplicates so dedup_semantic's value-grouping stage is
  * non-vacuous.
  */
object RegenGate {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "target/tmp/regen5000"
    val srcDir = "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local(8)

    new java.io.File(outDir).mkdirs()
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents")) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$srcDir/$t.parquet"),
        java.nio.file.Paths.get(s"$outDir/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    val n = 5000L
    val dim = 64
    // NEAR-ISOTROPIC vectors (pure per-id noise), matching the real
    // testdata's regime: nearest-neighbor cosines stay well under the
    // 0.95 semantic-dedup threshold, so the only ≥0.95 pairs are the
    // planted EXACT duplicates (ids 0..49 copy ids 1000..1049) — those
    // collapse in the value-grouping stage BEFORE the pair join, keeping
    // the oracle's recursive reach closure tiny. (A first cut used
    // clustered vectors; phase aliasing made near-cliques of ~10³ nodes
    // and the closure spilled tens of GB — the all-pairs explosion this
    // engine's own operators are built to avoid.)
    val baseId = when(col("id") < 50, col("id") + 1000).otherwise(col("id"))
    val emb = spark.range(n).select(
        col("id").as("vec_id"),
        concat(lit("c"), (baseId % 10).cast("string")).as("label"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          sin(baseId * lit(13.17) + j * lit(0.37) +
            (baseId * j) % 97 * lit(0.51)).cast("float"))
          .as("embedding"))
    val tmp = s"$outDir/_emb_build"
    emb.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$outDir/embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    println(s"[regen] wrote $outDir: embeddings n=$n dim=$dim " +
      s"(k derives to ${graft.operators.Similarity.knnCellsFor(n)}), other tables copied from sf0.01")
    spark.stop()
  }
}
