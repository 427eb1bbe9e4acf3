package graft.tools

import org.apache.spark.sql.functions._

/** Phase breakdown for dedup_clusters at sf0.1 (VERDICT r9 #7): where do
  * the ~4 s go — the edge pipeline (tokenize → fingerprint → rep shingle
  * explode → df-capped set-similarity self-join), the CC rounds, or the
  * final mapping join? Phases are forced in sequence with their caches
  * left warm exactly as the real operator leaves them, so the sum is
  * comparable to one gated run. */
object ProfClusters {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(32)
    import graft.functions.TextFns
    import graft.operators.{Dedup, Graph}

    // warm codegen
    Dedup.dedupClusters(spark, "/root/testdata/sf0.001").count()
    spark.catalog.clearCache()

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profc] $label: ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }

    // mirror dedupClustersOf stage by stage (same plans, same caches)
    val docs = graft.sources.Tables.documents(spark, dir)
    val toks = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("__ts"))
      .cache()
    val fp = toks.select(col("doc_id"),
      when(size(col("__ts")) >= 3, graft.functions.TextFns.contentFp(col("__ts")))
        .otherwise(concat(lit("noshingle:"), col("doc_id").cast("string")))
        .as("content_fp"))
    val withRep = fp.select(col("doc_id"),
      min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("content_fp")))
        .as("rep")).cache()
    t("fingerprint + rep window (toks cache materialize)")(withRep.count())
    val repIds = withRep.filter(col("doc_id") === col("rep")).select(col("doc_id"))
    val repSh = toks.join(repIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        explode(array_distinct(TextFns.shinglesFromTokens(col("__ts"), 3))).as("s"))
      .repartition(col("s")).cache()
    t("rep shingle explode (repSh cache materialize)")(repSh.count())
    val edges = Dedup.profEdgesFrom(repSh).cache()
    t("set-similarity self-join (edges materialize)")(edges.count())
    val comp = t("connected components rounds")(
      Graph.connectedComponents(repIds.select(col("doc_id").as("id")), edges)
        .localCheckpoint())
    t("final cluster mapping join + sort")(
      withRep.join(comp.select(col("id").as("rep"), col("component")), Seq("rep"))
        .select(col("doc_id"), col("component").as("cluster_id"))
        .orderBy(col("doc_id")).count())
    spark.stop()
  }
}
