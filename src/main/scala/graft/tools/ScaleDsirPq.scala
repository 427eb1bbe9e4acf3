package graft.tools
import org.apache.spark.sql.functions._

/** Scale stress for the round-7 operators on the shared big corpus
  * (1 M docs = sf0.1 × 200 reps; 100 k vectors = sf0.1 × 50 reps):
  *
  *  - curation_dsir_sample at 1 M docs / ~450 M gram occurrences — the
  *    LM aggregate must stay ≤B rows and the scoring shuffle must stay
  *    corpus-bounded (doc, bucket) pairs, never raw gram rows.
  *  - dsirModel + streaming-shape dsirScore throughput at 1 M docs —
  *    the narrow dense-array scorer has no shuffle at all; its wall
  *    time should track pure scan+tokenize throughput.
  *  - text_unigram_surprisal at 1 M docs — the vocab join-back is the
  *    interesting piece: token-keyed equi-join at 450 M rows.
  *  - sim_topk_pq at 100 k vectors — codebooks still train on
  *    subspace rows (4 × 100 k), codes stay 4 small ints per vector,
  *    every model-sized object stays broadcast.
  */
object ScaleDsirPq {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    val dir = "target/tmp/bigsf"

    // same corpus pieces as Scale/ScaleDedup/ScaleAll, built if absent
    Corpora.linkBigDocuments(spark, dir)
    if (!new java.io.File(s"$dir/embeddings.parquet").exists()) {
      spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .withColumn("rep", explode(sequence(lit(0), lit(49))))
        .select((col("vec_id") + col("rep") * 2000L).as("vec_id"),
          col("embedding"), col("label"))
        .repartition(32).write.parquet(s"$dir/embeddings.parquet")
    }

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[scale] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
      spark.catalog.clearCache()
    }
    import graft.operators._
    time("dsir_sample 1M docs")(Curation.dsirSample(spark, dir).count())
    time("dsir model+score 1M docs")({
      val (lam, c) = Curation.dsirModel(spark, dir)
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      // aggregate OVER logw: count() would let Spark prune the scoring
      // fold itself and time only the tokenize filter
      val r = graft.streaming.EventStream.dsirScore(docs, lam, c)
        .agg(count(lit(1)), sum(col("logw"))).first()
      r.getLong(0)
    })
    time("unigram_surprisal 1M docs")(TextAnalysis.unigramSurprisal(spark, dir).count())
    time("sim_topk_pq 100k vecs")(Similarity.topkPq(spark, dir).count())
    spark.stop()
  }
}
