package graft.tools
import org.apache.spark.sql.functions._

/** Stage-level profile of cdcChunkDedup at the 1 M-doc replicated
  * corpus: where does the wall go — the per-position boundary hashing
  * (cdcChunkFrame), the chunk-hash rank, or the reassembly agg? */
object ProfCdc {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    val dir = "target/tmp/bigsf"
    Corpora.linkBigDocuments(spark, dir)
    val docs = graft.sources.Tables.documents(spark, dir)
    docs.count() // warm FS cache
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[prof] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    // stage 1: the in-row frame alone (boundary hashing + segmentation)
    time("cdcChunkFrame.count") {
      graft.operators.TextAnalysis.cdcChunkFrame(docs).count()
    }
    // stage 1b: NATIVE boundary hashing only (no segmentation/explode).
    // NB: read the aggregated VALUE — a bare .count() over a global agg
    // lets column pruning drop the expensive expression entirely (the
    // first run of this tool "measured" 54 M HOF md5 calls at 0.37 s
    // that way)
    time("native-cuts-only sum") {
      docs.select(graft.functions.TextFns.tokens(col("text")).as("t"))
        .select(size(graft.functions.CdcCuts.of(col("t"), 4, 8)).as("nc"))
        .agg(sum("nc")).first().getLong(0)
    }
    // stage 2: frame + chunk-hash rank (no reassembly)
    time("frame+rank.count") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("ch")).orderBy(col("doc_id"), col("chunk_id"))
      graft.operators.TextAnalysis.cdcChunkFrame(docs)
        .withColumn("ch", md5(col("chunk_text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).count()
    }
    // full operator — sum(n_kept) read back so reassembly can't prune
    time("cdcChunkDedup full (forced)") {
      graft.operators.Curation.cdcChunkDedup(spark, dir)
        .agg(sum(col("n_kept"))).first().getLong(0)
    }
    // the substring comparator, same session, same forcing
    time("substringDedup full (forced)") {
      graft.operators.Curation.substringDedup(spark, dir)
        .agg(sum(col("n_kept"))).first().getLong(0)
    }
    spark.stop()
  }
}
