package graft.tools
import org.apache.spark.sql.functions._
import graft.api.Extractor

/** Build a replicated 1M-doc corpus and time graft's extraction on it
  * (the reference's pandas path is timed separately from python). */
object Scale {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    val big = Corpora.ensureBigDocuments(spark)
    spark.read.parquet(big).count() // warm
    val out = "target/tmp/big_extract"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val t0 = System.nanoTime()
    val n = Extractor.extractPapers(spark, big, out, 50000).count()
    println(f"[scale] graft extractPapers(50000 of 1M docs): ${(System.nanoTime()-t0)/1e9}%.2f s files=$n")
    // breakdown: sampling+render without the file sink
    val t1 = System.nanoTime()
    val sampled = graft.operators.Sampling.sampleN(
      spark.read.parquet(big), org.apache.spark.sql.functions.col("doc_id"), 50000)
    println(f"[scale] sample-only 50k: ${(System.nanoTime()-t1)/1e9}%.2f s rows=" + sampled.count())
    spark.stop()
  }
}
