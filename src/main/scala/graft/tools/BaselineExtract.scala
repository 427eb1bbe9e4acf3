package graft.tools

/** The graft side of BASELINE.md's re-measure recipe, as a committed
  * main so every round can refresh the 2×-bar numbers the same way
  * (VERDICT r11 #8): times `Extractor.extractPapers` itself — JVM/sbt
  * startup excluded, exactly as the reference timing excludes Python
  * startup — over the same workloads the reference side runs:
  *
  *  - extract 100 / 5 000 of the sf0.1 documents table;
  *  - extract 100 / 50 000 of the 1 M-doc replicated corpus
  *    ([[Corpora.ensureBigDocuments]] — built on first run).
  *
  * Two timed reps per workload (the first also absorbs codegen/JIT for
  * that plan shape; BOTH print, the second is the steady-state number).
  * Run both sides back-to-back in the same quiet window:
  * `sbt "runMain graft.tools.BaselineExtract"` plus the reference
  * python3 snippet in BASELINE.md.
  */
object BaselineExtract {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)

    def timed(label: String, path: String, n: Int): Unit = {
      for (rep <- 0 to 1) {
        val out = s"target/tmp/baseline_graft_out"
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
        val t0 = System.nanoTime()
        graft.api.Extractor.extractPapers(spark, path, out, n, seed = 42)
        val s = (System.nanoTime() - t0) / 1e9
        val files = Option(new java.io.File(out).list()).map(_.length).getOrElse(0)
        println(f"[baseline] GRAFT $label rep$rep: $s%.2f s files=$files")
      }
    }

    timed("extract 100 of 5000 (sf0.1)", "/root/testdata/sf0.1/documents.parquet", 100)
    timed("extract 5000 of 5000 (sf0.1)", "/root/testdata/sf0.1/documents.parquet", 5000)
    val big = Corpora.ensureBigDocuments(spark)
    timed("extract 100 of 1M", big, 100)
    timed("extract 50000 of 1M", big, 50000)
    spark.stop()
  }
}
