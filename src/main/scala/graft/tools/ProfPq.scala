package graft.tools

import org.apache.spark.sql.functions._

/** Phase timing for the inline PQ path: train+encode (pqIndexOf) vs
  * ADC scoring (pqOf) — to locate where topkPq's wall time goes at the
  * k=64 geometry.
  *
  *   sbt "runMain graft.tools.ProfPq"
  */
object ProfPq {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(32)
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profpq] $name%-18s ${(System.nanoTime() - t0) / 1e9}%6.2f s"); r
    }
    import graft.operators.Similarity
    // warm codegen on the small sibling
    graft.SparkEntry.queries("sim_topk_pq")(spark, "/root/testdata/sf0.001").count()
    spark.catalog.clearCache()
    for (rep <- 1 to 2) {
      println(s"--- rep $rep")
      t("full topkPq") { Similarity.topkPq(spark, sfDir).count() }
      spark.catalog.clearCache()
      val all = Similarity.emb(spark, sfDir).cache()
      t("unit+cache") { all.count() }
      val (codes, books) = t("pqIndexOf build") {
        val (c, b) = Similarity.pqIndexOf(all)
        (c.cache(), b.cache())
      }
      t("codes count") { codes.count() }
      t("pqOf score") {
        Similarity.pqOf(codes, books,
          all.filter(col("vec_id") < 5)
            .select(col("vec_id").as("qid"), col("vec").as("qvec"))).count()
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
