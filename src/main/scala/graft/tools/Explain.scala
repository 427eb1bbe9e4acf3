package graft.tools

import graft.SparkEntry

/** Dump the formatted physical plan of one or more queries:
  * `sbt "runMain graft.tools.Explain q5_local_supplier ..."` */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(8)
    args.foreach { name =>
      println(s"========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
