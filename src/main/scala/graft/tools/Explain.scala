package graft.tools

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.ListenerBridge

import graft.SparkEntry

/** Dump the formatted physical plan of one or more queries:
  * `sbt "runMain graft.tools.Explain q5_local_supplier ..."`. The Spark
  * passes a query runs while it builds its result (collects of batch-
  * or model-sized frames, the IVFPQ serve core's fused ADC and refine
  * passes) print first, each with its executed plan. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(8)
    args.foreach { name =>
      println(s"========== $name ==========")
      val (df, passes) = ListenerBridge.withQueries(spark)(SparkEntry.queries(name)(spark, sfDir))
      passes.zipWithIndex.foreach { case ((action, qe), i) =>
        println(s"---------- pass ${i + 1}: $action ----------")
        println(qe.explainString(FormattedMode))
      }
      if (passes.nonEmpty) println("---------- result ----------")
      df.explain("formatted")
    }
    spark.stop()
  }
}
