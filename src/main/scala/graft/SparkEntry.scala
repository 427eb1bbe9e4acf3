package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship: the reference's whole point — sample + detect + render
    * markdown docs — on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RefCore.markdownRender(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Analytics.queries ++ RefCore.queries ++ Dedup.queries ++
      Similarity.queries ++ TextAnalysis.queries ++ Multimodal.queries ++
      AsOfJoin.queries ++ RangeJoin.queries ++ Curation.queries ++
      Retrieval.queries

  /** The queries named in `filter`, a comma-separated list, or all of
    * them when there is none; sorted by name. Verify and Bench select
    * through this, so a misspelt name fails before any query runs. */
  def select(filter: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val names = filter.fold(all.keys.toSeq)(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    names.distinct.sorted.map(n => n -> all(n))
  }

  /** Prints a failed query's error to stderr as `[tag] name failed: ...`,
    * with its ROOT cause and six stack frames: a fatal error inside
    * Spark's broadcast/codegen futures arrives as a wrapper whose message
    * ("Boxed Exception") names nothing. */
  def printFailure(tag: String, name: String, e: Throwable): Unit = {
    var root = e
    while (root.getCause != null && (root.getCause ne root)) root = root.getCause
    System.err.println(s"[$tag] $name failed: ${e.getClass.getName}: ${e.getMessage}" +
      (if (root ne e) s" | root: ${root.getClass.getName}: ${root.getMessage}" else ""))
    root.getStackTrace.take(6).foreach(f => System.err.println(s"[$tag]   at $f"))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Analytics.oracle ++ RefCore.oracle ++ Dedup.oracle ++
      Similarity.oracle ++ TextAnalysis.oracle ++ Multimodal.oracle ++
      AsOfJoin.oracle ++ RangeJoin.oracle ++ Curation.oracle ++
      Retrieval.oracle
}
