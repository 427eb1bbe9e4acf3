package graft

import org.apache.spark.sql.SparkSession
import graft.api.{Extractor, Jobs}

/** CLI mirroring the reference's main.py surface:
  *
  *   runMain graft.Main parquet <file.parquet> [--output_dir D] [--num_papers N] [--seed S]
  *   runMain graft.Main cisi <CISI.ALL> [--output_dir D]
  *   runMain graft.Main analyze <file.parquet>
  *
  * (legacy form: a bare parquet path, main.py:217-225)
  */
object Main {

  private def flag(args: Array[String], name: String, default: String): String =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }.getOrElse(default)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try run(spark, args)
    finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = args.headOption match {
    case Some("parquet") =>
      val id = Jobs.submit("parquet", flag(args, "--output_dir", "extracted_papers")) {
        Extractor.extractPapers(spark, args(1),
          flag(args, "--output_dir", "extracted_papers"),
          flag(args, "--num_papers", "1000").toInt,
          flag(args, "--seed", "42").toInt)
      }
      report(id)
    case Some("cisi") =>
      val id = Jobs.submit("cisi", flag(args, "--output_dir", "cisi_papers")) {
        Extractor.convertCisi(spark, args(1), flag(args, "--output_dir", "cisi_papers"))
      }
      report(id)
    case Some("analyze") =>
      val df = spark.read.parquet(args(1))
      val content = graft.operators.ColumnDetect.detect(df).content.getOrElse("text")
      Extractor.analyzeTokens(df, content).show(truncate = false)
    case Some("gc-stores") =>
      // operational entry for the materialize-once cache layer: reclaim
      // superseded store generations under spark.graft.cache.root.
      // Defaults are the conservative library defaults (keep the newest
      // generation per corpus-group regardless of age); --dry-run first
      // is the recommended habit.
      val maxAge = flag(args, "--max-age-hours", "168").toDouble
      val hard = flag(args, "--hard-max-age-hours", "").toString
      val entries = graft.operators.Layout.gcStores(spark,
        maxAgeMs = (maxAge * 3600 * 1000).toLong,
        keepNewest = flag(args, "--keep-newest", "1").toInt,
        dryRun = args.contains("--dry-run"),
        hardMaxAgeMs = if (hard.isEmpty) Long.MaxValue
                       else (hard.toDouble * 3600 * 1000).toLong)
      entries.sortBy(e => (e.family, e.group, -e.ageMs)).foreach { e =>
        println(f"[gc] ${e.action}%-13s ${e.family}/${e.key}  " +
          f"age=${e.ageMs / 3600000.0}%.1fh bytes=${e.bytes}")
      }
      val freed = entries.filter(_.action == "deleted").map(_.bytes).sum
      println(s"[gc] ${entries.count(_.action == "deleted")} deleted, " +
        s"$freed bytes freed, ${entries.count(_.action.startsWith("kept"))} kept" +
        (if (args.contains("--dry-run"))
           s", ${entries.count(_.action == "would-delete")} would delete" else ""))
    case Some(path) if path.endsWith(".parquet") => // legacy mode
      run(spark, Array("parquet", path) ++ args.drop(1))
    case _ =>
      println("usage: parquet <file> | cisi <file> | analyze <file> [--output_dir D] [--num_papers N] [--seed S]" +
        " | gc-stores [--max-age-hours H] [--keep-newest N] [--hard-max-age-hours H] [--dry-run]")
  }

  private def report(id: String): Unit = {
    val j = Jobs.status(id).get
    println(s"[job] id=${j.id} type=${j.jobType} status=${j.status} " +
      s"files=${j.fileCount} output_dir=${j.outputDir}" +
      (if (j.error.nonEmpty) s" error=${j.error}" else ""))
  }
}
