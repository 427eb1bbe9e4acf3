package graft.tools

/** Full-suite decade record: every SparkEntry query timed once at sf0.1
  * and once at synthesized sf1 (ScaleSf1's FK-consistent 10× corpus),
  * growth factor = sf1/sf0.1 per query. The headliner decade studies
  * (ScaleSf1/ScaleSf10) cover 14 queries; this closes the other ~68 —
  * the cheapest way to catch a scale cliff hiding in a non-headliner
  * (a countDistinct blowup, a window state cliff, a wide agg).
  *
  * Protocol: full codegen warmup at sf0.001 (every query once), caches
  * cleared between timed runs, queries in alphabetical order, one rep
  * per SF (this is a growth-factor record, not a regression bench — the
  * driver's BENCH_r{N} medians are that). Writes BENCH_sf1_r20.json at
  * the repo root AND prints shard lines like Bench.
  */
object BenchSf1 {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    ScaleSf1.ensureCorpus(spark)

    val names = graft.SparkEntry.select(None)
    def timeAt(dir: String): Map[String, Double] =
      names.map { case (name, fn) =>
        name -> graft.Bench.timeQuery(spark, name, fn, dir, group = dir)
      }.toMap
    timeAt("/root/testdata/sf0.001") // codegen warmup: every query once at the smallest SF

    val at01 = timeAt(ScaleSf1.Src)
    val at1 = timeAt(ScaleSf1.Dir)
    def f3(d: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val entries = names.map { case (name, _) =>
      val (a, b) = (at01(name), at1(name))
      val growth = if (a > 0 && b > 0) b / a else -1.0
      (name, a, b, growth)
    }
    val qs = entries.map { case (n, a, b, g) =>
      s""""$n":{"sf01":${f3(a)},"sf1":${f3(b)},"growth":${f3(g)}}"""
    }.mkString("{", ",", "}")
    val worst = entries.filter(_._4 > 0).sortBy(-_._4).take(10)
      .map { case (n, _, _, g) => s""""$n":${f3(g)}""" }.mkString("{", ",", "}")
    val json = s"""{"metric":"sf1_growth","sf01_total":${f3(at01.values.filter(_ > 0).sum)},""" +
      s""""sf1_total":${f3(at1.values.filter(_ > 0).sum)},"n_queries":${names.length},""" +
      s""""worst_growth":$worst,"queries":$qs}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_sf1_r20.json"), json + "\n")
    entries.sortBy(-_._4).foreach { case (n, a, b, g) =>
      println(f"[sf1bench] $n%-26s sf0.1 ${a}%7.2f s  sf1 ${b}%7.2f s  growth ${g}%6.2f×")
    }
    println(s"[sf1bench] totals: sf0.1 ${f3(at01.values.filter(_ > 0).sum)} s → " +
      s"sf1 ${f3(at1.values.filter(_ > 0).sum)} s; record written to BENCH_sf1_r20.json")
    spark.stop()
  }
}
