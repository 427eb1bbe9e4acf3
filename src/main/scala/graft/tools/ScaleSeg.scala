package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Scale record for the unspaced-run segmenter (round 20): proves the
  * 23d scale claim — fold cost ∝ DISTINCT runs, not run occurrences —
  * and linearity in the corpus once the vocabulary saturates.
  *
  * Corpus: md5-derived 32-codepoint hiragana runs (the r19 "md5, not
  * arithmetic" lesson), a driver-built pool of `Pool` distinct runs
  * each appearing corpus/Pool times. Measured frames are forced by
  * READING sum(n_units) (the r17 column-pruning trap: an unread agg
  * deletes the fold being measured; the unused seg_md5 column prunes
  * identically on both paths, isolating fold cost).
  *
  * Legs:
  *  1. 250k docs, per-occurrence fold (the streaming formulation run
  *     batch-wide) vs the distinct-run + broadcast-join-back shape the
  *     batch operator ships: same total units, and the distinct path
  *     must win (it folds 100k runs instead of 250k occurrences; the
  *     gap widens with reuse — at a real crawl's duplication factors
  *     the occurrence path is linearly worse forever).
  *  2. 1M → 2M docs over the SAME pool (reuse 10× → 20×): the distinct
  *     path re-folds NOTHING new — growth must stay well under 2×
  *     (only the join-back + aggregate sides scale with the corpus).
  *
  *   java -cp ... graft.tools.ScaleSeg
  */
object ScaleSeg {
  private def f2(d: Double) = f"$d%.2f"

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(16)
    import spark.implicits._

    val Pool = 100000
    val RunLen = 32

    // md5-derived hiragana runs (each byte → U+3041..U+3080, inside the
    // unspaced block class); two digests cover the 32 codepoints
    val md = java.security.MessageDigest.getInstance("MD5")
    def runOf(i: Int): String = {
      val bytes = md.digest(s"segpool:$i".getBytes("UTF-8")) ++
        md.digest(s"segpool:$i:b".getBytes("UTF-8"))
      bytes.take(RunLen).map(b => (0x3041 + (b & 0x3F)).toChar).mkString
    }
    val pool = (0 until Pool).map(i => (i.toLong, runOf(i)))
    val poolDf = pool.toDF("rid", "text")

    def docs(n: Long): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
          pmod(col("id"), lit(Pool.toLong)).as("rid"))
        .join(broadcast(poolDf), Seq("rid"))
        .select(col("doc_id"), col("text"))

    def timeSum(frame: => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val s = frame.agg(sum(col("n_units"))).first().getLong(0)
      ((System.nanoTime() - t0) / 1e9, s)
    }

    // warmup (uncounted): both plan shapes once at 50k, so measured
    // legs pay for the fold, not Janino/JIT (the Bench discipline)
    timeSum(docs(50000L).select(size(TextAnalysis.segUnits(col("text")))
      .cast("long").as("n_units")))
    timeSum(TextAnalysis.segStatsOf(docs(50000L)).select(col("n_units")))

    // ---- leg 1: per-occurrence vs distinct-run fold at 250k ------------
    val n1 = 250000L
    val (occWall, occSum) = timeSum(
      docs(n1).select(size(TextAnalysis.segUnits(col("text")))
        .cast("long").as("n_units")))
    val (disWall, disSum) = timeSum(
      TextAnalysis.segStatsOf(docs(n1)).select(col("n_units")))
    println(s"[seg] leg1 250k docs / 100k distinct: occurrence ${f2(occWall)} s, " +
      s"distinct ${f2(disWall)} s (${f2(occWall / disWall)}x)")
    require(occSum == disSum, s"paths disagree: $occSum vs $disSum")
    require(disWall < occWall,
      s"distinct path must win at 2.5x reuse: $disWall vs $occWall")

    // ---- leg 2: 1M -> 2M over the same pool (reuse 10x -> 20x) ---------
    val (w1, s1) = timeSum(TextAnalysis.segStatsOf(docs(1000000L)).select(col("n_units")))
    val (w2, s2) = timeSum(TextAnalysis.segStatsOf(docs(2000000L)).select(col("n_units")))
    println(s"[seg] leg2 1M ${f2(w1)} s -> 2M ${f2(w2)} s (${f2(w2 / w1)}x for 2x docs)")
    require(s2 == 2 * s1, s"unit totals must double exactly: $s1 -> $s2")
    require(w2 / w1 < 1.8,
      s"fold side is pool-bounded; growth must stay under 2x: ${w2 / w1}")

    println(s"""[seg] {"metric":"seg_scale","occ_250k":${f2(occWall)},""" +
      s""""dis_250k":${f2(disWall)},"speedup":${f2(occWall / disWall)},""" +
      s""""dis_1m":${f2(w1)},"dis_2m":${f2(w2)},"growth_2x":${f2(w2 / w1)}}""")
    spark.stop()
  }
}
