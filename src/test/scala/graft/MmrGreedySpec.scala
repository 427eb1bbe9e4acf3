package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFns
import graft.operators.{Retrieval, Similarity}

/** Differential proof for the r20 in-task MMR greedy: the per-query
  * selection that replaced the K−1 driver-coordinated Spark rounds is
  * BIT-IDENTICAL to the expression formulation it replaced.
  *
  *  1. `mmrRound6` replicates the Round expression (BigDecimal.valueOf
  *     + HALF_UP) on arbitrary doubles including shortest-repr ties,
  *     NaN and infinities.
  *  2. `mmrDot6` replicates `VectorFns.dot6` (the DotProduct sequential
  *     fold, then round 6) on arbitrary vector pairs.
  *  3. The whole operator equals the pre-r20 driver-loop formulation
  *     (reproduced verbatim here) on the sf0.001 corpus — same rows,
  *     same scores, same ranks. The DuckDB oracle remains the gate for
  *     the shipped entry; this spec pins Spark-vs-Spark equivalence.
  */
class MmrGreedySpec extends AnyFunSuite {
  lazy val spark = GraftSession.test
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("mmrRound6 == Spark round(_, 6) on arbitrary and tie-shaped doubles") {
    val rnd = new scala.util.Random(42)
    val xs = Seq.fill(500)(rnd.nextDouble() * 2 - 1) ++
      Seq.fill(200)((rnd.nextInt(2000001) - 1000000) / 1e7) ++ // exact 7-dp ties
      Seq(0.1234565, -0.1234565, 0.9999995, -0.9999995, 0.0, -0.0,
        Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val viaSpark = xs.toDF("x").select(round(col("x"), 6).as("r"))
      .as[Double].collect()
    xs.zip(viaSpark).foreach { case (x, expect) =>
      val got = Retrieval.mmrRound6(x)
      assert(java.lang.Double.compare(got, expect) == 0 ||
        (got.isNaN && expect.isNaN), s"round6($x): got $got expected $expect")
    }
  }

  test("mmrDot6 == VectorFns.dot6 on arbitrary vector pairs") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(300)((Seq.fill(16)(rnd.nextDouble() * 2 - 1),
      Seq.fill(16)(rnd.nextDouble() * 2 - 1)))
    val viaSpark = pairs.toDF("a", "b")
      .select(VectorFns.dot6(col("a"), col("b")).as("d"))
      .as[Double].collect()
    pairs.zip(viaSpark).foreach { case ((a, b), expect) =>
      assert(java.lang.Double.compare(Retrieval.mmrDot6(a, b), expect) == 0)
    }
  }

  /** The pre-r20 formulation, verbatim: K−1 driver rounds of
    * anti-join + pen aggregate + window argmax. */
  private def mmrDriverLoop(dir: String): Seq[(Long, Long, Double, Int)] = {
    val all = Similarity.emb(spark, dir).select(col("vec_id"), col("vec"))
    driverLoopOver(Similarity.cosineRanked(spark, dir, 5, 20)
      .select(col("qid"), col("nid"), col("cos"))
      .join(all.select(col("vec_id").as("nid"), col("vec")), "nid"), all)
  }

  /** The driver rounds over given candidates (qid, nid, cos, vec) and
    * vectors (vec_id, vec). */
  private def driverLoopOver(candRows: DataFrame,
                             all: DataFrame): Seq[(Long, Long, Double, Int)] = {
    val MmrNum = 7
    val K = 5
    val cands = candRows.cache()
    val w0 = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val first = cands
      .withColumn("rnk", row_number().over(w0)).filter(col("rnk") === 1)
      .select(col("qid"), col("nid"),
        round(lit(MmrNum) * col("cos") / 10d, 6).as("mmr"))
      .as[(Long, Long, Double)].collect().toSeq
    var selected = first.map(t => (t._1, t._2, t._3, 1))
    for (r <- 2 to K) {
      val selDf = selected.map(t => (t._1, t._2)).toDF("qid", "sid")
      val selv = selDf
        .join(all.select(col("vec_id").as("sid"), col("vec").as("svec")), "sid")
      val un = cands.join(selDf.select(col("qid"), col("sid").as("nid")),
        Seq("qid", "nid"), "left_anti")
      val wr = Window.partitionBy(col("qid")).orderBy(col("mmr").desc, col("nid"))
      val pick = un.join(broadcast(selv), "qid")
        .groupBy(col("qid"), col("nid"), col("cos"))
        .agg(max(VectorFns.dot6(col("vec"), col("svec"))).as("pen"))
        .select(col("qid"), col("nid"),
          round((lit(MmrNum) * col("cos") - lit(10 - MmrNum) * col("pen")) / 10d, 6)
            .as("mmr"))
        .withColumn("rnk", row_number().over(wr)).filter(col("rnk") === 1)
        .select(col("qid"), col("nid"), col("mmr"))
        .as[(Long, Long, Double)].collect()
      selected = selected ++ pick.map(t => (t._1, t._2, t._3, r))
    }
    cands.unpersist()
    selected.sortBy(t => (t._1, t._4))
  }

  test("in-task greedy == the driver-loop formulation it replaced (sf0.001)") {
    val expect = mmrDriverLoop(sf)
    val got = Retrieval.mmrRerank(spark, sf)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got == expect)
    assert(expect.nonEmpty && expect.map(_._4).max == 5)
  }

  test("in-task greedy ranks a NaN cos the way the Spark window does, wherever it sits by nid") {
    // nids 2 and 4 carry a NaN cos. Spark's window (and DuckDB) order
    // NaN above every number, so rounds 1 and 2 take them; a plain
    // `>` lets a NaN win only as the first untaken candidate scanned
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 8L).map(i => (i, Seq.fill(4)(rnd.nextDouble() * 2 - 1)))
    val cands = vecs.map { case (nid, v) =>
      (nid, if (nid == 2L || nid == 4L) Double.NaN else 0.9 - nid * 0.1, v)
    }.toArray
    val expect = driverLoopOver(
      cands.toSeq.map { case (nid, c, v) => (100L, nid, c, v) }.toDF("qid", "nid", "cos", "vec"),
      vecs.toDF("vec_id", "vec"))
    def bits(rows: Seq[(Long, Double, Int)]) =
      rows.map { case (nid, mmr, rn) => (nid, java.lang.Double.doubleToLongBits(mmr), rn) }
    val got = Retrieval.mmrGreedy(cands)
    assert(got.take(2).map(_._1) == Seq(2L, 4L), got)
    assert(bits(got) == bits(expect.map(t => (t._2, t._3, t._4))))
  }
}
