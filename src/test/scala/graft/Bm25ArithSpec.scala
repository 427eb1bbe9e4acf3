package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Retrieval

/** Differential proof for the driver-merged BM25 and RRF cores: the
  * driver arithmetic (idf, tf factor, 6-dp contribution, DECIMAL(28,12)
  * sum → 4-dp score, 8-dp RRF term and sum) is BIT-IDENTICAL to the
  * Spark expressions the window plans evaluated, and the cores rank
  * exactly like those plans (reproduced verbatim here), ties included.
  * The DuckDB oracles stay the gate for the shipped entries; this spec
  * pins Spark-vs-driver equivalence (the MmrGreedySpec precedent).
  */
class Bm25ArithSpec extends AnyFunSuite {
  lazy val spark = GraftSession.test
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** (tf, dl, df, n, t) over the stored ranges: 1 ≤ tf ≤ dl ≤ t,
    * 1 ≤ df ≤ n, t ≥ n; every tenth row has df = n, and a block of
    * rows repeats an earlier one exactly. */
  private def cases(seed: Int, count: Int): Seq[(Long, Long, Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val xs = (0 until count).map { i =>
      val n = 1L + rnd.nextInt(if (i % 3 == 0) 50 else 2000000)
      val t = n * (1L + rnd.nextInt(300)) + rnd.nextInt(1000)
      val dl = 1L + rnd.nextInt(math.min(t, 5000L).toInt)
      val tf = 1L + rnd.nextInt(dl.toInt)
      val df = if (i % 10 == 0) n else 1L + (rnd.nextLong() & Long.MaxValue) % n
      (tf, dl, df, n, t)
    }
    xs ++ xs.take(20)
  }

  test("bm25 driver arithmetic == the Spark idf, tf factor, contribution and score expressions") {
    val rows = cases(11, 2000)
    val viaSpark = rows.toDF("tf", "dl", "df", "n", "t")
      .select(
        round(log2(col("n") * 2L + 2L) - log2(col("df") * 2L + lit(1L)), 8).as("idf"),
        round((col("tf") * (col("t") * 22L)).cast("double") /
          (col("tf") * (col("t") * 10L) + col("t") * 3L + col("dl") * (col("n") * 9L))
            .cast("double"), 8).as("tfp"))
      .withColumn("c", round(col("idf") * col("tfp"), 6))
      .withColumn("cu", col("c").cast("decimal(28,12)"))
      .as[(Double, Double, Double, java.math.BigDecimal)].collect()
    rows.zip(viaSpark).foreach { case ((tf, dl, df, n, t), (idf, tfp, _, cu)) =>
      val gotIdf = Retrieval.bm25Idf(df, n)
      val gotTfp = Retrieval.bm25TfPart(tf, dl, n, t)
      assert(java.lang.Double.compare(gotIdf, idf) == 0, s"idf(df=$df, n=$n): $gotIdf vs $idf")
      assert(java.lang.Double.compare(gotTfp, tfp) == 0,
        s"tf part(tf=$tf, dl=$dl, n=$n, t=$t): $gotTfp vs $tfp")
      assert(Retrieval.bm25Contrib(gotIdf, gotTfp) == cu.unscaledValue.longValueExact,
        s"contribution($idf, $tfp): ${Retrieval.bm25Contrib(gotIdf, gotTfp)} vs $cu")
    }

    // scores: groups of 1-12 of those contributions, and 6-dp
    // contributions whose sums land exactly on a 4-dp half
    val rnd = new scala.util.Random(5)
    val derived: Seq[Seq[Double]] = viaSpark.map(_._3).toSeq.grouped(1 + rnd.nextInt(12)).toSeq
    val halves = Seq.fill(200) {
      val base = rnd.nextInt(200000) * 100L + 50L // micro-units ending in 50
      val split = rnd.nextInt(base.toInt + 1).toLong
      Seq(split / 1e6, (base - split) / 1e6).map(graft.functions.VecNative.round6)
    }
    val groups = (derived ++ halves).zipWithIndex
    val scored = groups.flatMap { case (cs, g) => cs.map(c => (g, c)) }.toDF("g", "c")
      .groupBy(col("g"))
      .agg(round(sum(col("c").cast("decimal(28,12)")).cast("double"), 4).as("score"))
      .as[(Int, Double)].collect().toMap
    groups.foreach { case (cs, g) =>
      val got = Retrieval.bm25Score(cs.map(Retrieval.units12(_)).sum)
      assert(java.lang.Double.compare(got, scored(g)) == 0, s"score($cs): $got vs ${scored(g)}")
    }
  }

  test("rrf driver arithmetic == the Spark 8-dp term and DECIMAL(28,12) sum") {
    val rnd = new scala.util.Random(3)
    val lists = Seq.fill(500)(Seq.fill(1 + rnd.nextInt(3))(1 + rnd.nextInt(1000))) ++
      (1 to 40).map(r => Seq(r, r)) // a term summed with itself
    val indexed = lists.zipWithIndex
    val fused = indexed.flatMap { case (rns, g) => rns.map(rn => (g, rn)) }.toDF("g", "rn")
      .select(col("g"), round(lit(1.0) / (col("rn") + lit(60)), 8).as("c"))
      .groupBy(col("g"))
      .agg(round(sum(col("c").cast("decimal(28,12)")).cast("double"), 8).as("rrf"))
      .as[(Int, Double)].collect().toMap
    indexed.foreach { case (rns, g) =>
      val got = Retrieval.rrfScore(rns.map(Retrieval.rrfTerm).sum)
      assert(java.lang.Double.compare(got, fused(g)) == 0, s"rrf($rns): $got vs ${fused(g)}")
    }
  }

  /** The window fusion `rrfFuseOf` ran before its driver core, verbatim. */
  private def rrfWindow(lists: Seq[DataFrame], k: Int): Seq[(Long, Int, Long, Double)] = {
    val both = lists.reduce(_ unionByName _)
      .select(col("qid"), col("id"), round(lit(1.0) / (col("rn") + lit(60)), 8).as("c"))
    val fused = both.groupBy(col("qid"), col("id"))
      .agg(round(sum(col("c").cast("decimal(28,12)")).cast("double"), 8).as("rrf"))
    val w = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("id"))
    fused.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("id"), col("rrf"))
      .orderBy(col("qid"), col("rn"))
      .as[(Long, Int, Long, Double)].collect().toSeq
  }

  test("rrfFuseOf == the window fusion on rank lists full of tied sums") {
    val rnd = new scala.util.Random(17)
    // two systems ranking overlapping 30-id pools: many ids share a
    // fused score (rank r in one list and s in the other ties r'+s')
    def list(): DataFrame = (0L until 6L).flatMap { q =>
      rnd.shuffle((0L until 30L).toList).take(20).zipWithIndex
        .map { case (id, i) => (q, id, i + 1) }
    }.toDF("qid", "id", "rn")
    val lists = Seq(list(), list())
    val got = Retrieval.rrfFuseOf(lists, 7).as[(Long, Int, Long, Double)].collect().toSeq
    assert(got == rrfWindow(lists, 7))
    assert(got.groupBy(r => (r._1, r._4)).exists(_._2.size > 1), "no tied fused scores")
  }

  /** The window plan `bm25Of` ran before its driver core, verbatim:
    * df aggregate, broadcast idf join, DECIMAL(28,12) sum, row_number. */
  private def bm25Window(qposts: DataFrame, qterms: DataFrame, nDocs: Long, tToks: Long,
                         k: Int): Seq[(Long, Int, Long, Double)] = {
    val dfreq = qposts.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qidf = dfreq.join(qterms, "term")
      .select(col("qid"), col("term"),
        round(log2(lit(2L * nDocs + 2L)) - log2(col("df") * 2L + lit(1L)), 8).as("idf"))
    val contrib = qposts.join(broadcast(qidf), "term")
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"),
        round(col("idf") *
          round((col("tf") * lit(22L * tToks)).cast("double") /
            (col("tf") * lit(10L * tToks) + lit(3L * tToks) +
              col("dl") * lit(9L * nDocs)).cast("double"), 8), 6).as("c"))
    val scored = contrib.groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(col("c").cast("decimal(28,12)")).cast("double"), 4).as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("doc_id"), col("score"))
      .orderBy(col("qid"), col("rn"))
      .as[(Long, Int, Long, Double)].collect().toSeq
  }

  test("bm25 core == the window plan on the stored sf0.001 postings, ties and self-exclusion included") {
    val (postings, stats) = Retrieval.bm25Store(spark, sf)
    val st = stats.head
    // corpus docs' own term sets (self-excluded), a foreign query of
    // single common terms (its candidates tie on score wherever tf and
    // dl agree), and a term no posting carries
    val common = postings.groupBy(col("term")).count()
      .orderBy(col("count").desc, col("term")).limit(3)
      .select(col("term")).as[String].collect().toSeq
    val qterms = (postings.filter(col("doc_id") < 6)
      .select(col("doc_id").as("qid"), col("term")).as[(Long, String)].collect().toSeq ++
      common.map(t => (900L, t)) ++ Seq((901L, common.head), (902L, "zzz-no-such-term")))
      .toDF("qid", "term")
    val vocab = qterms.select(col("term")).distinct().as[String].collect().toSeq
    val qposts = postings.filter(col("term").isInCollection(vocab))
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    // a short list cut across partitions, and whole ranked lists
    Seq(3, 500).foreach { k =>
      val want = bm25Window(qposts, qterms, st.getLong(0), st.getLong(1), k)
      val got = Retrieval.bm25Of(postings, stats, qterms, k)
        .select(col("qid"), col("rn"), col("doc_id"), col("score"))
        .as[(Long, Int, Long, Double)].collect().toSeq
      assert(got == want, s"k=$k")
      assert(got.exists(_._1 == 900L) && !got.exists(_._1 == 902L))
      if (k == 500)
        assert(got.filter(_._1 == 901L).groupBy(_._4).exists(_._2.size > 1), "no tied scores")
    }
  }
}
