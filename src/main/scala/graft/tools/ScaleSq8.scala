package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.VectorFns

/** Round-9 stress: SQ8 quantization at the 100 TB design point — encode
  * throughput on 1 M × 64-d vectors, the affine error bound, and a
  * recall floor for quantized brute-force search (the ScaleAnnK
  * recall-gate pattern: a quantizer regression that silently degrades
  * search quality must fail this run, not a human eyeball).
  *
  *  - ENCODE: one narrow per-row transform under driver-literal stats;
  *    wall is the scan, ∝ rows — the ingest-side cost (31m ships the
  *    same transform into the stream).
  *  - ERROR BOUND: max |x − reconstruct(code(x))| over all 64 M values
  *    must be ≤ max_d Δ_d (Δ_d = (mx−mn)/255) — the affine contract,
  *    enforced with `require`.
  *  - RECALL FLOOR: top-5 cosine over SQ8 reconstructions vs exact, 5
  *    probes × 1 M candidates; mean recall must clear 0.8 (the gated
  *    AnnAssignSpec floor, here at 200× the corpus).
  *
  * Run: sbt "runMain graft.tools.ScaleSq8"
  */
object ScaleSq8 {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    import spark.implicits._

    val dim = 64
    def synth(n: Long, clusters: Int): DataFrame =
      spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          sin((col("id") % clusters) * lit(7.31) + j * lit(1.709)) +
            lit(0.15) * sin(col("id") * lit(13.17) + j * lit(0.37))).as("raw"))
        .withColumn("nrm", VectorFns.norm(col("raw")))
        .select(col("vec_id"), VectorFns.normalize(col("raw"), col("nrm")).as("vec"))

    val corpus = synth(1000000L, 1024).repartition(64).cache()
    corpus.count()

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-40s $s%8.2f s")
      (r, s)
    }

    // stats: per-dim min/max → driver literals (the "model")
    val (stats, _) = time("sq8 stats (64x2 aggregate)") {
      corpus.select(posexplode(col("vec")).as(Seq("pos", "v")))
        .groupBy(col("pos")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    }
    val mins = (0 until dim).map(i => stats(i)._1).toArray
    val maxs = (0 until dim).map(i => stats(i)._2).toArray
    val maxDelta = (0 until dim).map(i => (maxs(i) - mins(i)) / 255.0).max

    // encode throughput (sum over a code column defeats projection pruning)
    val codesCol = Similarity.sq8Codes(col("vec"), mins, maxs)
    val (_, tEnc) = time("sq8 encode 1M x 64-d") {
      corpus.select(codesCol.as("codes"))
        .agg(sum(element_at(col("codes"), 1))).first()
    }

    // affine error bound over all 64 M values
    val recCol = Similarity.sq8Reconstruct(codesCol, mins, maxs)
    val (maxErr, _) = time("error-bound scan (max |x - xh|)") {
      corpus.select(
        array_max(zip_with(col("vec"), recCol, (x, xh) => abs(x - xh))).as("e"))
        .agg(max(col("e"))).first().getDouble(0)
    }
    println(f"[scale] max reconstruction error $maxErr%.8f vs bound $maxDelta%.8f")
    require(maxErr <= maxDelta + 1e-12,
      f"SQ8 affine contract violated: $maxErr%.8f > $maxDelta%.8f")

    // recall floor: quantized vs exact top-5, 5 probes x 1M candidates
    def top5(scored: DataFrame): Map[Long, Set[Long]] = {
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("qid"), col("nid")).as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    }
    val q = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val (exact, _) = time("exact brute-force top-5 (5 x 1M)") {
      top5(corpus.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          VectorFns.dot6(col("qvec"), col("vec")).as("cos")))
    }
    val recQ = corpus.select(col("vec_id"), recCol.as("xh"))
      .withColumn("nn", sqrt(VectorFns.dot(col("xh"), col("xh"))))
    val qq = recQ.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("xh").as("qh"), col("nn").as("qn"))
    val (quant, _) = time("quantized brute-force top-5 (5 x 1M)") {
      top5(recQ.join(broadcast(qq), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          round(VectorFns.dot(col("qh"), col("xh")) / (col("qn") * col("nn")), 6).as("cos")))
    }
    val recall = exact.map { case (k, e) => (quant(k) & e).size.toDouble / e.size }
    val mean = recall.sum / recall.size
    println(f"[scale] SQ8 recall@5 vs exact at 1M: $mean%.3f (per-query ${recall.toList})")
    require(mean >= 0.8, f"SQ8 recall floor violated: $mean%.3f < 0.8")

    spark.stop()
  }
}
