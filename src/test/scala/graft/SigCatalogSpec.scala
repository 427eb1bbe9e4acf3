package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BatchCatalog, Dedup}

/** Signature-only incremental catalog (round 15): near-dup state is 32
  * minhash longs per doc instead of the full shingle set. The spec pins
  * the contract: clear-cut verdicts agree with the exact-shingle
  * catalog, the estimated Jaccard tracks the exact one within the
  * ±1/√32 band, and the append-merge keeps classification
  * rebuild-equivalent. */
class SigCatalogSpec extends AnyFunSuite {
  lazy val spark = GraftSession.test
  import spark.implicits._

  private val Commons = Seq("the", "and", "with", "near", "over", "from",
    "into", "upon", "that", "when", "then")
  private def docText(i: Long): String =
    (1 to 12).map(k => s"sig${i}_$k").zipAll(Commons, "", "")
      .flatMap { case (u, c) => Seq(u, c) }.filter(_.nonEmpty).mkString(" ")
  private def docsDf(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("sig catalog: verdicts agree with the exact catalog on clear cases; estimate tracks exact jaccard") {
    val base = docsDf((1L to 15L).map(i => i -> docText(i)))
    val (fpS, shS) = Dedup.buildCatalog(base)          // exact-shingle catalog
    val (fpG, sigG) = Dedup.buildSigCatalog(base)      // signature catalog
    // storage shape: one 32-component row per doc
    val sigRows = sigG.select(col("doc_id"), size(col("sig")).as("w"))
      .as[(Long, Int)].collect()
    assert(sigRows.length == 15 && sigRows.forall(_._2 == 32))

    val batch = docsDf(Seq(
      100L -> docText(3L),                          // exact copy of 3
      101L -> (docText(5L) + " extra chatter tail"), // near-dup of 5 (j ≈ 0.875)
      102L -> docText(42L)))                         // novel
    val exact = Dedup.incrementalOf(fpS, shS, batch)
      .select(col("doc_id"), col("status"), col("match_id"))
      .as[(Long, String, java.lang.Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val sig = Dedup.incrementalSigOf(fpG, sigG, batch)
      .as[(Long, String, java.lang.Long, java.lang.Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    assert(exact(100L) == (("exact_dup", 3L)) && sig(100L)._1 == "exact_dup" &&
      sig(100L)._2 == 3L, s"exact dup must agree: ${sig(100L)}")
    assert(exact(101L) == (("near_dup", 5L)) && sig(101L)._1 == "near_dup" &&
      sig(101L)._2 == 5L, s"near dup must agree: ${sig(101L)}")
    assert(exact(102L)._1 == "novel" && sig(102L)._1 == "novel")
    // the estimate tracks the true jaccard (21/24 = 0.875) within the
    // signature's ±1/√32 ≈ 0.18 expected band (allow 0.3 hard)
    val est = sig(101L)._3.doubleValue
    assert(math.abs(est - 0.875) <= 0.3,
      s"estimated jaccard $est too far from the true 0.875")

    // merge keeps classification rebuild-equivalent: after absorbing
    // the batch, a copy of the batch's novel doc exact-matches it
    val verdicts = Dedup.incrementalSigOf(fpG, sigG, batch)
    val Seq(fp2, sig2) = Dedup.SigCatalog.merge(Seq(fpG, sigG), batch, verdicts)
    val probe = docsDf(Seq(200L -> docText(42L)))
    val v2 = Dedup.incrementalSigOf(fp2, sig2, probe)
      .as[(Long, String, java.lang.Long, java.lang.Double)].collect()
    assert(v2.head._2 == "exact_dup" && v2.head._3 == 102L,
      s"merged sig catalog must classify the copy as 102's dup: ${v2.toSeq}")
  }

  test("persisted sig catalog: batch-keyed appends, retried batch idempotent") {
    val root = java.nio.file.Files.createTempDirectory("sigcat").toString
    val (fpPath, sigPath) = (s"$root/fp", s"$root/sig")
    val base = docsDf((1L to 10L).map(i => i -> docText(i)))
    val (fp0, sig0) = Dedup.buildSigCatalog(base)
    BatchCatalog.write(fp0, fpPath, 0L); BatchCatalog.write(sig0, sigPath, 0L)

    def classify(batch: org.apache.spark.sql.DataFrame, exclude: Option[Long]) = {
      val Seq(fp, sig) = Dedup.SigCatalog.read(spark, Seq(fpPath, sigPath), exclude)
      Dedup.incrementalSigOf(fp, sig, batch)
    }

    val batch = docsDf(Seq(20L -> docText(20L), 21L -> (docText(7L) + " extra tail")))
    val v1 = classify(batch, Some(1L))
    Dedup.SigCatalog.append(Seq(fpPath, sigPath), batch, v1, batchId = 1L)
    // crash retry of the same batch: its own earlier append is excluded,
    // so nothing self-matches and the re-append overwrites cleanly
    val v1r = classify(batch, Some(1L))
    assert(v1r.select(col("doc_id"), col("status")).as[(Long, String)].collect().toMap ==
      Map(20L -> "novel", 21L -> "near_dup"), "retry must see the pre-batch catalog")
    Dedup.SigCatalog.append(Seq(fpPath, sigPath), batch, v1r, batchId = 1L)
    // next batch sees exactly one copy of batch-1's signatures
    val probe = docsDf(Seq(30L -> docText(20L)))
    val v2 = classify(probe, None)
      .as[(Long, String, java.lang.Long, java.lang.Double)].collect()
    assert(v2.head._2 == "exact_dup" && v2.head._3 == 20L, s"${v2.toSeq}")
  }
}
