package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** Incremental dHash near-dup catalog (round 20): verdict semantics,
  * rebuild equivalence of the batch-grown catalog, and batch-keyed
  * crash-retry idempotence — the bar the text catalogs set in r15. */
class MmIncrementalSpec extends AnyFunSuite {
  lazy val spark = GraftSession.test
  import spark.implicits._

  private def sigs(rows: (Long, Int, Int, Int, Int)*) =
    rows.toDF("doc_id", "b0", "b1", "b2", "b3")

  test("dhash incremental: exact/near/novel against the catalog only — a batch never self-joins") {
    val cat = sigs((1L, 10, 20, 30, 40), (2L, 100, 200, 300, 400))
    val inc = sigs(
      (10L, 10, 20, 30, 40),            // exact copy of 1
      (11L, 10, 20, 30, 41),            // hamming 1 from 1 (shared b0/b1/b2 keys)
      (12L, 7000, 7001, 7002, 7003),    // novel
      (13L, 5000, 5001, 5002, 5003),    // identical to 14 — but 14 is in the
      (14L, 5000, 5001, 5002, 5003))    // same BATCH, so both must stay novel
    val v = Multimodal.dhashIncrementalOf(cat, inc).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(v(10L) == ("exact_dup", 1L))
    assert(v(11L) == ("near_dup", 1L))
    assert(v(12L) == ("novel", -1L) && v(13L) == ("novel", -1L) && v(14L) == ("novel", -1L),
      s"batch members must never match each other — catalog-only classification: $v")
  }

  test("ties break to the lowest catalog id; hamming > 3 is novel") {
    val cat = sigs((5L, 10, 20, 30, 40), (3L, 10, 20, 30, 40))
    val inc = sigs((20L, 10, 20, 30, 40), (21L, 11, 21, 31, 47))
    val v = Multimodal.dhashIncrementalOf(cat, inc).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(v(20L) == ("exact_dup", 3L), s"ties must break low: $v")
    // 10^11=2bits? 10=1010, 11=1011 -> 1 bit each on b0/b1/b2; 40^47=7 -> 3 bits: total 6 > 3
    assert(v(21L) == ("novel", -1L), s"hamming beyond the ball must be novel: $v")
  }

  test("rebuild equivalence + crash-retry: the batch-grown catalog equals one-shot; a retried batch replaces its partial append") {
    val root = java.nio.file.Files.createTempDirectory("mmcat").toString + "/cat"
    def batch(i: Int) = sigs((0 until 4).map { j =>
      val id = (i * 10 + j).toLong
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mc:$id".getBytes("UTF-8"))
      def b16(o: Int) = ((d(o) & 0xFF) << 8) | (d(o + 1) & 0xFF)
      (id, b16(0), b16(2), b16(4), b16(6))
    }: _*)
    // bootstrap: batch 0 straight into the catalog
    Multimodal.DhashCatalog.append(Seq(root), batch(0),
      spark.emptyDataFrame, batchId = 0)
    // nightly loop: classify against the grown catalog, append
    for (i <- 1 to 2) {
      val cat = Multimodal.DhashCatalog.read(spark, Seq(root)).head
      val v = Multimodal.dhashIncrementalOf(cat, batch(i))
      Multimodal.DhashCatalog.append(Seq(root), batch(i), v, batchId = i)
    }
    val grown = Multimodal.DhashCatalog.read(spark, Seq(root)).head.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toSet
    val oneShot = (0 to 2).flatMap(i => batch(i).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toSet
    assert(grown == oneShot, "the batch-grown catalog must equal the one-shot build")

    // crash-retry: batch 3's first attempt wrote only HALF its rows;
    // the retry must classify against a view that EXCLUDES the partial
    // batch (or its docs would exact-match themselves) and the
    // re-append must REPLACE, not duplicate
    val partial = batch(3).limit(2)
    Multimodal.DhashCatalog.append(Seq(root), partial,
      spark.emptyDataFrame, batchId = 3)
    val retryView = Multimodal.DhashCatalog.read(spark, Seq(root), excludeBatch = Some(3)).head
    val vRetry = Multimodal.dhashIncrementalOf(retryView, batch(3))
    assert(vRetry.filter(col("status") =!= "novel").count() == 0,
      "a retried batch must not match its own earlier partial append")
    Multimodal.DhashCatalog.append(Seq(root), batch(3), vRetry, batchId = 3)
    val afterRetry = Multimodal.DhashCatalog.read(spark, Seq(root)).head.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    val wanted = (0 to 3).flatMap(i => batch(i).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))))
    assert(afterRetry.length == wanted.length && afterRetry.toSet == wanted.toSet,
      "the retried batch must replace its partial files — no duplicate rows")
  }

  test("catalog-side hot key is df-capped: a flat block value in the catalog cannot fan a batch out quadratically") {
    val Hot = 0xBEEF
    val cat = sigs(((1L to 300L).map { id =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"hc:$id".getBytes("UTF-8"))
      def b16(o: Int) = ((d(o) & 0xFF) << 8) | (d(o + 1) & 0xFF)
      (id, Hot, b16(0), b16(2), b16(4))
    } :+ ((400L, Hot, 0x1234, 0x5678, 0x4321))): _*)
    // incoming shares the hot b0 with all 301 catalog docs but matches
    // 400 exactly — the match must come via the COLD b1/b2/b3 keys
    val inc = sigs((500L, Hot, 0x1234, 0x5678, 0x4321))
    val v = Multimodal.dhashIncrementalOf(cat, inc).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(v(500L) == ("exact_dup", 400L),
      s"the exact match must survive via cold keys while the hot key is capped: $v")
  }
}
