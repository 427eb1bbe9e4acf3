package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.EventStream
import graft.operators.Analytics

class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftSession.test
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("streaming windowed agg == batch twin (file source, AvailableNow)") {
    val stream = EventStream.windowedAgg(EventStream.readEvents(spark, sf))
    val q = stream.writeStream
      .format("memory").queryName("win_agg")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val got = spark.table("win_agg")
      .select("window_start", "event_type", "n", "sum_value")
      .as[(String, String, Long, Double)].collect().toSet
    val want = Analytics.eventsWindowedAgg(spark, sf)
      .select("window_start", "event_type", "n", "sum_value")
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming exact dedup == batch distinct fingerprints") {
    val q = EventStream.dedupDocuments(spark, sf)
      .writeStream.format("memory").queryName("dedup_docs")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("dedup_docs").select("content_fp").distinct().count()
    val want = graft.operators.Dedup.exact(spark, sf).count()
    assert(got == want && got > 0)
  }

  test("streaming KMV sketch: bounded state, final updates == batch estimates") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val sketch = EventStream.kmvDistinct(input.toDS().toDF("event_type", "user_id"))
    val q = sketch.writeStream.format("memory").queryName("kmv_stream")
      .outputMode("update").start()
    // replay the sf events table in three arbitrary slices — the sketch
    // must converge to the batch answer regardless of batch boundaries
    val evs = graft.sources.Tables.events(spark, sf) // sets nanosAsLong
      .select(col("event_type"), col("user_id")).as[(String, Long)].collect()
    evs.grouped(math.max(1, evs.length / 3 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    q.stop()
    val rows = spark.table("kmv_stream").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    rows.foreach { case (_, nMins, _) =>
      assert(nMins <= graft.operators.Analytics.KmvK) } // bounded state
    // the estimate is monotone nondecreasing over ingestion (new distinct
    // hashes only shrink the k-th minimum), so the final value per group
    // is its max — order-independent of how the memory sink interleaves
    val got = rows.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._3).max }
    val want = graft.operators.Analytics.eventsKmv(spark, sf)
      .select("event_type", "est_users").as[(String, Double)].collect().toMap
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("streaming char entropy == batch text_char_entropy, zero state-store rows") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val scored = EventStream.charEntropyScore(input.toDS().toDF("doc_id", "text"))
    val q = scored.writeStream.format("memory").queryName("ent_stream")
      .outputMode("append").start()
    input.addData((999999L, "..!!..")) // zero-token doc: dropped, batch parity
    docs.grouped(math.max(1, docs.length / 2 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.isEmpty) // narrow plan, no state
    q.stop()
    val got = spark.table("ent_stream")
      .select("doc_id", "n_chars", "n_distinct", "entropy")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(!got.exists(_._1 == 999999L))
    val want = graft.operators.TextAnalysis.charEntropy(spark, sf)
      .select("doc_id", "n_chars", "n_distinct", "entropy")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(want.nonEmpty && got == want,
      s"stream-only=${(got -- want).take(3)}, batch-only=${(want -- got).take(3)}")
  }

  test("streaming script tokens == gated batch entry incl. CJK docs, zero state-store rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect() ++
      TextAnalysis.HoldoutDocs.map(h => (h._2, h._3))
    val input = MemoryStream[(Long, String)]
    val scored = EventStream.scriptTokenScore(input.toDS().toDF("doc_id", "text"))
    val q = scored.writeStream.format("memory").queryName("stok_stream")
      .outputMode("append").start()
    docs.grouped(math.max(1, docs.length / 2 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.isEmpty) // narrow plan, no state
    q.stop()
    val got = spark.table("stok_stream")
      .select("doc_id", "n_tokens", "n_words", "tok_md5")
      .as[(Long, Long, Long, String)].collect().toSet
    val want = TextAnalysis.scriptTokens(spark, sf)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(want.nonEmpty && got == want,
      s"stream-only=${(got -- want).take(3)}, batch-only=${(want -- got).take(3)}")
    // the ja doc has per-codepoint tokens in-stream
    val jaId = TextAnalysis.HoldoutDocs.find(_._1 == "ja").get._2
    assert(got.exists(r => r._1 == jaId && r._2 > 20 && r._3 == 0L))
  }

  test("streaming unspaced-run segmentation == gated batch entry, zero state-store rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    // the batch entry's corpus: documents ∪ held-out ∪ seed prose
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect() ++
      TextAnalysis.HoldoutDocs.map(h => (h._2, h._3)) ++
      TextAnalysis.SeedProseDocs.map(h => (h._2, h._3))
    val input = MemoryStream[(Long, String)]
    val scored = EventStream.segUnspacedScore(input.toDS().toDF("doc_id", "text"))
    val q = scored.writeStream.format("memory").queryName("seg_stream")
      .outputMode("append").start()
    docs.grouped(math.max(1, docs.length / 2 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.isEmpty) // narrow plan, no state
    q.stop()
    val got = spark.table("seg_stream")
      .select("doc_id", "n_runs", "n_cp", "n_units", "ratio", "seg_md5")
      .as[(Long, Long, Long, Long, Option[Double], String)].collect().toSet
    val want = TextAnalysis.segUnspaced(spark, sf)
      .as[(Long, Long, Long, Long, Option[Double], String)].collect().toSet
    assert(want.nonEmpty && got == want,
      s"stream-only=${(got -- want).take(3)}, batch-only=${(want -- got).take(3)}")
    // the ja seed doc actually compresses in-stream
    val jaId = TextAnalysis.SeedProseDocs.find(_._1 == "ja").get._2
    assert(got.exists(r => r._1 == jaId && r._4 < r._3 && r._5.exists(_ < 0.85)))
  }

  test("streaming scorers survive short, empty and null-text docs (ANSI edges)") {
    import graft.operators.TextAnalysis
    // review-caught: element_at on the EMPTY NbLangBits array (docs
    // with <2 normalized codepoints) threw under ANSI and would have
    // killed a whole micro-batch; null text nulled every seg stat
    // where the batch path scores it as an empty doc
    val docs = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    val model = TextAnalysis.nbLangModel(spark)
    val g = EventStream.garbleGateScore(docs, model).collect() // must not throw
    assert(g.length == 3 && g.forall(_.getAs[Boolean]("keep")))
    assert(g.forall(_.isNullAt(3)), "no certificate for gram-less docs")
    val s = EventStream.segUnspacedScore(docs).collect()
    val row2 = s.find(_.getLong(0) == 2L).get
    assert(row2.getLong(1) == 0 && row2.getLong(3) == 0 &&
      row2.getString(5) == "d41d8cd98f00b204e9800998ecf8427e",
      s"null text must score like an empty doc: $row2")
  }

  test("streaming scoped garble gate == batch composition, zero state-store rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Curation, TextAnalysis}
    val model = TextAnalysis.nbLangModel(spark)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect() ++
      TextAnalysis.HoldoutDocs.map(h => (h._2, h._3)) ++
      TextAnalysis.SeedProseDocs.map(h => (h._2, h._3)) ++
      TextAnalysis.GarbleDocs.map(h => (h._2, h._3))
    val input = MemoryStream[(Long, String)]
    val scored = EventStream.garbleGateScore(
      input.toDS().toDF("doc_id", "text"), model)
    val q = scored.writeStream.format("memory").queryName("garble_stream")
      .outputMode("append").start()
    docs.grouped(math.max(1, docs.length / 2 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.isEmpty) // one projection, no state
    q.stop()
    val got = spark.table("garble_stream")
      .select("doc_id", "n_cp", "ratio", "nb_lang", "keep", "reason")
      .as[(Long, Long, Option[Double], Option[String], Boolean, String)]
      .collect().toSet
    val want = Curation.garbleGateScopedOf(TextAnalysis.mlDocs3(spark, sf))
      .select("doc_id", "n_cp", "ratio", "nb_lang", "keep", "reason")
      .as[(Long, Long, Option[Double], Option[String], Boolean, String)]
      .collect().toSet
    assert(want.nonEmpty && got == want,
      s"stream-only=${(got -- want).take(3)}, batch-only=${(want -- got).take(3)}")
    // the scope is live in-stream: ja prose keeps, its garble twin is
    // flagged only if certified as a covered language — mirror batch
    val jaSeedId = TextAnalysis.SeedProseDocs.find(_._1 == "ja").get._2
    assert(got.exists(r => r._1 == jaSeedId && r._5))
  }

  test("streaming DSIR scoring == batch logw, zero state-store rows") {
    implicit val sqlCtx = spark.sqlContext
    val (lam, c) = graft.operators.Curation.dsirModel(spark, sf)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val scored = EventStream.dsirScore(input.toDS().toDF("doc_id", "text"), lam, c)
    val q = scored.writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    // two arbitrary slices: scoring is per-row, slicing must not matter.
    // A zero-gram doc rides along: it must be DROPPED (batch parity),
    // not scored at the degenerate logw = 0.
    input.addData((999999L, "..!!.."))
    docs.grouped(math.max(1, docs.length / 2 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    // narrow plan ⇒ NO stateful operators at all
    assert(q.lastProgress.stateOperators.isEmpty)
    q.stop()
    val got = spark.table("dsir_stream")
      .select("doc_id", "logw").as[(Long, Double)].collect().toMap
    assert(!got.contains(999999L)) // zero-gram doc dropped, not scored
    // the gated batch sample's logw column is the ground truth on the
    // docs it selects (its scoring joins through the same model)
    val want = graft.operators.Curation.dsirSample(spark, sf)
      .select("doc_id", "logw").as[(Long, Double)].collect()
    assert(want.nonEmpty)
    want.foreach { case (id, w) => assert(got(id) == w, s"doc $id: ${got(id)} != $w") }
  }

  test("streaming anomaly score == batch flags, zero state-store rows") {
    implicit val sqlCtx = spark.sqlContext
    val stats = graft.operators.Analytics.anomalyStats(spark, sf)
    assert(stats.nonEmpty)
    val evs = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
      .as[(Long, String, Double)].collect()
    val input = MemoryStream[(Long, String, Double)]
    val scored = EventStream.anomalyScore(
      input.toDS().toDF("event_id", "event_type", "value"), stats)
    val q = scored.writeStream.format("memory").queryName("anom_stream")
      .outputMode("append").start()
    // an unknown event type rides along: fail-closed, never flagged
    input.addData((999999L, "unknown_type", 1e9))
    evs.grouped(math.max(1, evs.length / 3 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.isEmpty) // narrow plan, no state
    q.stop()
    val got = spark.table("anom_stream")
      .select("event_id", "event_type", "v6", "z")
      .as[(Long, String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(!got.contains(999999L))
    val want = graft.operators.Analytics.eventsAnomaly(spark, sf)
      .as[(Long, String, Double, Double)].collect()
    assert(want.nonEmpty && want.length == got.size)
    want.foreach { case (id, t, v, z) =>
      assert(got(id) == ((t, v, z)), s"event $id: ${got(id)} != ($t,$v,$z)") }
  }

  test("streaming bigram surprisal == batch avg_bits, zero state-store rows") {
    implicit val sqlCtx = spark.sqlContext
    val model = graft.operators.TextAnalysis.bslmTrain(spark, sf)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val scored = EventStream.surprisalScore(input.toDS().toDF("doc_id", "text"), model)
    val q = scored.writeStream.format("memory").queryName("bslm_stream")
      .outputMode("append").start()
    // a zero-token doc rides along: dropped (batch parity), not scored
    input.addData((999999L, "..!!.."))
    docs.grouped(math.max(1, docs.length / 2 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.isEmpty) // narrow plan, no state
    q.stop()
    val got = spark.table("bslm_stream")
      .select("doc_id", "n_tokens", "avg_bits")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!got.contains(999999L))
    val want = graft.operators.TextAnalysis.bigramSurprisal(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(want.nonEmpty && want.length == got.size)
    want.foreach { case (id, n, b) =>
      assert(got(id) == ((n, b)), s"doc $id: ${got(id)} != ($n,$b)") }
  }

  test("streaming NB lang id == batch bits and verdicts, zero state-store rows") {
    implicit val sqlCtx = spark.sqlContext
    val model = graft.operators.TextAnalysis.nbLangModel(spark)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val scored = EventStream.nbLangScore(input.toDS().toDF("doc_id", "text"), model)
    val q = scored.writeStream.format("memory").queryName("nblang_stream")
      .outputMode("append").start()
    input.addData((999999L, "x")) // 1-char normalized text: dropped (batch parity)
    docs.grouped(math.max(1, docs.length / 2 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.isEmpty) // literal model, no state
    q.stop()
    // compare ALL K bits columns + the verdict (K≈20 since round 16 —
    // collect rows keyed by doc_id, language-agnostic)
    val got = spark.table("nblang_stream").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(!got.contains(999999L))
    val want = graft.operators.TextAnalysis.nbLangId(spark, sf).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1))
    assert(want.nonEmpty && want.length == got.size)
    want.foreach { case (id, vals) =>
      assert(got(id) == vals, s"doc $id: ${got(id)} != $vals") }
  }

  test("streaming bpe encode == batch counts, zero state-store rows") {
    implicit val sqlCtx = spark.sqlContext
    val (base, merges) = graft.operators.TextAnalysis.bpeLearn(spark, sf)
    base.unpersist()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val scored = EventStream.bpeEncodeScore(input.toDS().toDF("doc_id", "text"), merges)
    val q = scored.writeStream.format("memory").queryName("bpe_stream")
      .outputMode("append").start()
    docs.grouped(math.max(1, docs.length / 2 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.isEmpty) // no join, no state
    q.stop()
    val got = spark.table("bpe_stream")
      .select("doc_id", "n_tokens", "n_bpe", "ratio")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val want = graft.operators.TextAnalysis.bpeEncode(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(want.nonEmpty && want.length == got.size)
    want.foreach { case (id, n, b, r) =>
      assert(got(id) == ((n, b, r)), s"doc $id: ${got(id)} != ($n,$b,$r)") }
  }

  test("streaming quality classifier == batch verdicts, zero state-store rows") {
    implicit val sqlCtx = spark.sqlContext
    val (lam, c, prior) = graft.operators.Curation.qualityClassifierModel(spark, sf)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val scored = EventStream.classifierScore(input.toDS().toDF("doc_id", "text"), lam, c, prior)
    val q = scored.writeStream.format("memory").queryName("cls_stream")
      .outputMode("append").start()
    docs.grouped(math.max(1, docs.length / 2 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.isEmpty) // narrow plan, no state
    q.stop()
    val got = spark.table("cls_stream")
      .select("doc_id", "nb_bits", "margin", "keep")
      .as[(Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // the gated batch entry is the ground truth on every doc
    val want = graft.operators.Curation.qualityClassifier(spark, sf)
      .select("doc_id", "nb_bits", "margin", "keep")
      .as[(Long, Double, Double, Boolean)].collect()
    assert(want.nonEmpty && want.length == got.size)
    want.foreach { case (id, nb, m, k) =>
      assert(got(id) == ((nb, m, k)), s"doc $id: ${got(id)} != ($nb,$m,$k)") }
  }

  test("watermark-bounded dedup: state plateaus (evicts) under continuous ingest") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val dedup = EventStream.dedupWithinWatermark(
      input.toDS().toDF("ts", "doc_id", "text"), "ts", "10 minutes")
    val q = dedup.writeStream.format("memory").queryName("wm_dedup_state")
      .outputMode("append").start()
    val t0 = 1700000000000L
    def batch(offsetMin: Long, idBase: Long) = (0 until 50).map(i =>
      (new java.sql.Timestamp(t0 + offsetMin * 60000L), idBase + i,
        s"unique document body number ${idBase + i} with enough words"))
    Seq(0L -> 0L, 30L -> 1000L, 60L -> 2000L, 90L -> 3000L).foreach { case (m, base) =>
      input.addData(batch(m, base)); q.processAllAvailable()
    }
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    // every distinct doc emitted exactly once...
    assert(spark.table("wm_dedup_state").count() == 200)
    // ...but state holds only fingerprints inside the watermark horizon:
    // an unbounded dropDuplicates would sit at 200 rows and grow forever
    assert(stateRows > 0 && stateRows <= 110,
      s"state did not evict: $stateRows rows for 200 ingested docs")
  }

  test("watermark-bounded dedup == batch exact dedup within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val dedup = EventStream.dedupWithinWatermark(
      input.toDS().toDF("ts", "doc_id", "text"), "ts", "10 minutes")
    val q = dedup.writeStream.format("memory").queryName("wm_dedup_eq")
      .outputMode("append").start()
    val t0 = 1700000000000L
    // 100 docs over two batches 2 min apart (inside the horizon), texts
    // collide mod 20 → batch semantics say exactly 20 survivors
    input.addData((0 until 50).map(i =>
      (new java.sql.Timestamp(t0), i.toLong, s"shared body ${i % 20} words words")))
    q.processAllAvailable()
    input.addData((0 until 50).map(i =>
      (new java.sql.Timestamp(t0 + 120000L), 100L + i, s"shared body ${i % 20} words words")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wm_dedup_eq")
    val wantFps = spark.range(100)
      .select(md5(concat_ws(" ", graft.functions.TextFns.tokens(
        concat(lit("shared body "), pmod(col("id"), lit(20)), lit(" words words"))))).as("fp"))
      .distinct().count()
    assert(got.count() == wantFps && wantFps == 20)
    assert(got.select("content_fp").distinct().count() == 20)
  }

  test("continuous ingest e2e: stream dedup → parquet sink → batch compaction == batch pipeline") {
    // The full continuous-ingest story composed end-to-end (the pieces
    // are documented at EventStream.dedupWithinWatermark): streaming
    // watermark dedup bounds state and suppresses within-horizon dups;
    // cross-horizon dups re-emit into the parquet sink BY DESIGN; a
    // periodic batch exact compaction over the sink reclaims them. The
    // final compacted table must equal the batch dedupPipeline run over
    // the entire replayed corpus.
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ingest").toString
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    // texts are pairwise shingle-disjoint (every 3-shingle carries k),
    // so pipeline near-dup stage finds nothing and exact semantics apply
    def text(k: Int) = s"document body $k mentions topic$k and subject$k plainly"
    val t0 = 1700000000000L
    val horizonMs = 10 * 60000L
    // ids increase with arrival time → first-arrival == min-id survivor
    val bA = (0 until 30).map(i => (ts(t0), i.toLong, text(i))) ++
             (0 until 10).map(i => (ts(t0 + 60000L), 100L + i, text(i)))     // in-horizon dups
    val bWm = Seq((ts(t0 + 2 * horizonMs), 150L, text(99)))                  // advances watermark → evicts bA state
    val bB = (0 until 10).map(i => (ts(t0 + 3 * horizonMs), 200L + i, text(i))) ++ // cross-horizon dups: re-emit
             (0 until 5).map(i => (ts(t0 + 3 * horizonMs), 300L + i, text(30 + i)))

    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = EventStream.dedupWithinWatermark(
        input.toDS().toDF("ts", "doc_id", "text"), "ts", "10 minutes")
      .select("doc_id", "content_fp")
      .writeStream.format("parquet")
      .option("path", s"$tmp/sink").option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append").start()
    Seq(bA, bWm, bB).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()

    // sink: 30 + 1 + 15 rows — the 10 in-horizon dups suppressed, the 10
    // cross-horizon dups re-emitted (finite state has no memory of them)
    val sink = spark.read.parquet(s"$tmp/sink")
    assert(sink.count() == 46)

    // periodic batch compaction over the sink: min-id per fingerprint
    val compacted = sink.groupBy("content_fp").agg(min("doc_id").as("survivor_id"))

    // ground truth: batch dedupPipeline over the whole replayed corpus
    val corpus = (bA ++ bWm ++ bB).map { case (_, id, t) => (id, t) }
    corpus.toDF("doc_id", "text").write.parquet(s"$tmp/corpus/documents.parquet")
    val pipeline = graft.operators.Dedup.dedupPipeline(spark, s"$tmp/corpus")
    val wantSurvivors = pipeline.filter(col("status") === "kept")
      .select("doc_id").as[Long].collect().toSet

    val gotSurvivors = compacted.select("survivor_id").as[Long].collect().toSet
    assert(gotSurvivors == wantSurvivors)
    assert(gotSurvivors == ((0L until 30L) ++ Seq(150L) ++ (300L until 305L)).toSet)
  }

  test("streaming incremental classify: stream verdicts == sequential batch loop, catalog grows in place") {
    // the continuous-ingest catalog story end-to-end: a document stream
    // is classified per micro-batch against the persisted parquet
    // catalog, each batch is merged in place, and the NEXT batch must
    // see it — all with zero state-store rows (the catalog IS the state)
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("streamcat").toString
    val base = (0 until 40).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val other = (0 until 40).map(i => s"zulu$i yankee$i xray$i").mkString(" ")
    val catalog = Seq((0L, base),
      (1L, "completely different words here okay")).toDF("doc_id", "text")
    val (fp0, sh0) = Dedup.buildCatalog(catalog)
    fp0.write.parquet(s"$tmp/fp.parquet")
    sh0.write.parquet(s"$tmp/sh.parquet")
    // chunk 2 classifies against chunk 1's docs (301/302 resolve only if
    // the merge happened), chunk 3 against chunk 2's
    val chunks = Seq(
      Seq((250L, base), (251L, base.replace("alpha7", "changedy")), (252L, other)),
      Seq((301L, other), (302L, other.replace("zulu3", "edited")),
        (303L, "nothing shared with anything at all")),
      Seq((400L, "nothing shared with anything at all")))

    val input = MemoryStream[(Long, String)]
    val q = EventStream.classifyAgainstCatalog(
      input.toDS().toDF("doc_id", "text"),
      s"$tmp/fp.parquet", s"$tmp/sh.parquet", s"$tmp/verdicts", s"$tmp/ckpt")
    chunks.foreach { c => input.addData(c); q.processAllAvailable() }
    assert(q.lastProgress.stateOperators.isEmpty,
      "classify must keep no state-store rows — the catalog is the state")
    q.stop()

    val got = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$tmp/verdicts")
      .collect().map(_.toSeq).toSet
    // batch twin: the sequential incrementalOf + ShingleCatalog.merge loop
    var cat = Seq(fp0, sh0)
    val want = chunks.flatMap { c =>
      val df = c.toDF("doc_id", "text")
      val v = Dedup.incrementalOf(cat(0), cat(1), df)
      val rows = v.collect().map(_.toSeq)
      cat = Dedup.ShingleCatalog.merge(cat, df, v)
      rows
    }.toSet
    assert(got == want)
    assert(got.map(r => (r(0), r(1), r(2))) == Set(
      (250L, "exact_dup", 0L), (251L, "near_dup", 0L), (252L, "novel", null),
      (301L, "exact_dup", 252L), (302L, "near_dup", 252L), (303L, "novel", null),
      (400L, "exact_dup", 303L)))
    // the in-place catalog equals a full rebuild over everything ingested
    val allDocs = catalog.unionByName(chunks.flatten.toDF("doc_id", "text"))
    val (rbFp, rbSh) = Dedup.buildCatalog(allDocs)
    assert(Dedup.ShingleCatalog.read(spark, Seq(s"$tmp/fp.parquet", s"$tmp/sh.parquet"))(0).collect().map(_.toSeq).toSet ==
      rbFp.collect().map(_.toSeq).toSet)
    assert(Dedup.ShingleCatalog.read(spark, Seq(s"$tmp/fp.parquet", s"$tmp/sh.parquet"))(1).collect().map(_.toSeq).toSet ==
      rbSh.collect().map(_.toSeq).toSet)
  }

  test("classify crash-retry: re-running a batchId is idempotent — verdicts and catalog unchanged") {
    // simulate Spark retrying a micro-batch after a crash between the
    // sink write and the checkpoint commit: the SAME batch runs twice
    // with the SAME batchId. Idempotence means (a) the verdict sink
    // reads clean with no dropDuplicates, (b) the catalog holds each
    // shingle row ONCE (duplicates would inflate incrementalOf's
    // intersection counts for later batches), (c) the retry's verdicts
    // equal the first attempt's (it must not see its own failed append,
    // or every doc would self-match to exact_dup).
    import graft.operators.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("retrycat").toString
    val base = (0 until 40).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val other = (0 until 40).map(i => s"zulu$i yankee$i xray$i").mkString(" ")
    val catalog = Seq((0L, base),
      (1L, "completely different words here okay")).toDF("doc_id", "text")
    val (fp0, sh0) = Dedup.buildCatalog(catalog)
    fp0.write.parquet(s"$tmp/fp.parquet")
    sh0.write.parquet(s"$tmp/sh.parquet")
    val b0 = Seq((250L, base), (251L, base.replace("alpha7", "changedy")),
      (252L, other)).toDF("doc_id", "text")

    EventStream.classifyBatch(b0, 0L, s"$tmp/fp.parquet", s"$tmp/sh.parquet", s"$tmp/verdicts")
    val firstVerdicts = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$tmp/verdicts").collect().map(_.toSeq).toSet
    val firstFp = Dedup.ShingleCatalog.read(spark, Seq(s"$tmp/fp.parquet", s"$tmp/sh.parquet"))(0).collect().map(_.toSeq).toSet
    val firstSh = Dedup.ShingleCatalog.read(spark, Seq(s"$tmp/fp.parquet", s"$tmp/sh.parquet"))(1).collect().map(_.toSeq).toSet

    // the retry: same batch, same batchId
    EventStream.classifyBatch(b0, 0L, s"$tmp/fp.parquet", s"$tmp/sh.parquet", s"$tmp/verdicts")
    val retryVerdicts = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$tmp/verdicts").collect().map(_.toSeq)
    assert(retryVerdicts.toSet == firstVerdicts && retryVerdicts.length == 3,
      "verdict sink must read clean after a retry, without dropDuplicates")
    assert(retryVerdicts.map(r => (r(0), r(1))).sortBy(_.toString).toSeq ==
      Seq((250L, "exact_dup"), (251L, "near_dup"), (252L, "novel")).map(t => (t._1, t._2)))
    assert(Dedup.ShingleCatalog.read(spark, Seq(s"$tmp/fp.parquet", s"$tmp/sh.parquet"))(0).collect().map(_.toSeq).toSet == firstFp)
    val retrySh = Dedup.ShingleCatalog.read(spark, Seq(s"$tmp/fp.parquet", s"$tmp/sh.parquet"))(1).collect().map(_.toSeq)
    assert(retrySh.toSet == firstSh && retrySh.length == retrySh.distinct.length,
      "catalog shingle rows must not duplicate under retry (duplicates inflate Jaccard)")

    // the NEXT batch classifies exactly as if no retry had happened:
    // 301 exact-matches batch-0's novel 252 through the merged catalog
    EventStream.classifyBatch(Seq((301L, other)).toDF("doc_id", "text"),
      1L, s"$tmp/fp.parquet", s"$tmp/sh.parquet", s"$tmp/verdicts")
    val b1 = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$tmp/verdicts").filter(col("doc_id") === 301L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(b1.toSeq == Seq((301L, "exact_dup", 252L)))
  }

  test("streaming MEDIA dhash catalog loop: per-batch classify + O(batch) merge, zero state rows, crash-retry idempotent") {
    // the 31g shape for the round-20 media catalog: signatures stream
    // in, classify against the persisted catalog only, append in place
    import graft.operators.{Dedup, Multimodal}
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("streammm").toString
    def sigs(rows: (Long, Int, Int, Int, Int)*) =
      rows.toDF("doc_id", "b0", "b1", "b2", "b3")
    sigs((1L, 10, 20, 30, 40), (2L, 100, 200, 300, 400))
      .write.parquet(s"$tmp/cat")
    // chunk 2 exact-matches chunk 1's novel 252 ONLY if the merge
    // happened; chunk 3 matches chunk 2's novel 302
    val chunks = Seq(
      Seq((250L, 10, 20, 30, 40), (251L, 10, 20, 30, 41), (252L, 7000, 7001, 7002, 7003)),
      Seq((301L, 7000, 7001, 7002, 7003), (302L, 9000, 9001, 9002, 9003)),
      Seq((400L, 9000, 9001, 9002, 9003)))
    val input = MemoryStream[(Long, Int, Int, Int, Int)]
    val q = EventStream.classifyMediaAgainstCatalog(
      input.toDS().toDF("doc_id", "b0", "b1", "b2", "b3"),
      s"$tmp/cat", s"$tmp/verdicts", s"$tmp/ckpt")
    chunks.foreach { c => input.addData(c); q.processAllAvailable() }
    assert(q.lastProgress.stateOperators.isEmpty,
      "the catalog is the state — no state-store rows")
    q.stop()
    val got = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$tmp/verdicts").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set(
      (250L, "exact_dup", 1L), (251L, "near_dup", 1L), (252L, "novel", -1L),
      (301L, "exact_dup", 252L), (302L, "novel", -1L),
      (400L, "exact_dup", 302L)), s"got $got")
    // the in-place catalog equals one-shot over everything ingested
    val want = (sigs((1L, 10, 20, 30, 40), (2L, 100, 200, 300, 400)).collect() ++
      chunks.flatten.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3, t._4, t._5)))
      .map(_.toSeq).toSet
    assert(Multimodal.DhashCatalog.read(spark, Seq(s"$tmp/cat")).head.collect().map(_.toSeq).toSet == want)
    // crash-retry: the same batchId re-runs — verdicts and catalog
    // unchanged (the retry must not see its own partial append)
    val cat0 = Multimodal.DhashCatalog.read(spark, Seq(s"$tmp/cat")).head.count()
    EventStream.classifyMediaBatch(sigs((400L, 9000, 9001, 9002, 9003)), 2L,
      s"$tmp/cat", s"$tmp/verdicts")
    assert(Multimodal.DhashCatalog.read(spark, Seq(s"$tmp/cat")).head.count() == cat0,
      "a retried append must replace, not duplicate")
    val retry = spark.read.parquet(s"$tmp/verdicts/batch-2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(retry == Seq((400L, "exact_dup", 302L)),
      s"the retry must classify against the catalog minus its own append: $retry")
  }

  test("media catalog on a never-written root: the first batch is all novel, the next matches it") {
    import graft.operators.Multimodal
    val tmp = java.nio.file.Files.createTempDirectory("freshmm").toString
    def sigs(rows: (Long, Int, Int, Int, Int)*) =
      rows.toDF("doc_id", "b0", "b1", "b2", "b3")
    EventStream.classifyMediaBatch(
      sigs((1L, 10, 20, 30, 40), (2L, 100, 200, 300, 400)), 0L,
      s"$tmp/cat", s"$tmp/verdicts")
    EventStream.classifyMediaBatch(
      sigs((3L, 10, 20, 30, 40), (4L, 7000, 7001, 7002, 7003)), 1L,
      s"$tmp/cat", s"$tmp/verdicts")
    def verdicts(id: Long) = spark.read.parquet(s"$tmp/verdicts/batch-$id").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(verdicts(0) == Seq((1L, "novel", -1L), (2L, "novel", -1L)))
    assert(verdicts(1) == Seq((3L, "exact_dup", 1L), (4L, "novel", -1L)))
    assert(Multimodal.DhashCatalog.read(spark, Seq(s"$tmp/cat")).head.count() == 4)
  }

  test("stream-stream interval join == batch twin (click→purchase within 1h)") {
    val ev = EventStream.readEvents(spark, sf)
    val joined = EventStream.clickPurchaseJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val batch = graft.sources.Tables.events(spark, sf)
      .withColumn("event_ts",
        timestamp_micros(expr("ts div 1000")))
    val bc = batch.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_ts").as("click_ts"))
    val bp = batch.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_ts").as("purchase_ts"))
    val want = bc.join(bp, expr(
        """user_id = p_user AND
           purchase_ts > click_ts AND
           purchase_ts <= click_ts + interval 1 hour"""))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet

    val got = spark.table("ss_join")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("stateful gap-sessionization across batches == batch twin") {
    import EventStream.{Ev, Session}
    implicit val sqlCtx = spark.sqlContext

    val events = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("us"), col("value"))
      .as[(Long, Long, Double)].collect()
      .map { case (u, us, v) => Ev(u, us, v) }
      .sortBy(_.us)

    // two mid-stream batches + a sentinel batch that closes every tail
    val (b1, b2) = events.splitAt(events.length / 2)
    val sentinels = events.map(_.user_id).distinct.map(u => Ev(u, Long.MaxValue / 2, 0.0))

    val input = MemoryStream[Ev]
    val q = EventStream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    input.addData(b1.toSeq); q.processAllAvailable()
    input.addData(b2.toSeq); q.processAllAvailable()
    input.addData(sentinels.toSeq); q.processAllAvailable()
    q.stop()

    val got = spark.table("sessions").as[Session]
      .collect().map(s => (s.user_id, s.session_id, s.n_events, s.duration_s)).toSet
    val want = Analytics.eventsSessionize(spark, sf)
      .select("user_id", "session_id", "n_events", "duration_s")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming span scrub: cross-batch passages cut at any offset, retry-idempotent, == batch twin") {
    val tmp = java.nio.file.Files.createTempDirectory("scrub").toString
    val spanPath = s"$tmp/spans"; val outPath = s"$tmp/scrubbed"
    def span(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val P = span("p", 20)  // 20-token passage (L=16 → 5 windows)
    val f = span("f", 16); val g = span("g", 15)
    val b1 = Seq(
      (0L, s"$P $f"),                       // P's first occurrence — survives
      (1L, span("u", 24))                   // unique
    ).toDF("doc_id", "text")
    val b2 = Seq(
      (10L, s"jj $P $g"),                   // P again, one token off any grid
      (11L, span("v", 24))                  // unique
    ).toDF("doc_id", "text")

    EventStream.scrubBatch(b1, 0L, spanPath, outPath)
    EventStream.scrubBatch(b2, 1L, spanPath, outPath)
    def readOut() = spark.read.option("recursiveFileLookup", "true").parquet(outPath)
      .select("doc_id", "n_tokens", "n_kept", "kept_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    val got = readOut()
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Seq((0L, 36L, 36L), (1L, 24L, 24L), (10L, 36L, 16L), (11L, 24L, 24L)))
    assert(got.find(_._1 == 10L).get._4 == s"jj $g",
      "the catalog passage must be cut from the later batch at its shifted offset")

    // crash-retry of batch 1: identical outputs, no duplicated catalog rows
    EventStream.scrubBatch(b2, 1L, spanPath, outPath)
    assert(readOut() == got)
    val spans = EventStream.SpanCatalog.read(spark, Seq(spanPath)).head.as[String].collect()
    assert(spans.length == spans.distinct.length, "retry duplicated span rows")

    // sequential scrubs == one batch substringDedup over the whole
    // corpus (doc ids respect arrival order)
    val tmpAll = java.nio.file.Files.createTempDirectory("scruball").toString
    b1.unionByName(b2).write.parquet(s"$tmpAll/documents.parquet")
    val twin = graft.operators.Curation.substringDedup(spark, tmpAll)
      .select("doc_id", "n_tokens", "n_kept", "kept_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == twin, "streaming scrub must equal the batch operator")

    // retry of the FIRST batch ever: the catalog view excluding its own
    // append must read empty, not fail on a zero-path parquet read
    val spans0 = EventStream.SpanCatalog.read(spark, Seq(spanPath), excludeBatch = Some(0L)).head
    assert(spans0.columns.toSeq == Seq("wh"))
    val freshRoot = s"$tmp/neverwritten"
    assert(EventStream.SpanCatalog.read(spark, Seq(freshRoot)).head.count() == 0)

    // a root that EXISTS but holds no batch dirs (empty, or only _/. files)
    // must read empty with excludeBatch=None too — not die on parquet
    // schema inference over zero paths (round-9 ADVICE fix)
    val emptyRoot = s"$tmp/existsempty"
    new java.io.File(emptyRoot).mkdirs()
    assert(EventStream.SpanCatalog.read(spark, Seq(emptyRoot)).head.count() == 0)
    new java.io.File(s"$emptyRoot/_SUCCESS").createNewFile()
    new java.io.File(s"$emptyRoot/.hidden").createNewFile()
    assert(EventStream.SpanCatalog.read(spark, Seq(emptyRoot)).head.count() == 0)
  }

  test("streaming sq8 encode == batch codes, zero state-store rows") {
    implicit val sqlCtx = spark.sqlContext
    val (mins, maxs) = graft.operators.Similarity.sq8Stats(spark, sf)
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val input = MemoryStream[(Long, Seq[Float])]
    val coded = EventStream.sq8EncodeScore(
      input.toDS().toDF("vec_id", "embedding"), mins, maxs)
    val q = coded.writeStream.format("memory").queryName("sq8_stream")
      .outputMode("append").start()
    vecs.grouped(math.max(1, vecs.length / 2 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.isEmpty) // narrow plan, no state
    q.stop()
    val got = spark.table("sq8_stream")
      .as[(Long, Seq[Int])].collect().toMap
    val want = EventStream.sq8EncodeScore(
        graft.sources.Tables.embeddings(spark, sf), mins, maxs)
      .as[(Long, Seq[Int])].collect().toMap
    assert(want.nonEmpty && want.size == got.size)
    // every code in byte range; streamed == batch bit-for-bit
    want.foreach { case (id, codes) =>
      assert(codes.forall(c => c >= 0 && c <= 255))
      assert(got(id) == codes, s"vec $id codes diverge")
    }
  }

  test("streaming heavy-hitters sketch: continuously-maintained MG == batch sketch; bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val toks = graft.sources.Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFns.tokens(col("text"))).as("token"))
      .as[String].collect()
    val hhCap = 256 // the cap BOTH sketches below are built with — the
    // survival-guarantee threshold must use the same value
    val input = MemoryStream[String]
    val q = EventStream.heavyHittersSketch(input.toDS().toDF("token"), cap = hhCap)
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete").start()
    toks.grouped(math.max(1, toks.length / 3 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    // state is the ONE aggregate row (the MG buffer), not per-token rows
    assert(q.lastProgress.stateOperators.head.numRowsTotal == 1L)
    q.stop()
    val got = spark.table("hh_stream").head()
    val want = EventStream.heavyHittersSketch(
      graft.sources.Tables.documents(spark, sf)
        .select(explode(graft.functions.TextFns.tokens(col("text"))).as("token")),
      cap = hhCap).head()
    assert(got.getLong(1) == want.getLong(1)) // n_total
    def entries(r: org.apache.spark.sql.Row) =
      r.getSeq[org.apache.spark.sql.Row](0).map(e => (e.getString(0), e.getLong(1))).toSet
    assert(entries(got).nonEmpty)
    // MG contents are merge-order dependent once decrements fire (the
    // sketch's own documented caveat), so the robust cross-checks are:
    // the survival GUARANTEE (every token with true count > n/cap is in
    // BOTH sketches), and exact equality only when neither run
    // decremented (sum(est) == n_total → the sketch held every token)
    val trueCounts = toks.groupBy(identity).map { case (t, a) => t -> a.length.toLong }
    val n = got.getLong(1)
    val mustSurvive = trueCounts.filter(_._2 * hhCap.toLong > n).keySet
    assert(mustSurvive.subsetOf(entries(got).map(_._1)),
      "streamed sketch lost a guaranteed hitter")
    assert(mustSurvive.subsetOf(entries(want).map(_._1)),
      "batch sketch lost a guaranteed hitter")
    if (entries(got).toSeq.map(_._2).sum == n && entries(want).toSeq.map(_._2).sum == n)
      assert(entries(got) == entries(want), "zero-decrement sketches must be identical")

    // superset guarantee past the capacity: cap=4 over a crafted stream —
    // the two true hitters (> n/4) must survive the decrements
    val crafted = (Seq.fill(40)("alpha") ++ Seq.fill(30)("beta") ++
      (1 to 30).map(i => s"rare$i")).toArray
    val in2 = MemoryStream[String]
    val q2 = EventStream.heavyHittersSketch(in2.toDS().toDF("token"), cap = 4)
      .writeStream.format("memory").queryName("hh_small")
      .outputMode("complete").start()
    crafted.grouped(25).foreach { b => in2.addData(b.toSeq); q2.processAllAvailable() }
    q2.stop()
    val surv = entries(spark.table("hh_small").head()).map(_._1)
    assert(surv.contains("alpha") && surv.contains("beta"),
      s"true hitters lost by the streamed sketch: $surv")
  }

  test("composed serve+maintain: stream-appended codes grow the served IVFPQ index into the inline rebuild") {
    // The end-to-end index story 22i2 + 31n only proved separately:
    // a stored IVFPQ index SERVES query batches (ivfPqOf) while the
    // ingest encoder APPENDS arriving vectors' codes — and once the
    // stream has delivered everything, the grown index serves results
    // identical to a full inline rebuild. Models stay frozen throughout
    // (the ivfPqIndexMerge contract; ivfPqDriftGate owns the retrain
    // decision); arriving rows carry their catalog label, the stream
    // contributes the code words.
    implicit val sqlCtx = spark.sqlContext
    val sim = graft.operators.Similarity
    val all = sim.emb(spark, sf).cache()
    val (codesAll, booksDf, cellsDf) = sim.ivfPqIndexOf(all)
    val ca = codesAll.cache()
    val (cellModel, bookModel) = sim.ivfPqModels(booksDf, cellsDf)
    val qs = all.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"vec".as("qvec")).cache()
    val rebuilt = sim.ivfPqOf(ca, booksDf, cellsDf, qs)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(rebuilt.nonEmpty)

    val codes1 = ca.filter($"vec_id" % 2 === 0).cache() // already indexed
    // arriving rows carry their catalog label — the residual encode's
    // cell (the ivfPqIndexMerge newVecs contract)
    val arriving = graft.sources.Tables.embeddings(spark, sf)
      .filter($"vec_id" % 2 =!= 0).select($"vec_id", $"embedding", $"label")
      .as[(Long, Seq[Float], String)].collect()
    val input = MemoryStream[(Long, Seq[Float], String)]
    val coded = EventStream.ivfPqEncodeScore(
      input.toDS().toDF("vec_id", "embedding", "label"), cellModel, bookModel)
    val q = coded.writeStream.format("memory").queryName("ivfpq_grow")
      .outputMode("append").start()
    val labels = all.select($"vec_id", $"label")
    def grown() = codes1.unionByName(
      spark.table("ivfpq_grow")
        .select($"vec_id", posexplode($"codes").as(Seq("s0", "cid")))
        .select($"s0".cast("int").as("s"), $"vec_id", $"cid")
        .join(labels, "vec_id")
        .select($"s", $"vec_id", $"cid", $"label"))

    // serve WHILE growing: after the first appended batch the partial
    // index answers queries, and every neighbor is an indexed vector
    val batches = arriving.grouped(math.max(1, arriving.length / 2 + 1)).toSeq
    input.addData(batches.head.toSeq); q.processAllAvailable()
    val midIdx = grown().cache()
    val midIds = midIdx.select($"vec_id").distinct().as[Long].collect().toSet
    val mid = sim.ivfPqOf(midIdx, booksDf, cellsDf, qs)
      .as[(Long, Long, Double, Int)].collect()
    assert(mid.nonEmpty && mid.forall(r => midIds.contains(r._2)),
      "partial index served a vector it does not hold")
    // release the partial-index cache: grown() rebuilds the SAME logical
    // plan, and the cache manager would otherwise serve the stale
    // partial rows in place of the fully-grown table
    midIdx.unpersist()

    batches.tail.foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    val fin = sim.ivfPqOf(grown(), booksDf, cellsDf, qs)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(fin == rebuilt, "fully-grown streamed index must serve == inline rebuild")
  }

  test("composed graph serve+maintain: stream-assigned vectors merge the stored kNN graph into the rebuild") {
    // 22i3's composed story for the graph family: a stored kNN graph
    // serves consumers while arriving vectors are cell-assigned
    // IN-STREAM under the frozen centroids (one narrow per-row argmax,
    // zero state rows) and knnGraphMerge folds them in — the grown
    // graph must equal a one-shot rebuild over everything.
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFns
    val sim = graft.operators.Similarity
    val all = sim.emb(spark, sf).cache()
    val k = sim.knnCellsFor(all.count())
    val cents = sim.kmeansCentroidSeqs(all, k, iters = 3)
    val assigned = sim.assignCellsCosine(all, cents)
      .select($"vec_id", $"vec", $"cid").cache()
    val cells1 = assigned.filter($"vec_id" % 2 === 0).cache()
    val stored = sim.knnGraphOf(cells1).cache()
    assert(stored.count() > 0)

    val arriving = graft.sources.Tables.embeddings(spark, sf)
      .filter($"vec_id" % 2 =!= 0).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    val input = MemoryStream[(Long, Seq[Float])]
    // the batch build's exact normalize + argmax, as a streaming map
    val unitized = input.toDS().toDF("vec_id", "embedding")
      .select($"vec_id", VectorFns.asDouble($"embedding").as("raw"))
      .withColumn("__n", VectorFns.norm($"raw"))
      .select($"vec_id", VectorFns.normalize($"raw", $"__n").as("vec"))
    val coded = sim.assignCellsCosine(unitized, cents)
      .select($"vec_id", $"vec", $"cid")
    val q = coded.writeStream.format("memory").queryName("knn_grow")
      .outputMode("append").start()
    arriving.grouped(math.max(1, arriving.length / 2 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.isEmpty) // narrow plan, no state
    q.stop()

    val newAssigned = spark.table("knn_grow")
      .select($"vec_id", $"vec", $"cid")
    // stream-assigned cells == the batch assigner's, bit for bit
    val batchAssign = assigned.filter($"vec_id" % 2 =!= 0)
      .select($"vec_id", $"cid").as[(Long, Int)].collect().toMap
    newAssigned.select($"vec_id", $"cid").as[(Long, Int)].collect()
      .foreach { case (v, c) =>
        assert(batchAssign(v) == c, s"vec $v stream cell $c != batch ${batchAssign(v)}")
      }
    val merged = sim.knnGraphMerge(stored, cells1, newAssigned)
      .select($"vec_id", $"nid", $"sim", $"rn")
      .as[(Long, Long, Double, Int)].collect().toSet
    val rebuilt = sim.knnGraphOf(assigned)
      .select($"vec_id", $"nid", $"sim", $"rn")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(merged == rebuilt && merged.nonEmpty,
      "stream-grown graph must equal the frozen-centroid rebuild")
  }

  test("streaming ivfpq encode: codes == stored-index codes bit-for-bit, zero state rows") {
    implicit val sqlCtx = spark.sqlContext
    val sim = graft.operators.Similarity
    val (codesDf, booksDf, cellsDf) = sim.ivfPqIndex(spark, sf)
    val (cellModel, bookModel) = sim.ivfPqModels(booksDf, cellsDf)
    // the stored index's per-vector code words, ordered by subspace
    val stored = codesDf.select(col("s"), col("vec_id"), col("cid"))
      .as[(Int, Long, Int)].collect().groupBy(_._2)
      .map { case (id, rows) => id -> rows.sortBy(_._1).map(_._3).toSeq }
    assert(stored.nonEmpty)

    // labeled rows: the residual encode takes each vector against ITS
    // label cell, exactly as the batch index build does — bit-for-bit
    // equality is only defined under the same cell choice
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Seq[Float], String)].collect()
    val input = MemoryStream[(Long, Seq[Float], String)]
    val coded = EventStream.ivfPqEncodeScore(
      input.toDS().toDF("vec_id", "embedding", "label"), cellModel, bookModel)
    val q = coded.writeStream.format("memory").queryName("ivfpq_stream")
      .outputMode("append").start()
    vecs.grouped(math.max(1, vecs.length / 2 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.isEmpty) // narrow plan, no state
    q.stop()
    // every labeled-path row must self-report spec-exact provenance
    assert(spark.table("ivfpq_stream").filter(!col("label_exact")).isEmpty)
    val got = spark.table("ivfpq_stream")
      .select($"vec_id", $"cell", $"codes")
      .as[(Long, String, Seq[Int])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(got.size == stored.size)
    // ingest-encoded codes bit-match the batch index build's codes, and
    // every assigned cell is one of the stored cells
    val cellNames = cellModel.map(_._1).toSet
    stored.foreach { case (id, codes) =>
      assert(got(id)._2 == codes, s"vec $id ingest codes diverge from index build")
      assert(cellNames.contains(got(id)._1))
    }
  }

  test("streaming ann serve: streamed query batches == batch indexed serve bit-for-bit; retry-idempotent") {
    // round 13: the query-side twin of the serve/maintain pair — 31n
    // streams vectors INTO the stored IVFPQ index, this streams QUERIES
    // against it. Equality target is the exact same serve tail run as a
    // batch over the same stored index (refine on), so any drift in the
    // stream path's normalization or the pruned-store read shows as a
    // bit mismatch.
    implicit val sqlCtx = spark.sqlContext
    val sim = graft.operators.Similarity
    val base = sim.ivfPqWriteIndex(spark, sf,
      java.nio.file.Files.createTempDirectory("annserve_idx").toString)
    val qsAll = sim.emb(spark, sf).filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"vec".as("qvec")).cache()
    val expected = sim.ivfPqOf(sim.ivfPqReadCodes(spark, base),
        spark.read.parquet(s"$base/books"), spark.read.parquet(s"$base/cells"),
        qsAll, refine = Some(sim.emb(spark, sf)))
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))
    assert(expected.nonEmpty)

    // raw (vec_id, embedding) rows — the stream side does its own
    // normalization; feeding it pre-normalized vectors would hide a
    // broken normalize chain
    val raw = graft.sources.Tables.embeddings(spark, sf).filter($"vec_id" < 5)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val input = MemoryStream[(Long, Seq[Float])]
    val outPath = java.nio.file.Files.createTempDirectory("annserve_out").toString
    val ck = java.nio.file.Files.createTempDirectory("annserve_ck").toString
    val q = EventStream.annServeStream(input.toDS().toDF("vec_id", "embedding"),
      base, outPath, ck, refineDir = Some(sf))
    val (b1, b2) = raw.splitAt(2)
    input.addData(b1.toSeq); q.processAllAvailable()
    input.addData(b2.toSeq); q.processAllAvailable()
    assert(q.lastProgress.stateOperators.isEmpty) // the index IS the state
    q.stop()
    def served() = spark.read.parquet(s"$outPath/batch-*")
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))
    assert(served() == expected, "streamed serve diverged from batch indexed serve")
    // crash-retry: replaying a batch overwrites its own subdirectory —
    // answers are not duplicated and the union is unchanged
    EventStream.annServeBatch(b1.toSeq.toDF("vec_id", "embedding"), 0L,
      base, outPath, Some(sf))
    assert(served() == expected, "batch replay must be idempotent")
    qsAll.unpersist()
  }

  test("streaming hybrid serve: streamed query batches == gated hybrid RRF bit-for-bit; retry-idempotent") {
    // round 13: online hybrid retrieval — BM25 over the bucketed
    // postings store + exact cosine over the embedding store, RRF-fused
    // per micro-batch. Equality target is the GATED sim_hybrid_rrf
    // entry itself (corpus queries stream their own text+embedding), so
    // any drift in tokenization, normalization, stored-index scoring, or
    // fusion arithmetic shows as a bit mismatch.
    implicit val sqlCtx = spark.sqlContext
    val ret = graft.operators.Retrieval
    val expected = ret.hybridRrf(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    assert(expected.nonEmpty)

    val raw = graft.sources.Tables.documents(spark, sf).filter($"doc_id" < 5)
      .select($"doc_id", $"text")
      .join(graft.sources.Tables.embeddings(spark, sf).filter($"vec_id" < 5)
        .select($"vec_id", $"embedding"), $"doc_id" === $"vec_id")
      .select($"doc_id".as("qid"), $"text", $"embedding")
      .as[(Long, String, Seq[Float])].collect()
    assert(raw.length == 5)
    val input = MemoryStream[(Long, String, Seq[Float])]
    val outPath = java.nio.file.Files.createTempDirectory("hybserve_out").toString
    val ck = java.nio.file.Files.createTempDirectory("hybserve_ck").toString
    val q = EventStream.hybridServeStream(
      input.toDS().toDF("qid", "text", "embedding"), sf, outPath, ck)
    val (b1, b2) = raw.splitAt(2)
    input.addData(b1.toSeq); q.processAllAvailable()
    input.addData(b2.toSeq); q.processAllAvailable()
    assert(q.lastProgress.stateOperators.isEmpty) // the stores ARE the state
    q.stop()
    def served() = spark.read.parquet(s"$outPath/batch-*")
      .as[(Long, Int, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    assert(served() == expected, "streamed hybrid serve diverged from gated hybrid RRF")
    // crash-retry: replaying a batch overwrites its own subdirectory
    EventStream.hybridServeBatch(b1.toSeq.toDF("qid", "text", "embedding"), 0L,
      sf, outPath, 5)
    assert(served() == expected, "batch replay must be idempotent")
  }

  test("hybrid serve batches release their caches: persistent RDDs stay at the starting count") {
    // a forever-running serve must not grow the session per batch: each
    // leg answers with an uncached local relation, and each serve store
    // registers one catalog table per generation, not one per batch
    val raw = graft.sources.Tables.documents(spark, sf).filter($"doc_id" < 3)
      .select($"doc_id", $"text")
      .join(graft.sources.Tables.embeddings(spark, sf).filter($"vec_id" < 3)
        .select($"vec_id", $"embedding"), $"doc_id" === $"vec_id")
      .select($"doc_id".as("qid"), $"text", $"embedding")
      .as[(Long, String, Seq[Float])].collect().toSeq
    val base = graft.operators.Similarity.ivfPqWriteIndex(spark, sf,
      java.nio.file.Files.createTempDirectory("anncache_idx").toString)
    val hybridOut = java.nio.file.Files.createTempDirectory("hybcache_out").toString
    val annOut = java.nio.file.Files.createTempDirectory("anncache_out").toString
    val serves: Seq[(String, Long => Unit)] = Seq(
      "hybridServeBatch" -> (b => EventStream.hybridServeBatch(
        raw.toDF("qid", "text", "embedding"), b, sf, hybridOut, 5)),
      "annServeBatch" -> (b => EventStream.annServeBatch(
        raw.map(r => (r._1, r._3)).toDF("vec_id", "embedding"), b, base, annOut, Some(sf))),
      // the BM25 leg on its own, its answer read and then dropped
      // without an unpersist, as a caller that only ranks does
      "bm25ServeStored" -> (_ => graft.operators.Retrieval.bm25ServeStored(spark, sf,
        raw.map(r => (r._1, r._2)).toDF("qid", "text")
          .select($"qid", explode(graft.functions.TextFns.tokens($"text")).as("term")), 5)
        .collect()))
    def storeTables(prefix: String): Int =
      spark.catalog.listTables().collect().count(_.name.startsWith(prefix))
    def state(): (Int, Int, Int) = (spark.sparkContext.getPersistentRDDs.size,
      storeTables("g_bm25_"), storeTables("g_vecs_"))
    serves.foreach { case (name, serve) =>
      // one call first, so the stores it opens exist before the count
      serve(0L)
      val before = state()
      (1 to 3).foreach(b => serve(b.toLong))
      assert(state() == before,
        s"$name: (persistent RDDs, g_bm25_ tables, g_vecs_ tables) went from $before to ${state()}")
    }
  }

  test("streaming serves answer FOREIGN queries: a clone of corpus member 7 retrieves it") {
    // The production case the corpus-query equality specs can't cover:
    // a query id that is NOT in the corpus (no self-exclusion row, no
    // stored rank list). Clone doc/vec 7's content under a fresh id —
    // the vector legs must put 7 first (exact cosine 1.0 after refine),
    // and the hybrid fusion must surface 7 in its top-5.
    implicit val sqlCtx = spark.sqlContext
    val sim = graft.operators.Similarity
    val fid = 999999L
    val doc7 = graft.sources.Tables.documents(spark, sf)
      .filter($"doc_id" === 7).select($"text").head.getString(0)
    val vec7 = graft.sources.Tables.embeddings(spark, sf)
      .filter($"vec_id" === 7).select($"embedding")
      .as[Seq[Float]].head

    // hybrid serve
    val inputH = MemoryStream[(Long, String, Seq[Float])]
    val outH = java.nio.file.Files.createTempDirectory("hybforeign_out").toString
    val qh = EventStream.hybridServeStream(
      inputH.toDS().toDF("qid", "text", "embedding"), sf, outH,
      java.nio.file.Files.createTempDirectory("hybforeign_ck").toString)
    inputH.addData((fid, doc7, vec7)); qh.processAllAvailable(); qh.stop()
    val fused = spark.read.parquet(s"$outH/batch-*")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(fused.map(_._1).distinct == Seq(fid))
    assert(fused.exists(r => r._3 == 7L && r._2 <= 5),
      s"clone query should surface doc 7 in the fused top-5, got $fused")

    // ann serve over a stored index
    val base = sim.ivfPqWriteIndex(spark, sf,
      java.nio.file.Files.createTempDirectory("annforeign_idx").toString)
    val inputA = MemoryStream[(Long, Seq[Float])]
    val outA = java.nio.file.Files.createTempDirectory("annforeign_out").toString
    val qa = EventStream.annServeStream(
      inputA.toDS().toDF("vec_id", "embedding"), base, outA,
      java.nio.file.Files.createTempDirectory("annforeign_ck").toString,
      refineDir = Some(sf))
    inputA.addData((fid, vec7)); qa.processAllAvailable(); qa.stop()
    val ann = spark.read.parquet(s"$outA/batch-*")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val top = ann.filter(_._4 == 1)
    assert(top.map(_._2) == Seq(7L),
      s"identical-vector foreign query must rank vec 7 first, got $top")
  }

  test("streaming weighted reservoir: final top-K == batch priority sample bit-for-bit, one state row") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)].collect()
    val input = MemoryStream[(Long, Long)]
    val picks = EventStream.priorityReservoir(
      input.toDS().toDF("doc_id", "n_chars"))
    val q = picks.writeStream.format("memory").queryName("prio_stream")
      .outputMode("update").start()
    var batches = 0L
    docs.grouped(math.max(1, docs.length / 3 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable(); batches += 1
    }
    assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum == 1,
      "reservoir must be ONE state row")
    q.stop()
    val all = spark.table("prio_stream")
      .as[(Long, Int, Long, Long, Double)].collect()
    assert(all.map(_._1).max == batches)
    val finalRes = all.filter(_._1 == batches)
      .map(t => (t._2, t._3, t._4, t._5)).sortBy(_._1).toSeq
    val want = graft.operators.Curation.prioritySample(spark, sf)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(want.nonEmpty && finalRes == want,
      "streamed reservoir must equal the batch top-K exactly")
    // intermediate reservoirs are prefix-correct: batch-1 picks are the
    // top-K of the first chunk alone
    val firstChunk = docs.take(math.max(1, docs.length / 3 + 1)).map(_._1).toSet
    val b1 = all.filter(_._1 == 1L).map(_._3)
    assert(b1.nonEmpty && b1.forall(firstChunk.contains))
  }

  test("streaming bloom novelty: flags == batch, no false negatives, zero state rows") {
    implicit val sqlCtx = spark.sqlContext
    // catalog filter built offline over the first half of the corpus +
    // the gated seeds (the dedup_bloom_probe split)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val catKeys = docs.filter(col("doc_id") < 250)
      .unionByName(graft.operators.Dedup.BloomCatalogSeeds.toDF("doc_id", "text"))
      .select(md5(col("text")).as("fp"))
    val bytes = catKeys
      .agg(graft.functions.Bloom.bloomAgg(col("fp"), 4096, 32768).as("bf"))
      .head().getAs[Array[Byte]](0)

    val incoming = docs.filter(col("doc_id") >= 250)
      .unionByName(graft.operators.Dedup.BloomIncomingSeeds.toDF("doc_id", "text"))
      .as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val flagged = EventStream.bloomNovelScore(
      input.toDS().toDF("doc_id", "text"), bytes)
    val q = flagged.writeStream.format("memory").queryName("bloom_stream")
      .outputMode("append").start()
    incoming.grouped(math.max(1, incoming.length / 3 + 1)).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    assert(q.lastProgress.stateOperators.isEmpty) // narrow plan, no state
    q.stop()
    val got = spark.table("bloom_stream")
      .select("doc_id", "maybe_dup").as[(Long, Boolean)].collect().toMap
    assert(got.size == incoming.length)
    // streamed == batch scorer bit-for-bit
    val want = EventStream.bloomNovelScore(
        docs.filter(col("doc_id") >= 250)
          .unionByName(graft.operators.Dedup.BloomIncomingSeeds.toDF("doc_id", "text")),
        bytes)
      .select("doc_id", "maybe_dup").as[(Long, Boolean)].collect().toMap
    assert(got == want)
    // no false negatives: the seeded true dups MUST be flagged maybe
    assert(got(9000001L) && got(9000002L), "true catalog member not flagged")
    // and the routing is non-vacuous: most organic docs pass as definite-novel
    assert(got.count(!_._2) > got.size / 2, "filter flags most of the stream")
  }

  test("label_exact routing: marker-filtered merge == batch merge; fallback rows diverge") {
    // round 14 (r13 verdict task 8): the CONSUMER side of the in-band
    // provenance marker. A merger that must stay rebuild-exact routes
    // on label_exact — filtered rows merge bit-identically to the
    // batch ivfPqIndexMerge; the unlabeled fallback row demonstrably
    // diverges (nearest cell != catalog label cell), which is exactly
    // why it must not be merged (ivfPqIndexMerge now requires labels).
    implicit val sqlCtx = spark.sqlContext
    val sim = graft.operators.Similarity
    val dim = 64
    def unitAt(axis: Int, jitterId: Long): Seq[Double] = {
      val raw = (0 until dim).map { d =>
        (if (d == axis) 10.0 else 0.0) + ((jitterId * 31 + d * 7) % 5) * 0.01
      }
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    // two well-separated label clusters on axes 0 and 1
    val corpus = ((0L until 20L).map(i => (i, "a", unitAt(0, i))) ++
      (20L until 40L).map(i => (i, "b", unitAt(1, i)))).toDF("vec_id", "label", "vec")
    val (codes0, books, cells) = sim.ivfPqIndexOf(corpus)
    val (cellModel, bookModel) = sim.ivfPqModels(books, cells)

    // id 100 is CATALOG-labeled "a" but sits on b's axis — the case
    // where the nearest-centroid fallback picks a different cell
    val arriving = Seq(
      (100L, "a", unitAt(1, 100L)),
      (101L, "b", unitAt(1, 101L)),
      (102L, "a", unitAt(0, 102L)))
    val arrDf = arriving.toDF("vec_id", "label", "embedding")
    val codedL = EventStream.ivfPqEncodeScore(arrDf, cellModel, bookModel).cache()
    val codedU = EventStream.ivfPqEncodeScore(arrDf.drop("label"), cellModel, bookModel).cache()
    assert(codedL.filter(!col("label_exact")).isEmpty)
    assert(codedU.filter(col("label_exact")).isEmpty)
    // the fallback genuinely diverges on the mislabeled-shape vector
    def cellOf(df: org.apache.spark.sql.DataFrame, id: Long): String =
      df.filter($"vec_id" === id).head.getAs[String]("cell")
    assert(cellOf(codedL, 100L) == "a", "labeled path must take the catalog cell")
    assert(cellOf(codedU, 100L) == "b", "fallback must take the nearest cell")

    // a mixed-provenance stream: exact rows for 101/102, fallback for 100
    val mixed = codedL.filter($"vec_id" =!= 100L)
      .unionByName(codedU.filter($"vec_id" === 100L))
    val exactOnly = mixed.filter($"label_exact")
    val streamedCodes = exactOnly
      .select($"vec_id", posexplode($"codes").as(Seq("s0", "cid")))
      .select($"s0".cast("int").as("s"), $"vec_id", $"cid")
      .join(arrDf.select($"vec_id", $"label"), "vec_id")
      .select($"s", $"vec_id", $"cid", $"label")
    val viaMarker = codes0.unionByName(streamedCodes)
      .select($"s", $"vec_id", $"cid", $"label")
      .as[(Int, Long, Int, String)].collect().toSet
    val viaBatch = sim.ivfPqIndexMerge(codes0, books, cells,
        arriving.filter(_._1 != 100L).toDF("vec_id", "label", "vec"))
      .select($"s", $"vec_id", $"cid", $"label")
      .as[(Int, Long, Int, String)].collect().toSet
    assert(viaMarker == viaBatch && viaMarker.nonEmpty,
      "marker-filtered streamed merge must equal the batch merge")
    // and the merge API itself refuses unlabeled ingests
    val e = intercept[IllegalArgumentException] {
      sim.ivfPqIndexMerge(codes0, books, cells,
        arriving.toDF("vec_id", "label", "vec").drop("label"))
    }
    assert(e.getMessage.contains("label_exact"))
    codedL.unpersist(); codedU.unpersist()
  }

  test("streaming quality gate == batch gate verdicts; zero state; retry idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextFns
    import graft.operators.Curation
    val sfDocs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val outPath = java.nio.file.Files.createTempDirectory("qgate_out").toString
    val ck = java.nio.file.Files.createTempDirectory("qgate_ck").toString
    val q = EventStream.qualityGateStream(input.toDS().toDF("doc_id", "text"), outPath, ck)
    val batches = sfDocs.grouped(math.max(1, sfDocs.length / 3 + 1)).toSeq
    batches.foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    assert(q.lastProgress.stateOperators.isEmpty,
      "per-doc gate must keep no state-store rows")
    q.stop()
    def streamed() = spark.read.option("recursiveFileLookup", "true").parquet(outPath)
      .collect().map(_.toSeq).toSet
    val want = Curation.qualityGateOf(
        sfDocs.toSeq.toDF("doc_id", "text")
          .select($"doc_id", TextFns.tokens($"text").as("t")))
      .collect().map(_.toSeq).toSet
    assert(streamed() == want, "streamed gate verdicts diverged from batch gate")
    assert(want.exists(r => r(2) == false), "gate must actually reject something here")
    // crash retry: replaying batch 0 overwrites its own subdirectory
    EventStream.qualityGateBatch(batches.head.toSeq.toDF("doc_id", "text"), 0L, outPath)
    assert(streamed() == want, "batch replay must be idempotent")
  }

  test("streaming ML quality gate == batch verdicts incl. a CJK doc; zero state; retry idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextFns
    import graft.operators.{Curation, TextAnalysis}
    // a slice of the corpus plus the held-out ja/ru docs — the content
    // the v1 gate stream cannot even tokenize
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().take(60) ++
      TextAnalysis.HoldoutDocs.filter(h => h._1 == "ja" || h._1 == "ru")
        .map(h => (h._2, h._3))
    val input = MemoryStream[(Long, String)]
    val outPath = java.nio.file.Files.createTempDirectory("qml_out").toString
    val ck = java.nio.file.Files.createTempDirectory("qml_ck").toString
    val q = EventStream.qualityGateMlStream(input.toDS().toDF("doc_id", "text"), outPath, ck)
    val batches = docs.grouped(25).toSeq
    batches.foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    assert(q.lastProgress.stateOperators.isEmpty,
      "per-doc ML gate must keep no state-store rows")
    q.stop()
    def streamed() = spark.read.option("recursiveFileLookup", "true").parquet(outPath)
      .collect().map(_.toSeq).toSet
    val want = Curation.qualityGateMlOf(
        docs.toSeq.toDF("doc_id", "text")
          .select($"doc_id", TextFns.tokensScript($"text").as("t")))
      .collect().map(_.toSeq).toSet
    assert(streamed() == want, "streamed ML gate verdicts diverged from batch")
    // the CJK/Cyrillic docs pass in-stream (keep=true at column 2)
    val seedVerdicts = want.filter(r => r.head.asInstanceOf[Long] < 0L)
    assert(seedVerdicts.nonEmpty && seedVerdicts.forall(_(2) == true),
      s"held-out docs must pass the streamed ML gate: $seedVerdicts")
    // crash retry: replaying batch 0 overwrites its own subdirectory
    EventStream.qualityGateMlBatch(batches.head.toSeq.toDF("doc_id", "text"), 0L, outPath)
    assert(streamed() == want, "batch replay must be idempotent")
  }

  test("streaming crawl hygiene: domain/canonical/blocked == batch per-row ops, zero state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.DomainCuration
    val urls = Seq(
      (1L, "https://WWW.Good.com:443/a?utm_source=x&k=1"),
      (2L, "http://bad.com/x"),
      (3L, "https://sub.bad.com/y#f"),
      (4L, "https://notbad.com/z/"),
      (5L, "https://user@other.org:8080/p"))
    val bl = Seq("bad.com")
    val input = MemoryStream[(Long, String)]
    val scored = EventStream.crawlHygieneScore(
      input.toDS().toDF("doc_id", "url"), bl)
    val q = scored.writeStream.format("memory").queryName("crawl_hygiene")
      .outputMode("append").start()
    urls.grouped(2).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    assert(q.lastProgress.stateOperators.isEmpty, "hygiene scoring must keep no state")
    q.stop()
    val got = spark.table("crawl_hygiene")
      .select($"doc_id", $"domain", $"url_canonical", $"blocked")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3))).toSet
    // batch twin: the same per-row expressions over the same rows
    val batch = urls.toDF("doc_id", "url")
      .withColumn("domain", DomainCuration.domainOf($"url"))
      .select($"doc_id", $"domain",
        DomainCuration.canonicalUrl($"url").as("url_canonical"),
        lit(false).as("blocked"))
    val batchKept = DomainCuration.blocklistAntiJoin(batch, bl)
      .select($"doc_id").as[Long].collect().toSet
    val want = batch.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
      !batchKept.contains(r.getLong(0)))).toSet
    assert(got == want, "streamed hygiene diverged from the batch ops")
    assert(got.filter(_._4).map(_._1) == Set(2L, 3L), "exact + subdomain must flag")
    assert(got.find(_._1 == 1L).get._3 == "https://good.com/a?k=1")
    // forced over-budget path: the blocklist ships as a one-row
    // broadcast relation instead of a plan literal — value-identical
    spark.conf.set("spark.graft.crawl.blocklistLiteralMax", "0")
    try {
      val viaJoin = EventStream.crawlHygieneScore(urls.toDF("doc_id", "url"), bl)
      val gotJ = viaJoin.select($"doc_id", $"domain", $"url_canonical", $"blocked")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3))).toSet
      assert(gotJ == want, "broadcast-relation blocklist diverged from the literal path")
      assert(viaJoin.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "over-budget blocklist should ride a one-row broadcast relation")
    } finally spark.conf.unset("spark.graft.crawl.blocklistLiteralMax")
  }

  test("restart from checkpoint: killed classify loop resumes and matches uninterrupted run") {
    // the operational crash story (round 14): stop a query AFTER >= 1
    // committed batch, restart a NEW query from the SAME
    // checkpointLocation, and the final verdicts + catalog must equal
    // an uninterrupted run over the same chunks — offsets come from
    // the checkpoint, batchId-keyed sinks make any replay idempotent.
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val base = (0 until 40).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val other = (0 until 40).map(i => s"zulu$i yankee$i xray$i").mkString(" ")
    val catalog = Seq((0L, base),
      (1L, "completely different words here okay")).toDF("doc_id", "text")
    val chunks = Seq(
      Seq((250L, base), (251L, base.replace("alpha7", "changedy")), (252L, other)),
      Seq((301L, other), (303L, "nothing shared with anything at all")),
      Seq((400L, "nothing shared with anything at all")))

    def run(interrupted: Boolean): (Set[Seq[Any]], Set[Seq[Any]]) = {
      val tmp = java.nio.file.Files.createTempDirectory("restartcat").toString
      val (fp0, sh0) = Dedup.buildCatalog(catalog)
      fp0.write.parquet(s"$tmp/fp.parquet")
      sh0.write.parquet(s"$tmp/sh.parquet")
      val input = MemoryStream[(Long, String)]
      def start() = EventStream.classifyAgainstCatalog(
        input.toDS().toDF("doc_id", "text"),
        s"$tmp/fp.parquet", s"$tmp/sh.parquet", s"$tmp/verdicts", s"$tmp/ckpt")
      val q1 = start()
      input.addData(chunks.head)
      q1.processAllAvailable()
      if (interrupted) {
        q1.stop() // the "kill": >= 1 batch committed, stream keeps arriving
        input.addData(chunks(1)) // arrives while the query is DOWN
        val q2 = start() // resume from the same checkpointLocation
        q2.processAllAvailable() // chunk 2 drains as the next batchId
        // classify is per-micro-batch BY CONTRACT (within-batch novel
        // twins both read novel), so the equality target preserves
        // batch boundaries — the restart guarantee under test is
        // offsets + batchId continuity, not re-batching
        input.addData(chunks(2)); q2.processAllAvailable()
        q2.stop()
      } else {
        chunks.tail.foreach { c => input.addData(c); q1.processAllAvailable() }
        q1.stop()
      }
      (spark.read.option("recursiveFileLookup", "true").parquet(s"$tmp/verdicts")
         .collect().map(_.toSeq).toSet,
       Dedup.ShingleCatalog.read(spark, Seq(s"$tmp/fp.parquet", s"$tmp/sh.parquet"))(1).collect().map(_.toSeq).toSet)
    }
    val (vGold, cGold) = run(interrupted = false)
    val (vRestart, cRestart) = run(interrupted = true)
    assert(vRestart == vGold, "restarted run's verdicts diverged from uninterrupted run")
    assert(cRestart == cGold, "restarted run's catalog diverged from uninterrupted run")
    assert(vGold.map(r => (r.head, r(1))).contains((301L, "exact_dup")),
      "cross-chunk classification must still resolve through the merged catalog")
  }

  test("restart from checkpoint: killed ann serve resumes and matches uninterrupted serve") {
    implicit val sqlCtx = spark.sqlContext
    val sim = graft.operators.Similarity
    val base = sim.ivfPqWriteIndex(spark, sf,
      java.nio.file.Files.createTempDirectory("annrestart_idx").toString)
    val raw = graft.sources.Tables.embeddings(spark, sf).filter($"vec_id" < 6)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val batches = raw.grouped(2).toSeq
    def run(interrupted: Boolean): Seq[(Long, Long, Double, Int)] = {
      val outPath = java.nio.file.Files.createTempDirectory("annrestart_out").toString
      val ck = java.nio.file.Files.createTempDirectory("annrestart_ck").toString
      val input = MemoryStream[(Long, Seq[Float])]
      def start() = EventStream.annServeStream(input.toDS().toDF("vec_id", "embedding"),
        base, outPath, ck, refineDir = Some(sf))
      val q1 = start()
      input.addData(batches.head.toSeq)
      q1.processAllAvailable()
      if (interrupted) {
        q1.stop()
        batches.tail.foreach(b => input.addData(b.toSeq))
        val q2 = start()
        q2.processAllAvailable()
        q2.stop()
      } else {
        batches.tail.foreach { b => input.addData(b.toSeq); q1.processAllAvailable() }
        q1.stop()
      }
      spark.read.parquet(s"$outPath/batch-*")
        .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))
    }
    val gold = run(interrupted = false)
    val restarted = run(interrupted = true)
    assert(gold.nonEmpty)
    assert(restarted == gold, "restarted ann serve diverged from uninterrupted serve")
  }
}
