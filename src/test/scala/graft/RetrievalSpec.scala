package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions.lit
import graft.operators.Retrieval

class RetrievalSpec extends AnyFunSuite {
  lazy val spark = GraftSession.test
  import spark.implicits._

  /** Fixture: probe doc 0's query is {zebra, common}. "zebra" is rare
    * (df 4), "common" is corpus-wide (df 22); docs 12/13 probe tf
    * saturation and length normalization on "zebra" alone. Filler tokens
    * never match the query, so each candidate's score isolates ONE term. */
  private def corpus(): String = {
    val tmp = java.nio.file.Files.createTempDirectory("bm25").toString
    val filler = (0 until 30).map(i => s"filler$i").mkString(" ")
    val rows = Seq(
      (0L, "zebra common"), // the probe
      (10L, s"zebra $filler"), // rare-term match, tf=1
      (11L, s"common $filler"), // common-term match, tf=1, same length
      (12L, ("zebra " * 10) + filler), // tf=10
      (13L, s"zebra $filler $filler") // tf=1, twice the length
    ) ++ (100L until 120L).map(i => (i, s"common pad$i $filler"))
    rows.toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("bm25: rare-term match outranks common-term match (idf), tf saturates, length normalizes") {
    val tmp = corpus()
    val ranked = Retrieval.bm25Ranked(spark, tmp, 25)
      .filter($"qid" === 0L)
      .select($"doc_id", $"score").as[(Long, Double)].collect().toMap
    // idf: "zebra" (df 4) carries more bits than "common" (df 22)
    assert(ranked(10L) > ranked(11L), s"rare-term doc below common-term doc: $ranked")
    // tf saturation: tf=10 scores above tf=1, but below the k1+1 = 2.2x asymptote
    assert(ranked(12L) > ranked(10L))
    assert(ranked(12L) < 2.2 * ranked(10L))
    // length normalization: same tf=1, doc twice as long scores lower
    assert(ranked(13L) < ranked(10L))
  }

  test("rrf: fused ranks equal the hand-computed reciprocal-rank sum on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val text = Retrieval.bm25Ranked(spark, sf, 20)
      .select($"qid", $"doc_id", $"rn").as[(Long, Long, Int)].collect()
    val vec = graft.operators.Similarity.cosineRanked(spark, sf, 5, 20)
      .select($"qid", $"nid", $"rn").as[(Long, Long, Int)].collect()
    // driver-side reference fusion with exact decimal arithmetic
    val contrib = (text ++ vec).toSeq.groupBy(t => (t._1, t._2)).map { case (k, rows) =>
      k -> rows.map(r => BigDecimal(1.0 / (r._3 + 60))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)).sum
    }
    val expected = contrib.groupBy(_._1._1).flatMap { case (qid, m) =>
      m.toSeq.sortBy { case ((_, id), s) => (-s, id) }.take(5).zipWithIndex
        .map { case (((_, id), s), i) => (qid, i + 1, id, s.toDouble) }
    }.toSet
    val got = Retrieval.hybridRrf(spark, sf)
      .select($"qid", $"rn", $"id", $"rrf").as[(Long, Int, Long, Double)]
      .collect().toSet
    assert(got == expected, s"fused mismatch:\n got=$got\n exp=$expected")

    // the composed form over MATERIALIZED rank-list tables (the
    // production path — no per-fusion retrieval recompute) is identical
    val tmp = java.nio.file.Files.createTempDirectory("rrf").toString
    spark.createDataFrame(text.toSeq.map(t => (t._1, t._2, t._3)))
      .toDF("qid", "id", "rn").write.parquet(s"$tmp/text")
    spark.createDataFrame(vec.toSeq.map(t => (t._1, t._2, t._3)))
      .toDF("qid", "id", "rn").write.parquet(s"$tmp/vec")
    val composed = Retrieval.rrfFuseOf(Seq(
        spark.read.parquet(s"$tmp/text"), spark.read.parquet(s"$tmp/vec")), 5)
      .select($"qid", $"rn", $"id", $"rrf").as[(Long, Int, Long, Double)]
      .collect().toSet
    assert(composed == expected)
  }

  test("bm25 over a parquet-roundtripped materialized index == inline plan") {
    val sf = "/root/testdata/sf0.001"
    val inline = Retrieval.bm25Ranked(spark, sf, 5)
      .select($"qid", $"rn", $"doc_id", $"score")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(inline.nonEmpty)

    // build the index once, persist, serve the same query batch from it
    val tmp = java.nio.file.Files.createTempDirectory("bm25idx").toString
    val (p, s) = Retrieval.bm25IndexOf(graft.sources.Tables.documents(spark, sf))
    p.write.parquet(s"$tmp/postings")
    s.write.parquet(s"$tmp/stats")
    val postings = spark.read.parquet(s"$tmp/postings")
    val qterms = postings.filter($"doc_id" < 5)
      .select($"doc_id".as("qid"), $"term")
    val indexed = Retrieval.bm25Of(postings,
        spark.read.parquet(s"$tmp/stats"), qterms, 5)
      .select($"qid", $"rn", $"doc_id", $"score")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(indexed == inline)

    // batch 2 (a different query set) runs against the SAME stored index
    // — no tokenize scan in any pass it runs (the amortization claim);
    // the answer is a local relation, so the scans live in the passes
    val q2 = postings.filter($"doc_id" >= 5 && $"doc_id" < 8)
      .select($"doc_id".as("qid"), $"term")
    val (b2, ran) = org.apache.spark.sql.graft.ListenerBridge.withQueries(spark)(
      Retrieval.bm25Of(postings, spark.read.parquet(s"$tmp/stats"), q2, 5))
    val passPlans = ran.map(_._2.executedPlan.toString)
    assert(passPlans.exists(_.contains(s"$tmp/postings")),
      "the serve's passes should scan the stored postings")
    assert(!passPlans.exists(_.contains("documents.parquet")))
    assert(b2.count() > 0)
  }

  test("bm25 incremental index merge == built-from-union, and new docs become retrievable") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, sf)
    val (half1, half2) = (docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 =!= 0))
    val (p1, s1) = Retrieval.bm25IndexOf(half1)
    val (pm, sm) = Retrieval.bm25IndexMerge(p1, s1, half2)
    val (pu, su) = Retrieval.bm25IndexOf(docs)
    // postings: identical row sets; stats: identical scalars
    val key = Seq("doc_id", "dl", "term", "tf")
      .map(org.apache.spark.sql.functions.col)
    assert(pm.select(key: _*).exceptAll(pu.select(key: _*)).isEmpty)
    assert(pu.select(key: _*).exceptAll(pm.select(key: _*)).isEmpty)
    assert(sm.as[(Long, Long)].head() == su.as[(Long, Long)].head())
    // a query batch served from the merged index == served from the
    // union-built index, bit for bit — and it retrieves across BOTH halves
    val qterms = pu.filter($"doc_id" < 5).select($"doc_id".as("qid"), $"term")
    val a = Retrieval.bm25Of(pm, sm, qterms, 5)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val b = Retrieval.bm25Of(pu, su, qterms, 5)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(a == b && a.nonEmpty)
    // (the exceptAll row-set equality above already proves the merged
    // postings carry the appended odd half — no separate check needed)
  }

  test("mmr: an exact duplicate of the top hit is deferred below a diverse alternative") {
    // probe 0 = +x. Candidate 10 (cos .95, residual +y), its EXACT
    // duplicate 11, and 12 (cos .85, residual −y). Plain cosine order is
    // [10, 11, 12]; MMR round 2 penalizes 11 by sim=1.0 →
    // mmr(11) = .7·.95 − .3 = .365 < mmr(12) = .7·.85 − .3·(a·b = .643)
    // = .402, so the diverse 12 is selected before the duplicate.
    val tmp = java.nio.file.Files.createTempDirectory("mmr").toString
    def pad(v: Seq[Double]) = v.map(_.toFloat)
    val rows = Seq(
      (0L, pad(Seq(1.0, 0, 0, 0)), 0),
      (1L, pad(Seq(0, 0, 0, 1.0)), 0), // probes 1-4: junk directions
      (2L, pad(Seq(0, 0, 1.0, 0)), 0),
      (3L, pad(Seq(0, 1.0, 0, 0)), 0),
      (4L, pad(Seq(0, 0.6, 0.8, 0)), 0),
      (10L, pad(Seq(0.95, 0.312250, 0, 0)), 1),
      (11L, pad(Seq(0.95, 0.312250, 0, 0)), 1), // exact duplicate of 10
      (12L, pad(Seq(0.85, -0.526783, 0, 0)), 1))
      .toDF("vec_id", "embedding", "label")
    rows.write.parquet(s"$tmp/embeddings.parquet")
    val sel = Retrieval.mmrRerank(spark, tmp)
      .filter($"qid" === 0L).orderBy($"rn")
      .select($"nid").as[Long].collect().toSeq
    assert(sel.take(3) == Seq(10L, 12L, 11L),
      s"expected diverse pick [10, 12, 11], got $sel")
  }

  test("adaptive stored serve: narrow vocab prunes buckets, broad vocab takes the flat view, answers identical") {
    val sf = "/root/testdata/sf0.001"
    val (postings, stats) = Retrieval.bm25Store(spark, sf)

    // decision inputs: one term hashes into exactly one bucket; the
    // whole corpus vocabulary covers most of the derived bucket count
    // (16 — the Layout floor at this 500-doc SF)
    val nb = Retrieval.postingsBuckets(spark, sf)
    val term1 = postings.select($"term").head.getString(0)
    val q1 = Seq((99L, term1)).toDF("qid", "term")
    assert(Retrieval.vocabBucketCoverage(q1, nb) == 1L)
    // derive the broad vocabulary from the FLAT view so the only scan
    // in the serve plan below is the serve's own postings read (the
    // qterms lineage would otherwise contribute a bucketed scan)
    val qAll = Retrieval.Postings.open(spark, sf).flat.select($"term").distinct()
      .select(lit(7L).as("qid"), $"term")
    assert(Retrieval.vocabBucketCoverage(qAll, nb) * 2 > nb,
      "corpus vocabulary should cover most term buckets")
    // the driver rule counts exactly the buckets Spark's bucketed writer
    // assigns the vocabulary to
    def sparkCoverage(q: org.apache.spark.sql.DataFrame): Long =
      q.select(functions.pmod(functions.hash($"term"), lit(nb))).distinct().count()
    assert(Retrieval.vocabBucketCoverage(q1, nb) == sparkCoverage(q1))
    assert(Retrieval.vocabBucketCoverage(qAll, nb) == sparkCoverage(qAll))

    // the serve answers with a local relation: its postings scans live
    // in the executed plans of the passes it ran
    def servePlans(q: org.apache.spark.sql.DataFrame) = {
      val (out, ran) = org.apache.spark.sql.graft.ListenerBridge.withQueries(spark)(
        Retrieval.bm25ServeStored(spark, sf, q, 5))
      (out, ran.map(_._2.executedPlan.toString).mkString("\n"))
    }

    // narrow branch: the executed plan reads 1 of the nb bucket files
    val (_, narrowPlan) = servePlans(q1)
    assert(narrowPlan.contains(s"SelectedBucketsCount: 1 out of $nb"),
      "narrow-vocab serve should take the pruned bucketed scan")

    // broad branch: same files through the flat view — no bucket
    // metadata in the plan, bit-identical answers to the bucketed serve
    val (broad, broadPlan) = servePlans(qAll)
    val broadRows = broad
      .select($"qid", $"rn", $"doc_id", $"score")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(!broadPlan.contains("SelectedBucketsCount"),
      "broad-vocab serve should bypass the bucketed table")
    val viaBucketed = Retrieval.bm25Of(postings, stats, qAll, 5)
      .select($"qid", $"rn", $"doc_id", $"score")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(broadRows == viaBucketed, "scan strategy must not change answers")
    assert(broadRows.nonEmpty)
  }

  test("multilingual BM25: a ja/ru query retrieves its language's prose; the v1 tokenizer cannot index it at all") {
    import graft.operators.TextAnalysis
    import graft.functions.TextFns
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val holdoutByLang = TextAnalysis.HoldoutDocs.map(h => h._1 -> h._2).toMap
    val proseByLang = TextAnalysis.SeedProseDocs.map(h => h._1 -> h._2).toMap
    val got = Retrieval.bm25TopkMl(spark, sf)
      .select($"qid", $"rn", $"doc_id")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // each non-Latin held-out query's TOP hit is its own language's
    // seed prose (shared kana/han codepoints / Cyrillic words carry
    // high idf; nothing else in the corpus contains them)
    for (lang <- Seq("ja", "ru", "el", "ar", "hi")) {
      val hits = got.getOrElse(holdoutByLang(lang), Seq.empty)
      assert(hits.headOption.contains(proseByLang(lang)),
        s"$lang query must retrieve its language's prose first: $hits")
    }
    // the v1 tokenizer over the SAME corpus: the ja doc has no terms —
    // no postings, no query, nothing to retrieve (the r18 finding)
    val v1JaTerms = TextAnalysis.mlDocs2(spark, sf)
      .filter(col("doc_id") === holdoutByLang("ja"))
      .select(size(TextFns.tokens(col("text")))).as[Int].head()
    assert(v1JaTerms == 0, "v1 must see zero indexable terms in the ja doc")
  }

  test("seg BM25: retrieval holds under unit terms, and ja matches through real multi-codepoint word pieces") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val holdoutByLang = TextAnalysis.HoldoutDocs.map(h => h._1 -> h._2).toMap
    val proseByLang = TextAnalysis.SeedProseDocs.map(h => h._1 -> h._2).toMap
    val got = Retrieval.bm25TopkSeg(spark, sf)
      .select($"qid", $"rn", $"doc_id")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // the ML property carries over: each non-Latin query's top hit is
    // its language's seed prose — now matched through UNIT terms for
    // the unspaced scripts (word-run terms are unchanged)
    for (lang <- Seq("ja", "ru", "el", "ar", "hi")) {
      val hits = got.getOrElse(holdoutByLang(lang), Seq.empty)
      assert(hits.headOption.contains(proseByLang(lang)),
        s"$lang query must retrieve its language's prose first: $hits")
    }
    // the ja match goes through REAL word pieces: at least one shared
    // term between the held-out ja doc and the seed prose is a
    // multi-codepoint learned unit (under 25k4's per-codepoint terms a
    // single shared CHARACTER was the matching grain)
    val runPat = java.util.regex.Pattern.compile(TextAnalysis.UnspacedRunPattern)
    def unitsOf(s: String): Set[String] = {
      val m = runPat.matcher(s); val b = Set.newBuilder[String]
      while (m.find()) b ++= TextAnalysis.segApply(m.group())
      b.result()
    }
    val holdJa = TextAnalysis.HoldoutDocs.find(_._1 == "ja").get._3
    val seedJa = TextAnalysis.SeedProseDocs.find(_._1 == "ja").get._3
    val shared = unitsOf(holdJa).intersect(unitsOf(seedJa)).filter(_.length > 1)
    assert(shared.nonEmpty,
      "ja probe and ja prose must share a multi-codepoint unit term")
  }
}
