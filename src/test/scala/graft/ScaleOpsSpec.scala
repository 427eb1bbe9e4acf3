package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, Curation, Dedup, Graph, Sampling, Skew}

class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.test
  import spark.implicits._

  test("sampleN: sample_rank is exactly the hash-order rank (evaluation-order invariant)") {
    // sampleN numbers rows with coalesce(1)+sortWithinPartitions+
    // monotonically_increasing_id — correct only while Spark evaluates
    // the project above the local sort in partition order. If a future
    // optimizer change breaks that invariant, this spec fails loudly.
    val df = (1 to 3000).map(i => (i.toLong, s"doc$i")).toDF("id", "title")
    val got = Sampling.sampleN(df, col("id"), 100, seed = 7)
      .select(col("id"), col("sample_rank")).as[(Long, Int)].collect()
    assert(got.map(_._2).sorted.toSeq == (1 to 100))
    val expected = df.withColumn("h", Sampling.hashKey(7, col("id")))
      .orderBy(col("h"), col("id")).limit(100).select("id").as[Long].collect().toSeq
    assert(got.sortBy(_._2).map(_._1).toSeq == expected)
  }

  test("spreadByWeight: heavy rows land in guaranteed-distinct partitions, rows unchanged") {
    val df = ((1 to 500).map(i => (i.toLong, 100L)) ++
      (900 to 906).map(i => (i.toLong, 5000000L))).toDF("doc_id", "n_chars")
    val out = Skew.spreadByWeight(df, "n_chars", "doc_id", 32, 1000000L)
    assert(out.as[(Long, Long)].collect().toSet ==
      df.as[(Long, Long)].collect().toSet) // placement-only: rows identical
    // the 7 heavy rows occupy 7 DISTINCT partitions — hash placement
    // would collide with probability ~0.5 here, so this catches any
    // regression to expected-case spreading
    val pids = out.withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
      .filter(col("n_chars") >= 1000000L).select("pid").as[Int].collect()
    assert(pids.length == 7 && pids.distinct.length == 7, s"heavy rows co-located: ${pids.toSeq}")
  }

  test("packSequences: distributed prefix sum == naive global window, window-free plan") {
    val sfDir = "/root/testdata/sf0.001"
    val got = Curation.packSequences(spark, sfDir)
    // reference implementation: the single-partition global window we
    // refuse to ship (fine at spec scale, a straggler at 100 TB)
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
      .withColumn("cum", sum("n").over(w))
      .select(col("doc_id"), col("n").as("n_tokens"),
        expr("(cum - n) div 1024").as("first_block"),
        expr("(cum - 1) div 1024").as("last_block"))
      .orderBy("doc_id")
    assert(got.collect().toSeq.map(_.toSeq) == naive.collect().toSeq.map(_.toSeq))
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "shipped packing plan must not contain a global WindowExec")

    // the same core under an explicit (okey, doc_id) order continuing an
    // existing stream (the shard refresh shape): == the naive window over
    // that order, shifted by startTokens
    val counts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("okey"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
    val start = 5000L
    val shifted = Curation.packOf(counts, Seq("okey", "doc_id"), startTokens = start)
    assert(shifted.columns.toSeq ==
      Seq("doc_id", "okey", "n_tokens", "first_block", "last_block"))
    val wo = Window.orderBy("okey", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naiveShifted = counts
      .withColumn("cum", sum("n").over(wo) + start)
      .select(col("doc_id"), col("okey"), col("n").as("n_tokens"),
        expr("(cum - n) div 1024").as("first_block"),
        expr("(cum - 1) div 1024").as("last_block"))
    def byId(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().toSeq.map(_.toSeq)
    assert(byId(shifted) == byId(naiveShifted) && byId(shifted).nonEmpty,
      "ordered, shifted packing diverged from the naive window")
  }

  test("pack closed form: max(last_block)+1 == (sum(n)-1) div B + 1 per group") {
    // the r21 release-card fusion rests on this identity: for a
    // contiguous stream of non-negative counts, the packing core's
    // max(last_block) is the final token's block, i.e. (Σn − 1) div B.
    // Adversarial shape: skewed groups, interleaved ids, zero counts
    // (v1 card input is unfiltered), one group of ONLY zeros (both
    // sides must then say 1 block), group totals landing exactly on
    // and either side of block boundaries.
    val rows = (0L until 400L).map { i =>
      val g = Seq("train", "val", "test", "zero")(((i * 11) % 4).toInt)
      val n = if (g == "zero") 0L else if (i % 13 == 0) 0L else (i * 37) % 97
      (g, i, n)
    } ++ Seq(("edge", 9001L, 1024L), ("edge", 9002L, 1024L), ("edge2", 9003L, 1025L))
    val counts = rows.toDF("split", "doc_id", "n")
    // one run of the packing core per group: each split packs as its
    // own stream in doc_id order
    val viaPack = rows.map(_._1).distinct.map { g =>
      g -> Curation.packOf(counts.filter($"split" === g).select($"doc_id", $"n"), Seq("doc_id"))
        .agg(max($"last_block") + 1L).as[Long].head()
    }.toMap
    val viaSum = counts.groupBy($"split")
      .agg(expr("(sum(n) - 1) div 1024 + 1").as("blocks"))
      .as[(String, Long)].collect().toMap
    assert(viaPack == viaSum && viaPack.keySet ==
      Set("train", "val", "test", "zero", "edge", "edge2"),
      s"closed form diverged: pack=$viaPack sum=$viaSum")
  }

  test("connected components: diameter-200 chain converges via pointer jumping") {
    // path graph 0-1-2-...-200: plain min-label propagation needs 200
    // rounds; pointer jumping must land it well inside the default 20
    val n = 200
    val verts = (0L to n.toLong).toDF("id")
    val edges = (0L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = Graph.connectedComponents(verts, edges)
      .as[(Long, Long)].collect().toMap
    assert(comp.size == n + 1 && comp.values.forall(_ == 0L))
  }

  test("connected components: non-convergence fails fast by DEFAULT") {
    // maxRounds=1 cannot finish the chain → guard must fire with no conf set
    val verts = (0L to 50L).toDF("id")
    val edges = (0L until 50L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      Graph.connectedComponents(verts, edges, maxRounds = 1).count()
    }
    assert(e.getMessage.contains("did NOT converge"))
    // explicit opt-out returns partial labels (logging ERROR) instead
    spark.conf.set("spark.graft.graph.failOnNonConvergence", "false")
    try
      assert(Graph.connectedComponents(verts, edges, maxRounds = 1).count() == 51L)
    finally spark.conf.unset("spark.graft.graph.failOnNonConvergence")
  }

  test("asOf: latest right ≤ left ts per key, inclusive, null when none") {
    val left = Seq(
      (1L, 100L, "p1"), (1L, 200L, "p2"), (1L, 50L, "p0"),
      (2L, 100L, "p3")).toDF("k", "ts", "lval")
    val right = Seq(
      (1L, 100L, "s_at_100"), (1L, 150L, "s_at_150"),
      (3L, 10L, "other_key")).toDF("k", "ts", "rval")
    val got = AsOfJoin.asOf(left, right, "k", "ts", Seq("rval"))
      .select("k", "ts", "lval", "asof_rval")
      .as[(Long, Long, String, Option[String])].collect().toSet
    assert(got == Set(
      (1L, 100L, "p1", Some("s_at_100")), // inclusive: right at equal ts
      (1L, 200L, "p2", Some("s_at_150")),
      (1L, 50L, "p0", None),              // no right row yet
      (2L, 100L, "p3", None)))            // key never on right side
  }

  test("salted join is row-identical to plain join") {
    val left = (1 to 500).map(i => (i % 3L, s"l$i")).toDF("k", "lv")
    val right = Seq((0L, "r0"), (1L, "r1"), (2L, "r2"), (9L, "r9")).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).select("k", "lv", "rv")
      .as[(Long, String, String)].collect().sorted.toSeq
    val salted = Skew.saltedEquiJoin(left, right, "k", salts = 8)
      .select("k", "lv", "rv").as[(Long, String, String)].collect().sorted.toSeq
    assert(salted == plain)
  }

  test("length-aware spread at incremental/chunkDedup explodes is placement-only") {
    // the round-4 spread sites (pipeline/clusters) are covered by the
    // long-doc stress main; these are the round-5 additions. heavyChars
    // is lowered so sf0.001 docs actually take the heavy path — the
    // spread must never change WHAT either operator returns.
    val dir = "/root/testdata/sf0.001"
    val plainInc = Dedup.incremental(spark, dir).collect().map(_.toSeq).toSet
    val plainChunk = Curation.chunkDedup(spark, dir).collect().map(_.toSeq).toSet
    spark.conf.set("spark.graft.dedup.lengthAware", "true")
    spark.conf.set("spark.graft.dedup.heavyChars", "100")
    try {
      assert(Dedup.incremental(spark, dir).collect().map(_.toSeq).toSet == plainInc)
      assert(Curation.chunkDedup(spark, dir).collect().map(_.toSeq).toSet == plainChunk)
    } finally {
      spark.conf.unset("spark.graft.dedup.lengthAware")
      spark.conf.unset("spark.graft.dedup.heavyChars")
    }
  }

  test("autoSalt: engages only in the hot-key SMJ regime, output-identical when on") {
    // the three measured regimes (SURVEY §6), as decision-table checks:
    // (a) small side broadcastable → never salt, even at extreme skew
    assert(Skew.autoSaltDecision(0.95, 1000, 32, 10485760, 0.5, 16).isEmpty)
    // (b) SMJ plan but modest skew → replication cost loses, no salt
    assert(Skew.autoSaltDecision(0.2, 1000000, 32, 10485760, 0.5, 16).isEmpty)
    // (c) SMJ + one dominant key → salt
    assert(Skew.autoSaltDecision(0.95, 1000000, 32, 10485760, 0.5, 16).contains(16))
    // broadcast disabled (threshold -1) counts as SMJ
    assert(Skew.autoSaltDecision(0.95, 10, 32, -1, 0.5, 8).contains(8))

    // e2e: force engagement (hotShare=0, broadcast off) — the salted
    // funnel must be value-identical to the plain run
    val plain = graft.operators.Analytics.eventsFunnel(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.graft.skew.autoSalt", "true")
    spark.conf.set("spark.graft.skew.hotKeyShare", "0.0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val salted = graft.operators.Analytics.eventsFunnel(spark, "/root/testdata/sf0.001")
        .collect().map(_.toSeq).toSeq
      assert(salted == plain)
    } finally {
      spark.conf.unset("spark.graft.skew.autoSalt")
      spark.conf.unset("spark.graft.skew.hotKeyShare")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }

  test("funnel autoSalt: regime (a) on real data → no salt; salt count capped by maxSalts") {
    import graft.operators.Analytics
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
    val entered = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(col("us")).as("a_us"))
    // (a) broadcast enabled (default 10 MB): the tiny entered side must
    // come back "no salt" from the real sampling pass, not just from
    // the pure decision table
    assert(Analytics.funnelSaltDecision(spark, ev, entered).isEmpty)
    // engaged (broadcast off, hotShare 0): the salt count must be the
    // maxSalts cap, NOT numShufflePartitions — saltedEquiJoin replicates
    // the entered side ×salts, so parallelism-sized salting would blow
    // up on a 2000-partition cluster
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.graft.skew.hotKeyShare", "0.0")
    try {
      val parts = spark.sessionState.conf.numShufflePartitions
      assert(Analytics.funnelSaltDecision(spark, ev, entered)
        .contains(math.max(2, math.min(parts, 16))))
      spark.conf.set("spark.graft.skew.maxSalts", "4")
      assert(Analytics.funnelSaltDecision(spark, ev, entered)
        .contains(math.max(2, math.min(parts, 4))))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.unset("spark.graft.skew.hotKeyShare")
      spark.conf.unset("spark.graft.skew.maxSalts")
    }
  }

  test("sketch aggregates: HLL distinct within 5% of exact, sane percentiles") {
    val rows = graft.operators.Analytics.eventsSketchRaw(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 5) // one per event type
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_users").toDouble
      val exact = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(approx - exact) / exact <= 0.05, s"HLL off: $approx vs $exact")
      assert(r.getAs[Double]("p50") <= r.getAs[Double]("p99"))
    }
    // the GATED entry reports the same contracts as booleans — all must
    // hold, or the hash gate would diverge from DuckDB's booleans
    val gated = graft.operators.Analytics.eventsSketch(spark, "/root/testdata/sf0.001")
      .collect()
    assert(gated.length == 5)
    gated.foreach { r =>
      assert(r.getAs[Boolean]("hll_within_5pct"), s"HLL contract broken: $r")
      assert(r.getAs[Boolean]("p50_in_bracket") && r.getAs[Boolean]("p99_in_bracket"),
        s"percentile contract broken: $r")
    }
  }

  test("stop-shingle cap drops only hot-shingle-only pairs") {
    // docs 0,1 share rare shingles (near-dups); docs 2,3 share ONLY the
    // hot shingle that every doc contains
    val hot = "common words here"
    val docs = Seq(
      (0L, s"$hot alpha beta gamma delta epsilon"),
      (1L, s"$hot alpha beta gamma delta zeta"),
      (2L, s"$hot one two three four five"),
      (3L, s"$hot six seven eight nine ten")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("cap").toString
    docs.write.parquet(s"$tmp/documents.parquet")

    val uncapped = Dedup.ngramJaccardUncapped(spark, tmp)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val capped = Dedup.ngramJaccardCapped(spark, tmp, maxDf = 3)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((0L, 1L)))
    assert(capped.contains((0L, 1L)))       // rare-shingle pair survives the cap
    assert(!capped.exists(p => p == (2L, 3L))) // hot-only candidates gone
  }

  test("chunkDedup: repeated spans survive only at first occurrence, within and across docs") {
    // 16-token spans (ChunkDedupW); lowercase single-word tokens so the
    // tokenizer is the identity on them
    def span(p: String) = (0 until 16).map(i => s"$p$i").mkString(" ")
    val a0 = span("a"); val a1 = span("x"); val b = span("b")
    val c = span("c"); val d = span("d")
    val docs = Seq(
      (0L, s"$a0 $a1"),  // both chunks first occurrences
      (1L, s"$a0 $b"),   // first chunk repeats doc 0's → cut
      (2L, s"$c $a1"),   // second chunk repeats doc 0's → cut
      (3L, s"$d $d")     // within-doc repeat → second cut
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("cdd").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    val got = Curation.chunkDedup(spark, tmp)
      .select("doc_id", "n_chunks", "n_kept", "kept_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 2L, 2L, s"$a0 $a1"),
      (1L, 2L, 1L, b),
      (2L, 2L, 1L, c),
      (3L, 2L, 1L, d)))
  }

  test("substringDedup catches the unaligned repeat that chunkDedup provably misses") {
    // P duplicated at offset 0 in doc 0 and offset 1 in doc 1: one junk
    // token shifts the copy off the 16-token chunk grid, so NEITHER of
    // doc 1's chunks equals any other chunk — chunkDedup keeps
    // everything, while the all-offsets window hash catches the copy
    val P = (0 until 16).map(i => s"p$i").mkString(" ")
    val f = (0 until 16).map(i => s"f$i").mkString(" ")
    val g = (0 until 15).map(i => s"g$i").mkString(" ")
    val u = (0 until 32).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (0L, s"$P $f"),    // first occurrence of P — survives verbatim
      (1L, s"jj $P $g"), // P again, one token off the grid
      (2L, u)            // unique control
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("ssd").toString
    docs.write.parquet(s"$tmp/documents.parquet")

    // chunkDedup misses: every chunk is a first occurrence
    val ch = Curation.chunkDedup(spark, tmp)
      .select("doc_id", "n_chunks", "n_kept").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(ch.forall { case (_, n, k) => n == k },
      s"chunkDedup unexpectedly caught the unaligned repeat: $ch")

    // substringDedup catches exactly the shifted copy of P in doc 1
    val got = Curation.substringDedup(spark, tmp)
      .select("doc_id", "n_tokens", "n_kept", "kept_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 32L, 32L, s"$P $f"),
      (1L, 32L, 16L, s"jj $g"),
      (2L, 32L, 32L, u)))
  }

  test("cdcChunkDedup: boundaries re-synchronize past an insertion that blinds the fixed grid") {
    // doc 1 = doc 0 with three junk tokens PREPENDED. The fixed 16-token
    // grid shifts by 3 everywhere: no chunk of doc 1 equals any chunk of
    // doc 0. Content-defined cuts depend only on the trailing 8-token
    // window, so every cut ≥ 8 tokens past the insertion reappears and
    // the chunks between shared cuts hash identically — the duplicated
    // body is CUT from doc 1 while the fixed grid keeps all of it.
    val body = (0 until 240).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (0L, body),
      (1L, s"zza zzb zzc $body")
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("cdc").toString
    docs.write.parquet(s"$tmp/documents.parquet")

    val fixed = Curation.chunkDedup(spark, tmp)
      .select("doc_id", "n_chunks", "n_kept").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(fixed.forall { case (_, n, k) => n == k },
      s"the fixed grid unexpectedly shared a shifted chunk: $fixed")

    val cdc = Curation.cdcChunkDedup(spark, tmp)
      .select("doc_id", "n_chunks", "n_kept").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    val (_, n0, k0) = cdc.head
    assert(n0 == k0, "doc 0 is the first occurrence — everything kept")
    val (_, n1, k1) = cdc(1)
    assert(n1 >= 4, s"240 tokens should cut into several chunks, got $n1")
    // only the pre-resync head of doc 1 (junk + ≤ CdcW tokens before the
    // first shared cut) can survive; the whole re-synchronized body dedups
    assert(k1 * 3 <= n1,
      s"CDC must share the shifted body: kept $k1 of $n1 chunks")
  }

  test("leakage-safe split: near-dup families land on one side, singletons match the baseline split") {
    // same hash arithmetic as the operator, driver-side, to CHOOSE ids
    // whose baseline splits differ — so the test is provably non-vacuous
    def u(id: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16).toDouble / 1.152921504606846976e18
    }
    def bucket(id: Long) = { val x = u(id); if (x < 0.8) "train" else if (x < 0.9) "val" else "test" }
    val a = (0L until 200L).find(bucket(_) == "train").get
    val b = (a + 1 until 200L).find(bucket(_) != bucket(a)).get
    val base = (0 until 40).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val docs = Seq(
      (a, base),                            // near-dup family straddling
      (b, base.replace("alpha3", "edited")),// the baseline split by construction
      (500L, "completely different words that share nothing with the family"),
      (501L, "another standalone document with its own unique vocabulary")
    ).toDF("doc_id", "text").withColumn("source", lit("s"))
    val tmp = java.nio.file.Files.createTempDirectory("lsplit").toString
    docs.write.parquet(s"$tmp/documents.parquet")

    val plain = Curation.split(spark, tmp)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(plain(a) != plain(b), "crafted family must straddle the baseline split")

    val safe = Curation.splitLeakSafe(spark, tmp)
      .select("doc_id", "cluster_id", "split").as[(Long, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(safe(a)._1 == a && safe(b)._1 == a, "family must share the min-id cluster")
    assert(safe(a)._2 == safe(b)._2, "family must land on ONE side")
    assert(safe(a)._2 == bucket(a), "family side is the cluster rep's bucket")
    // singletons are their own cluster → identical to the baseline split
    for (s <- Seq(500L, 501L)) {
      assert(safe(s)._1 == s)
      assert(safe(s)._2 == plain(s))
    }

    // composed form (round 9): given a MATERIALIZED cluster table —
    // written to parquet and read back, the production shape — the
    // split equals the self-contained inline form exactly
    val clusterPath = s"$tmp/clusters.parquet"
    Dedup.dedupClustersOf(spark, tmp, ordered = false)
      .write.parquet(clusterPath)
    val composed = Curation.splitLeakSafeOf(
        spark.read.parquet(s"$tmp/documents.parquet").select("doc_id", "source"),
        spark.read.parquet(clusterPath))
      .select("doc_id", "cluster_id", "split").as[(Long, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(composed == safe, "composed split must equal the inline form")
  }

  test("incremental dedup: exact_dup / near_dup / novel against a catalog, best match wins") {
    // catalog = doc_id < 250 (Dedup.IncrementalCut); incoming ≥ 250
    val base = (0 until 40).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val docs = Seq(
      (0L, base),                                  // catalog
      (1L, base.replace("alpha3", "changedx")),    // catalog near-dup of 0
      (2L, "completely different words here okay"),// catalog
      (250L, base),                                // incoming: exact dup of 0 (and 1 is only near)
      (251L, base.replace("alpha7", "changedy")),  // incoming: near-dup — best match 0 (ties broken by id)
      (252L, "nothing shared with any catalog doc entry")
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("inc").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    val got = Dedup.incremental(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq(
      (250L, "exact_dup", 0L),
      (251L, "near_dup", 0L),
      (252L, "novel", -1L)))
  }

  test("incrementalOf: persisted parquet catalog reproduces the gated one-table split") {
    // the production flow: buildCatalog → write fingerprint + shingle
    // stores to parquet → later run reads them back and classifies a new
    // batch. Must equal Dedup.incremental's in-memory split exactly.
    val base = (0 until 40).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val docs = Seq(
      (0L, base),
      (1L, base.replace("alpha3", "changedx")),
      (2L, "completely different words here okay"),
      (250L, base),
      (251L, base.replace("alpha7", "changedy")),
      (252L, "nothing shared with any catalog doc entry")
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("inc2").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    val (catFp, catSh) = Dedup.buildCatalog(docs.filter(col("doc_id") < 250))
    catFp.write.parquet(s"$tmp/cat_fp.parquet")
    catSh.write.parquet(s"$tmp/cat_sh.parquet")
    val got = Dedup.incrementalOf(
      spark.read.parquet(s"$tmp/cat_fp.parquet"),
      spark.read.parquet(s"$tmp/cat_sh.parquet"),
      docs.filter(col("doc_id") >= 250))
      .collect().map(_.toSeq).toSeq
    val gated = Dedup.incremental(spark, tmp).collect().map(_.toSeq).toSeq
    assert(got == gated)
    assert(got.map(r => (r(0), r(1))) ==
      Seq((250L, "exact_dup"), (251L, "near_dup"), (252L, "novel")))
  }

  test("incrementalOf: catalog df cap drops hot-shingle-only candidates, visibly") {
    // three catalog docs share every shingle (identical text) → catalog
    // df = 3 for each. An incoming NEAR-dup matches only through those
    // hot shingles: with the cap below 3 the candidates vanish (novel);
    // with the default cap it stays near_dup. The drop is logged, and
    // a single hot catalog shingle can no longer fan out to every
    // incoming doc at scale.
    val t = (0 until 30).map(i => s"word$i next$i more$i").mkString(" ")
    val catalog = Seq((0L, t), (1L, t), (2L, t)).toDF("doc_id", "text")
    val incoming = Seq((250L, t.replace("word5", "altered"))).toDF("doc_id", "text")
    val (catFp, catSh) = Dedup.buildCatalog(catalog)
    val dflt = Dedup.incrementalOf(catFp, catSh, incoming)
      .select("doc_id", "status").as[(Long, String)].collect().toSeq
    assert(dflt == Seq((250L, "near_dup")))
    spark.conf.set("spark.graft.dedup.incrementalMaxDf", "2")
    try {
      val capped = Dedup.incrementalOf(catFp, catSh, incoming)
        .select("doc_id", "status").as[(Long, String)].collect().toSeq
      assert(capped == Seq((250L, "novel")))
    } finally spark.conf.unset("spark.graft.dedup.incrementalMaxDf")
  }

  test("gated incremental entry fails fast when the df-cap conf drifts from the oracle's default") {
    // the oracle SQL hardcodes DefaultMaxShingleDf; letting the gated
    // entry honor a different conf value would silently diverge query
    // and oracle at the correctness gate
    spark.conf.set("spark.graft.dedup.incrementalMaxDf", "2")
    try {
      val e = intercept[IllegalStateException] {
        Dedup.incremental(spark, "/root/testdata/sf0.001")
      }
      assert(e.getMessage.contains("incrementalMaxDf"))
    } finally spark.conf.unset("spark.graft.dedup.incrementalMaxDf")
    // the default value itself is fine (explicitly set or not)
    spark.conf.set("spark.graft.dedup.incrementalMaxDf", Dedup.DefaultMaxShingleDf.toString)
    try assert(Dedup.incremental(spark, "/root/testdata/sf0.001").count() > 0)
    finally spark.conf.unset("spark.graft.dedup.incrementalMaxDf")
  }

  test("mergeIntoCatalog: sequential ingests classify exactly like a rebuilt catalog") {
    // the nightly loop: classify batch A, merge it, classify batch B —
    // B's verdicts must equal a batch run against buildCatalog(C ∪ A),
    // and the merged tables must BE the rebuilt tables (the invariant
    // the sequential==batch guarantee rides on)
    val base = (0 until 40).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val other = (0 until 40).map(i => s"zulu$i yankee$i xray$i").mkString(" ")
    val catalog = Seq((0L, base),
      (1L, "completely different words here okay")).toDF("doc_id", "text")
    val a = Seq(
      (250L, base),                                // exact dup of 0
      (251L, base.replace("alpha7", "changedy")),  // near-dup of 0
      (252L, other)                                // novel
    ).toDF("doc_id", "text")
    // B probes every history class the merge creates: exact dup of an
    // A-novel doc, near-dup of an A-novel doc, near-dup whose BEST match
    // is an A-near-dup — none of these resolve without the merge
    val b = Seq(
      (300L, base),                                // exact dup: min cid still 0
      (301L, other),                               // exact dup of A's 252
      (302L, other.replace("zulu3", "edited")),    // near-dup of A's 252
      (303L, base.replace("alpha7", "changedy").replace("beta2", "edits")), // best match: A's 251
      (304L, "nothing shared with anything at all")
    ).toDF("doc_id", "text")

    val (cat0Fp, cat0Sh) = Dedup.buildCatalog(catalog)
    val vA = Dedup.incrementalOf(cat0Fp, cat0Sh, a)
    assert(vA.select("doc_id", "status").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((250L, "exact_dup"), (251L, "near_dup"), (252L, "novel")))
    val Seq(fp1, sh1) = Dedup.ShingleCatalog.merge(Seq(cat0Fp, cat0Sh), a, vA)
    val seqB = Dedup.incrementalOf(fp1, sh1, b).collect().map(_.toSeq).toSeq
    val (rbFp, rbSh) = Dedup.buildCatalog(catalog.unionByName(a))
    val batchB = Dedup.incrementalOf(rbFp, rbSh, b).collect().map(_.toSeq).toSeq
    assert(seqB == batchB)
    assert(fp1.collect().map(_.toSeq).toSet == rbFp.collect().map(_.toSeq).toSet)
    assert(sh1.collect().map(_.toSeq).toSet == rbSh.collect().map(_.toSeq).toSet)
    assert(seqB.map(r => (r(0), r(1), r(2))) == Seq(
      (300L, "exact_dup", 0L),
      (301L, "exact_dup", 252L),
      (302L, "near_dup", 252L),
      (303L, "near_dup", 251L),
      (304L, "novel", null)))
  }

  test("appendToCatalog: persisted parquet loop == rebuild; novelOnly keeps exact classification") {
    val base = (0 until 40).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val other = (0 until 40).map(i => s"zulu$i yankee$i xray$i").mkString(" ")
    val catalog = Seq((0L, base),
      (1L, "completely different words here okay")).toDF("doc_id", "text")
    val a = Seq((250L, base), (251L, base.replace("alpha7", "changedy")),
      (252L, other)).toDF("doc_id", "text")
    val b = Seq((300L, other), (301L, other.replace("zulu3", "edited")))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("catmerge").toString
    val (cat0Fp, cat0Sh) = Dedup.buildCatalog(catalog)
    cat0Fp.write.parquet(s"$tmp/fp.parquet")
    cat0Sh.write.parquet(s"$tmp/sh.parquet")
    // nightly job, day 1: read catalog → classify → append in place
    val roots = Seq(s"$tmp/fp.parquet", s"$tmp/sh.parquet")
    val Seq(day1Fp, day1Sh) = Dedup.ShingleCatalog.read(spark, roots)
    val vA = Dedup.incrementalOf(day1Fp, day1Sh, a)
    Dedup.ShingleCatalog.append(roots, a, vA, batchId = 1L)
    // day 2: the appended catalog must classify B like a full rebuild
    val Seq(day2Fp, day2Sh) = Dedup.ShingleCatalog.read(spark, roots)
    val seqB = Dedup.incrementalOf(day2Fp, day2Sh, b)
      .collect().map(_.toSeq).toSeq
    val (rbFp, rbSh) = Dedup.buildCatalog(catalog.unionByName(a))
    assert(seqB == Dedup.incrementalOf(rbFp, rbSh, b).collect().map(_.toSeq).toSeq)
    assert(seqB.map(r => (r(0), r(1), r(2))) ==
      Seq((300L, "exact_dup", 252L), (301L, "near_dup", 252L)))

    // novelOnly: dup A-docs stay out of the catalog, yet exact dups of
    // HISTORY still classify exactly — a copy of dup-250 fingerprint-
    // matches the original 0; a copy of novel-252 matches 252
    val Seq(fpN, shN) = Dedup.ShingleCatalog.merge(Seq(cat0Fp, cat0Sh), a, vA, novelOnly = true)
    assert(fpN.filter(col("doc_id").isin(250L, 251L)).count() == 0)
    val probe = Seq((400L, base), (401L, other)).toDF("doc_id", "text")
    assert(Dedup.incrementalOf(fpN, shN, probe)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((400L, "exact_dup", 0L), (401L, "exact_dup", 252L)))
  }

  test("cdcChunks: boundaries are content-anchored — a head insertion leaves tail chunks intact") {
    val words = (0 until 120).map(i => s"w$i")
    val original = words.mkString(" ")
    val inserted = ("zzz" +: words).mkString(" ") // one token prepended
    val docs = Seq((0L, original), (1L, inserted)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("cdc").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    val chunks = graft.operators.TextAnalysis.cdcChunks(spark, tmp)
      .select("doc_id", "chunk_text").as[(Long, String)].collect()
    val c0 = chunks.filter(_._1 == 0L).map(_._2).toSet
    val c1 = chunks.filter(_._1 == 1L).map(_._2).toSet
    // content-defined: all but the chunks touching the insertion are
    // IDENTICAL between the two docs (fixed windows would shift every
    // chunk after the edit and share ~nothing)
    val shared = c0.intersect(c1)
    assert(shared.size >= c0.size - 2,
      s"expected near-total chunk reuse, got ${shared.size} of ${c0.size}")
    assert(c0 != c1) // the edited head does differ
  }

  test("piiRedact: emails, IPs, phones become placeholders; clean text untouched") {
    val docs = Seq(
      (0L, "contact john.doe@example.com or ops@sub.domain.org today"),
      (1L, "server 10.0.0.1 and 192.168.255.254 are up"),
      (2L, "call +1 555-123-4567 now"),
      (3L, "mix a@b.io at 127.0.0.1 tel 020 7946 0958 end"),
      (4L, "perfectly clean text with words only")
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("pii").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    val got = graft.operators.TextAnalysis.piiRedact(spark, tmp)
      .select("doc_id", "n_email", "n_ip", "n_phone", "redacted")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 2L, 0L, 0L, "contact <EMAIL> or <EMAIL> today"),
      (1L, 0L, 2L, 0L, "server <IP> and <IP> are up"),
      (2L, 0L, 0L, 1L, "call <PHONE> now"),
      (3L, 1L, 1L, 1L, "mix <EMAIL> at <IP> tel <PHONE> end"),
      (4L, 0L, 0L, 0L, "perfectly clean text with words only")))
  }

  test("temperatureMix: quotas follow sqrt weighting on an unbalanced corpus") {
    // counts 100/25/4/1 → sqrt weights 10/5/2/1, total 18 →
    // quotas floor(100·w/18) = 55/27/11/5, capped by availability
    val docs = ((0 until 100).map(i => (i.toLong, "big")) ++
      (100 until 125).map(i => (i.toLong, "mid")) ++
      (125 until 129).map(i => (i.toLong, "small")) ++
      Seq((129L, "tiny"))).toDF("doc_id", "source")
    val tmp = java.nio.file.Files.createTempDirectory("tmix").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    val got = Curation.temperatureMix(spark, tmp)
      .select("source", "quota").as[(String, Int)].collect()
    val quotas = got.distinct.toMap
    assert(quotas == Map("big" -> 55, "mid" -> 27, "small" -> 11, "tiny" -> 5))
    val taken = got.groupBy(_._1).view.mapValues(_.length).toMap
    // selection is capped by what the source actually has
    assert(taken == Map("big" -> 55, "mid" -> 25, "small" -> 4, "tiny" -> 1))
  }
}
