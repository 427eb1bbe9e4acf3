package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Round-13 stress (VERDICT r12 #3): BPE training past toy merge
  * counts. The round-12 trainer ran ONE Spark job pair per merge —
  * right at the gated 8 rounds, hopeless at a real 32 k-merge
  * vocabulary (~32 000 sequential jobs). The batched trainer
  * ([[TextAnalysis.bpeAcceptBatch]]) folds several GREEDY-EQUIVALENT
  * merges per round under the strict-dominance rule, so the job count
  * drops by the measured compression factor while the merge list stays
  * bit-identical to sequential greedy.
  *
  * What must hold:
  *  - EXACTNESS on real text: a batched run's merge list equals a
  *    sequential (batch=1) run's on the sf0.1 corpus trained to
  *    near-exhaustion (its synthetic 31-word vocabulary runs dry well
  *    before 256 merges — which is itself the honest reason the
  *    linearity gate needs a corpus with real vocabulary depth);
  *  - LINEARITY at 256 merges on a 65 536-word syllable vocabulary
  *    (Zipf counts, deterministic, shared syllables giving the merge
  *    structure real text has): wall grows ~linearly in merges — 4×
  *    the merges within 8× the wall is the hard gate (quadratic would
  *    read ~16×);
  *  - COMPRESSION: Spark rounds < merges (the strict-dominance cut
  *    accepts >1 per round; the measured factor is printed).
  *
  * Run: sbt "runMain graft.tools.ScaleBpe"
  */
object ScaleBpe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    import spark.implicits._
    val sf = "/root/testdata/sf0.1"

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-52s $s%8.2f s")
      (r, s)
    }

    // ---- exactness on the real corpus, trained to near-exhaustion ----
    val nReal = TextAnalysis.bpeVocab0(spark, sf).count()
    println(s"[scale] sf0.1 corpus vocabulary: $nReal distinct words")
    val ((_, seqReal, rSeq), _) = time("real corpus, sequential greedy (batch=1)") {
      TextAnalysis.bpeLearnRounds(TextAnalysis.bpeVocab0(spark, sf), 64, batch = 1)
    }
    spark.catalog.clearCache()
    val ((_, batReal, rBat), _) = time("real corpus, batched greedy (batch=16)") {
      TextAnalysis.bpeLearnRounds(TextAnalysis.bpeVocab0(spark, sf), 64, batch = 16)
    }
    spark.catalog.clearCache()
    require(batReal == seqReal,
      s"batched merges diverged from sequential greedy:\nseq $seqReal\nbat $batReal")
    println(s"[scale] real-corpus differential: ${seqReal.length} batched merges == sequential" +
      s" (rounds $rSeq -> $rBat)")

    // ---- linearity at 256 merges on a deep-vocabulary corpus ----
    // 16^4 syllable words: shared syllables across words give BPE the
    // sub-word reuse real language has, so merges chain realistically;
    // Zipf-ish counts from the deterministic index.
    val syl = Vector("ka", "to", "ri", "na", "se", "mo", "lu", "pi",
      "vek", "dor", "shi", "tam", "ben", "gra", "ple", "zu")
    def synthVocab() = {
      val words = spark.range(0, 65536).select(
        concat(
          element_at(typedLit(syl), (col("id") % 16 + 1).cast("int")),
          element_at(typedLit(syl), (col("id") / 16 % 16 + 1).cast("int")),
          element_at(typedLit(syl), (col("id") / 256 % 16 + 1).cast("int")),
          element_at(typedLit(syl), (col("id") / 4096 % 16 + 1).cast("int"))).as("w"),
        (lit(1000000) / (col("id") + 3)).cast("long").as("n"))
      words.select(col("w"), col("n"), TextAnalysis.bpeCharSyms(col("w")).as("sym"))
        .repartition(32)
    }
    println(s"[scale] synthetic vocabulary: 65536 words over ${syl.length} syllables")
    val ((_, m64, r64), t64) = time("synthetic vocab, 64 merges (batch=16)") {
      TextAnalysis.bpeLearnRoundsInc(synthVocab(), 64, batch = 16)
    }
    spark.catalog.clearCache()
    val ((_, m256, r256), t256) = time("synthetic vocab, 256 merges (batch=16)") {
      TextAnalysis.bpeLearnRoundsInc(synthVocab(), 256, batch = 16)
    }
    spark.catalog.clearCache()
    require(m64 == m256.take(64),
      "greedy prefix property violated: 64-merge run != 256-merge run's prefix")
    require(m256.length == 256, s"ran dry at ${m256.length} merges")
    val ratio = t256 / t64
    val comp64 = 64.0 / r64
    val comp256 = 256.0 / r256
    println(f"[scale] rounds: 64 merges in $r64 ($comp64%.1f/round), 256 in $r256 ($comp256%.1f/round)")
    println(f"[scale] wall 64->256 merges (4x work): $ratio%.2fx" +
      (if (ratio > 6.0) "  ** WARN: superlinear-looking — check per-round cost **" else ""))
    require(ratio <= 8.0, f"quadratic regime: 4x merges cost $ratio%.2fx wall (hard gate 8x)")
    require(r256 < 256, "batching accepted only 1 merge/round everywhere — compression gone")

    // ---- 1024 merges (round 16): the incremental-pair-count regime ----
    // A real vocabulary is 32-64 k merges; 1024 is the point where the
    // round-13 full-reaggregate trainer's per-round vocab×length explode
    // dominates. The incremental trainer's per-round delta shrinks as
    // the vocab deepens (late merges touch few words), so 4× the merges
    // past 256 must stay within the same ≤8× wall envelope.
    val ((_, m1024, r1024), t1024) = time("synthetic vocab, 1024 merges (batch=16)") {
      TextAnalysis.bpeLearnRoundsInc(synthVocab(), 1024, batch = 16)
    }
    spark.catalog.clearCache()
    require(m1024.take(256) == m256,
      "greedy prefix property violated: 256-merge run != 1024-merge run's prefix")
    require(m1024.length == 1024, s"ran dry at ${m1024.length} merges")
    val ratio4 = t1024 / t256
    val comp1024 = 1024.0 / r1024
    val tailComp = (1024.0 - 256.0) / (r1024 - r256) // merges/round past 256
    println(f"[scale] merges-per-round curve: 64→$comp64%.2f, 256→$comp256%.2f, " +
      f"1024→$comp1024%.2f (tail 256..1024: $tailComp%.2f)")
    println(f"[scale] wall 256->1024 merges (4x work): $ratio4%.2fx")
    require(ratio4 <= 8.0,
      f"quadratic regime at depth: 4x merges past 256 cost $ratio4%.2fx wall (hard gate 8x)")

    // ---- 4096 merges (round 17): the speculative-acceptance regime ----
    // Strict dominance measured ~1.5-1.7 merges/round at depth (r16) —
    // acceptance RATE, not per-round cost, had become the ceiling. The
    // speculative trainer folds the top candidates optimistically and
    // verifies against exact post-fold deltas, so chained-but-still-
    // dominant candidates land in one round. Gates: a 32k-vocab-scale
    // merge count stays greedy-exact (prefix property vs the 1024 run),
    // the acceptance average clears 2.5 merges/round, and 4× the merges
    // past 1024 stays in the same ≤8× wall envelope.
    val ((_, m4096, r4096), t4096) = time("synthetic vocab, 4096 merges (batch=16)") {
      TextAnalysis.bpeLearnRoundsInc(synthVocab(), 4096, batch = 16)
    }
    spark.catalog.clearCache()
    require(m4096.take(1024) == m1024,
      "greedy prefix property violated: 1024-merge run != 4096-merge run's prefix")
    require(m4096.length == 4096, s"ran dry at ${m4096.length} merges")
    val comp4096 = 4096.0 / r4096
    val ratio16 = t4096 / t1024
    println(f"[scale] speculative acceptance: 4096 merges in $r4096 rounds " +
      f"($comp4096%.2f/round); wall 1024->4096 (4x work): $ratio16%.2fx")
    require(comp4096 >= 2.5,
      f"speculative acceptance below target: $comp4096%.2f merges/round (gate >= 2.5)")
    require(ratio16 <= 8.0,
      f"quadratic regime at depth: 4x merges past 1024 cost $ratio16%.2fx wall (hard gate 8x)")

    // ---- 16384 merges (round 18): the ADAPTIVE speculative regime ----
    // The fixed m=16 batch was the new ceiling once verification was
    // exact (r17 measured the verified-prefix rate far above it in the
    // depth tail). The AIMD schedule grows the batch while rounds fully
    // verify and halves it on rollback, so the round count tracks the
    // corpus's own acceptance rate instead of a constant. Gates: a
    // 32k-vocab-scale merge count stays greedy-exact (prefix vs the
    // 4096 run), the ADAPTIVE average clears 6 merges/round, and 4× the
    // merges past 4096 stays in the ≤8× wall envelope.
    val ((s16k, m16k, r16k), t16k) = time("synthetic vocab, 16384 merges (batch=16, adaptive)") {
      TextAnalysis.bpeLearnRoundsInc(synthVocab(), 16384, batch = 16)
    }
    require(m16k.take(4096) == m4096,
      "greedy prefix property violated: 4096-merge run != 16384-merge run's prefix")
    require(m16k.length == 16384, s"ran dry at ${m16k.length} merges")
    val comp16k = 16384.0 / r16k
    val ratio64x = t16k / t4096
    println(f"[scale] adaptive acceptance: 16384 merges in $r16k rounds " +
      f"($comp16k%.2f/round); wall 4096->16384 (4x work): $ratio64x%.2fx")
    require(comp16k >= 6.0,
      f"adaptive acceptance below target: $comp16k%.2f merges/round (gate >= 6)")
    require(ratio64x <= 8.0,
      f"quadratic regime at depth: 4x merges past 4096 cost $ratio64x%.2fx wall (hard gate 8x)")

    // ---- store roundtrip (round 19): the deep artifact LANDS ----------
    // A 16 384-merge training is ~¼ h of work — it must persist through
    // the committed tokenizer store (bpe_vocab generation family) and
    // read back bit-identical, not live and die in this JVM.
    import graft.operators.Layout
    val storeRoot = "target/tmp/scalebpe_store"
    spark.conf.set("spark.graft.cache.root", storeRoot)
    val keyDir = s"$storeRoot/bpe_vocab/scalebpe_synth_m16384_tok${graft.functions.TextFns.TokVersion}"
    val (gen, tStore) = time("commit 16384-merge artifact to the store") {
      TextAnalysis.bpeVocabCommit(spark, keyDir)((s16k, m16k))
    }
    spark.catalog.clearCache()
    val mBack = spark.read.parquet(s"$gen/merges").orderBy(col("rank"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    require(mBack == m16k, "stored merge list diverged from the trained one")
    val vBack = spark.read.parquet(s"$gen/vocab").count()
    require(vBack == 65536L, s"stored vocab row count $vBack != 65536")
    require(Layout.resolveGeneration(spark, keyDir, "vocab").contains(gen),
      "committed generation must resolve")
    println(f"[scale] store roundtrip: 16384 merges + 65536-word vocab committed and re-read in $tStore%.2f s")
    spark.conf.unset("spark.graft.cache.root")

    // ---- 32768 merges (round 19): the depth stretch --------------------
    // Gates: prefix property vs the 16384 run and wall growth ≤8× for
    // the 2× depth. If the synthetic vocabulary runs DRY before 32768
    // (it holds 65 536 words — finitely many merges exist), the measured
    // ceiling is recorded honestly instead of forced.
    val ((_, m32k, r32k), t32k) = time("synthetic vocab, 32768 merges (batch=16, adaptive)") {
      TextAnalysis.bpeLearnRoundsInc(synthVocab(), 32768, batch = 16)
    }
    spark.catalog.clearCache()
    require(m32k.take(16384) == m16k,
      "greedy prefix property violated: 16384-merge run != 32768-merge run's prefix")
    val comp32k = m32k.length.toDouble / r32k
    val ratio2x = t32k / t16k
    if (m32k.length < 32768)
      println(s"[scale] vocabulary ran DRY at ${m32k.length} merges — the measured " +
        "ceiling of the 65536-word synthetic corpus (recorded, not forced)")
    println(f"[scale] depth stretch: ${m32k.length} merges in $r32k rounds " +
      f"($comp32k%.2f/round); wall 16384->${m32k.length} (2x work): $ratio2x%.2fx")
    require(ratio2x <= 8.0,
      f"quadratic regime at depth: 2x merges past 16384 cost $ratio2x%.2fx wall (hard gate 8x)")
    println(f"""[scale] {"metric":"bpe_scale","t64":$t64%.2f,"t256":$t256%.2f,"t1024":$t1024%.2f,"t4096":$t4096%.2f,"t16384":$t16k%.2f,"t32768":$t32k%.2f,"ratio":$ratio%.2f,"ratio1024":$ratio4%.2f,"ratio4096":$ratio16%.2f,"ratio16384":$ratio64x%.2f,"ratio32768":$ratio2x%.2f,"rounds64":$r64,"rounds256":$r256,"rounds1024":$r1024,"rounds4096":$r4096,"rounds16384":$r16k,"rounds32768":$r32k,"merges32768":${m32k.length},"mergesPerRound4096":$comp4096%.2f,"mergesPerRound16384":$comp16k%.2f,"mergesPerRound32768":$comp32k%.2f}""")
    spark.stop()
  }
}
