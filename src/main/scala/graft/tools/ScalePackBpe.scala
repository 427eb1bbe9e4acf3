package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.operators.{Curation, Layout, TextAnalysis}

/** BPE store consumed at release scale (round 20, the r19 verdict's
  * #8): pack the sf1 corpus in DEEP-BPE units served from the
  * committed tokenizer store — pack_bpe's gated form runs at the toy
  * depth (8 merges); this is the production regime:
  *
  *  - leg 1: train-or-serve the deep vocab for the sf1 corpus through
  *    [[TextAnalysis.bpeVocabStore]] (16 384 merges requested; if the
  *    corpus vocabulary runs dry earlier the measured ceiling is
  *    recorded, the ScaleBpe convention). First run trains and
  *    commits; every later run must SERVE — gated below.
  *  - leg 2: pack the corpus in deep-BPE units from the store, twice —
  *    the second (warm) pack is the nightly's steady-state cost; a
  *    repeat bpeVocabStore call must resolve, never retrain.
  *  - leg 3: a 1 000-doc nightly batch packed under the PINNED
  *    generation (read directly from the gen dir, the production
  *    shape: a nightly's tokenizer is pinned by generation, not
  *    re-keyed per corpus state — bpeStored's corpus-state key would
  *    re-TRAIN on every append, exactly what a release must not do).
  *
  *   java -cp ... graft.tools.ScalePackBpe [sfDir]
  */
object ScalePackBpe {
  private def f2(d: Double) = f"$d%.2f"

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/tmp/sf1")
    val spark = graft.GraftSession.local(16)

    def time[A](what: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[packbpe] $what: $t%.2f s")
      (a, t)
    }

    val MaxMerges = 16384
    // ---- leg 1: the deep artifact lands (or serves) --------------------
    val (gen, tTrain) = time(s"bpeVocabStore($MaxMerges) train-or-serve") {
      TextAnalysis.bpeVocabStore(spark, dir, maxMerges = MaxMerges, batch = 16)
    }
    val nMerges = spark.read.parquet(s"$gen/merges").count()
    val nVocab = spark.read.parquet(s"$gen/vocab").count()
    println(s"[packbpe] stored artifact: $nMerges merges over $nVocab corpus words" +
      (if (nMerges < MaxMerges) " (vocabulary ran dry — measured ceiling, recorded)" else ""))

    // ---- leg 2: corpus packed in deep-BPE units, store-served ----------
    val syms = spark.read.parquet(s"$gen/vocab")
    def packUnder(docs: DataFrame): Long = {
      val vocab = syms.select(col("w"), size(col("sym")).as("n_sym"))
      val counts = docs
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
        .join(vocab, Seq("w"))
        .groupBy(col("doc_id")).agg(sum(col("n_sym")).cast("long").as("n"))
        .filter(col("n") > 0)
      Curation.packOf(counts, Seq("doc_id")).agg(max(col("last_block"))).first().getLong(0) + 1
    }
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val (blocksCold, tPackCold) = time("pack sf1 corpus (deep-BPE units, cold read)") {
      packUnder(corpus)
    }
    spark.catalog.clearCache()
    val (blocksWarm, tPackWarm) = time("pack sf1 corpus (warm)") { packUnder(corpus) }
    require(blocksCold == blocksWarm, s"$blocksCold != $blocksWarm")
    // a repeat store call must RESOLVE (pointer GET), never retrain
    val (gen2, tServe) = time("repeat bpeVocabStore (must serve, not retrain)") {
      TextAnalysis.bpeVocabStore(spark, dir, maxMerges = MaxMerges, batch = 16)
    }
    require(gen2 == gen, s"repeat call resolved a different generation: $gen2")
    require(tServe < math.max(5.0, tTrain / 10),
      f"repeat call took $tServe%.1f s vs train $tTrain%.1f s — it retrained")

    // ---- leg 3: the nightly batch under the PINNED generation ----------
    // 1 000 new docs (corpus text re-keyed beyond the id space — their
    // words are in-vocab, the easy case a nightly actually sees)
    val batch = corpus.orderBy(col("doc_id")).limit(1000)
      .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
    val (nightBlocks, tNight) = time("nightly 1000-doc batch packed under the pinned gen") {
      packUnder(batch)
    }
    require(Layout.resolveGeneration(spark, TextAnalysis.bpeStoreKeyDir(spark, dir, MaxMerges),
        "vocab").contains(gen),
      "the nightly must leave the pinned generation untouched")
    require(tNight < math.max(10.0, tTrain / 3),
      f"a nightly batch pack took $tNight%.1f s vs train $tTrain%.1f s — not store-served")
    println(s"""[packbpe] {"metric":"pack_bpe_deep","merges":$nMerges,"vocab_words":$nVocab,""" +
      s""""train_s":${f2(tTrain)},"pack_corpus_s":${f2(tPackWarm)},"serve_s":${f2(tServe)},""" +
      s""""night_s":${f2(tNight)},"corpus_blocks":$blocksWarm,"night_blocks":$nightBlocks}""")

    // ---- leg 4: the TRUE deep regime — pack under the STORED
    // 16 384-merge artifact ScaleBpe committed (the sf1 corpus's own
    // 310-word vocabulary runs dry at 428 merges; the deep vocab needs
    // the 65 536-word synthetic vocabulary, so the corpus here is 50 k
    // docs of words drawn from it). No training happens in this leg at
    // all: the artifact is READ from its committed generation.
    val deepKey = s"target/tmp/scalebpe_store/bpe_vocab/scalebpe_synth_m16384_tok${TextFns.TokVersion}"
    Layout.resolveGeneration(spark, deepKey, "vocab") match {
      case None =>
        println("[packbpe] leg 4 SKIPPED: no committed 16384-merge artifact " +
          s"at $deepKey — run graft.tools.ScaleBpe first")
      case Some(deepGen) =>
        val deepSyms = spark.read.parquet(s"$deepGen/vocab")
        val nDeep = spark.read.parquet(s"$deepGen/merges").count()
        val syl = Vector("ka", "to", "ri", "na", "se", "mo", "lu", "pi",
          "vek", "dor", "shi", "tam", "ben", "gra", "ple", "zu")
        // 50k docs × 120 words, word ids md5-spread over the 65536-word
        // space (Zipf-ish via the square of a uniform byte pair)
        val deepCorpus = spark.range(50000L).select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(119)), j => {
            val u = conv(substring(md5(concat(lit("dw:"), col("id"), lit(":"), j)), 1, 8), 16, 10)
              .cast("long")
            val wid = (u % 256L) * (u / 256L % 256L)
            concat(
              element_at(typedlit(syl), (wid % 16 + 1).cast("int")),
              element_at(typedlit(syl), (wid / 16 % 16 + 1).cast("int")),
              element_at(typedlit(syl), (wid / 256 % 16 + 1).cast("int")),
              element_at(typedlit(syl), (wid / 4096 % 16 + 1).cast("int")))
          })).as("text"))
        val (deepBlocks, tDeep) = time("pack 50k-doc corpus under the STORED 16384-merge vocab") {
          val vocab = deepSyms.select(col("w"), size(col("sym")).as("n_sym"))
          val counts = deepCorpus
            .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
            .join(vocab, Seq("w"))
            .groupBy(col("doc_id")).agg(sum(col("n_sym")).cast("long").as("n"))
            .filter(col("n") > 0)
          Curation.packOf(counts, Seq("doc_id")).agg(max(col("last_block"))).first().getLong(0) + 1
        }
        require(Layout.resolveGeneration(spark, deepKey, "vocab").contains(deepGen),
          "the deep pack must not touch the stored generation")
        println(s"""[packbpe] {"metric":"pack_bpe_16k","merges":$nDeep,""" +
          s""""docs":50000,"pack_s":${f2(tDeep)},"blocks":$deepBlocks}""")
    }
    spark.stop()
  }
}
