package graft.tools
import graft.operators.Dedup

/** Stress the dedup pipeline on the 1M-doc replicated corpus: 200 exact
  * copies of each of 5000 docs — pathological for naive LSH (every band
  * bucket holds the whole duplicate cluster), routine for the composed
  * exact-first pipeline. */
object ScaleDedup {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    val dir = "target/tmp/bigsf"
    // Tables.documents expects <dir>/documents.parquet; builds the big
    // corpus too if no other tool has yet (was: a bare symlink that
    // required a prior Scale* run)
    Corpora.linkBigDocuments(spark, dir)
    val t0 = System.nanoTime()
    val out = Dedup.dedupPipeline(spark, dir)
    val byStatus = out.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    println(f"[scale] dedup_pipeline 1M docs: ${(System.nanoTime()-t0)/1e9}%.2f s  $byStatus")

    // substring-level dedup at 1 M docs (round 8): the window table is
    // ~n_tokens rows/doc of (doc_id, off, md5) — the heaviest shuffle
    // of the round's additions. On the 200×-replicated corpus every
    // window repeats ~200×, so coverage explodes 199 duplicate windows
    // per distinct one and all but the first copy empties out —
    // duplication-heavy is the WORST case for this operator, the right
    // stress. sum() over the outputs forces the full reassembly.
    import org.apache.spark.sql.functions._
    val t1 = System.nanoTime()
    val sub = graft.operators.Curation.substringDedup(spark, dir)
      .agg(count(lit(1)), sum(col("n_kept")), sum(col("n_tokens"))).first()
    println(f"[scale] substring_dedup 1M docs: ${(System.nanoTime()-t1)/1e9}%.2f s  " +
      s"docs=${sub.getLong(0)} kept_tokens=${sub.getLong(1)}/${sub.getLong(2)}")

    // line-level dedup at 1 M docs (round 9): every doc gets a shared
    // boilerplate footer line appended — ONE line key with 1 000 000
    // occurrences (the hottest possible line, the cookie-banner case)
    // on top of the 200×-duplicated body lines. The min-struct
    // aggregate partial-combines the hot key map-side; the join back
    // carries one dup row per occurrence (bounded by line volume, not
    // df²). sum() over outputs forces full reassembly.
    val t2 = System.nanoTime()
    val footer = "subscribe to our newsletter all rights reserved contact us terms of service"
    val lined = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(col("text"), lit("\n"), lit(footer)).as("text"))
    val ld = graft.operators.Curation.lineDedupOf(lined)
      .agg(count(lit(1)), sum(col("n_kept")), sum(col("n_lines"))).first()
    println(f"[scale] line_dedup 1M docs + 1M-hot footer: ${(System.nanoTime()-t2)/1e9}%.2f s  " +
      s"docs=${ld.getLong(0)} kept_lines=${ld.getLong(1)}/${ld.getLong(2)}")

    // content-defined chunk dedup at 1 M docs (round 17): same
    // duplication-worst-case as substring dedup, same per-position hash
    // COUNT (every position hashes its trailing window) but ~1/avg-len
    // the SHUFFLED rows (chunks, not windows) and no coverage explode.
    // Gate: must land well under substring dedup's wall on the same
    // corpus. The first cut of this tool measured 95.6 s — 1.6× WORSE
    // than substring — because the boundary hashing ran through
    // interpreted higher-order functions; the native CdcCuts pass
    // (ProfCdc: 72 → 9.4 s frame) is what makes the claim true
    // (measured 13.2 s vs substring's 55.8 s in the same session).
    val t1c = System.nanoTime()
    val cdc = graft.operators.Curation.cdcChunkDedup(spark, dir)
      .agg(count(lit(1)), sum(col("n_kept")), sum(col("n_chunks"))).first()
    val cdcSecs = (System.nanoTime() - t1c) / 1e9
    println(f"[scale] cdc_chunk_dedup 1M docs: $cdcSecs%.2f s  " +
      s"docs=${cdc.getLong(0)} kept_chunks=${cdc.getLong(1)}/${cdc.getLong(2)}")
    require(cdc.getLong(1) * 50 < cdc.getLong(2),
      s"200x duplication must collapse >98% of chunks: kept ${cdc.getLong(1)} of ${cdc.getLong(2)}")

    // composed leakage-safe split (round 9): a production pipeline that
    // has materialized dedup_clusters pays only the curation_split cost
    // for the safe split — NOT the clusters recompute the gated inline
    // entry carries. Measured at sf0.1 (where the inline entry benches
    // ~4-5 s): clusters written once, then the composed split timed
    // alone. min(split) forces the hash arithmetic on every row.
    val sf = "/root/testdata/sf0.1"
    if (new java.io.File(s"$sf/documents.parquet").exists()) {
      val clPath = "target/tmp/sf01_clusters.parquet"
      val tc = System.nanoTime()
      Dedup.dedupClusters(spark, sf).write.mode("overwrite").parquet(clPath)
      println(f"[scale] clusters materialize sf0.1: ${(System.nanoTime()-tc)/1e9}%.2f s (paid once)")
      val docs = graft.sources.Tables.documents(spark, sf).select("doc_id", "source")
      val ts = System.nanoTime()
      val comp = graft.operators.Curation
        .splitLeakSafeOf(docs, spark.read.parquet(clPath))
        .agg(count(lit(1)), min(col("split"))).first()
      println(f"[scale] composed splitLeakSafeOf sf0.1: ${(System.nanoTime()-ts)/1e9}%.2f s  " +
        s"rows=${comp.getLong(0)}")
    }
    spark.stop()
  }
}
