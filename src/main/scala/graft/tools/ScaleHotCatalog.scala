package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Hot-catalog-shingle stress: what the incremental-dedup df cap is FOR.
  *
  * Corpus: a 1 M-doc catalog in which 10 000 docs share one hot shingle
  * ("hot hot hot" prefix), and a 100 k-doc incoming batch in which 10 000
  * docs carry the same prefix. Uncapped, candidate generation joins
  * 10 000 × 10 000 = 100 M (incoming, catalog) pairs through ONE shingle key
  * — one reducer, pure fanout, all of it useless (a pair sharing only an
  * ultra-common shingle is far below any useful Jaccard). Capped
  * (default 256 < 10 000), the shingle leaves candidate generation with a
  * logged drop and verdicts are unchanged (proven cross-engine by
  * `tools.CapGate`; the hot-only docs here are novel either way — their
  * Jaccard vs any catalog doc is ≈ 1/240).
  *
  * Run: sbt "runMain graft.tools.ScaleHotCatalog" — builds the corpus
  * under target/tmp/hotcat on first run, then times incrementalOf capped
  * vs uncapped (uncapped via spark.graft.dedup.incrementalMaxDf >> df).
  */
object ScaleHotCatalog {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    import spark.implicits._

    val dir = "target/tmp/hotcat"
    val fpPath = s"$dir/cat_fp.parquet"
    val shPath = s"$dir/cat_sh.parquet"
    val inPath = s"$dir/incoming.parquet"
    val built = new java.io.File(fpPath).exists() &&
      new java.io.File(shPath).exists() && new java.io.File(inPath).exists()
    if (!built) {
      // catalog: 1M docs, ids 0..999999; docs with id % 100 == 0 (10 000
      // of them) carry the hot prefix; every doc has a unique 8-token tail
      val catDocs = spark.range(1000000L).select(col("id").as("doc_id"),
        concat(
          when(col("id") % 100 === 0, lit("hot hot hot ")).otherwise(lit("")),
          format_string("u%da u%db u%dc u%dd u%de u%df u%dg u%dh",
            col("id"), col("id"), col("id"), col("id"),
            col("id"), col("id"), col("id"), col("id"))).as("text"))
      val (fp, sh) = Dedup.buildCatalog(catDocs)
      fp.write.mode("overwrite").parquet(fpPath)
      sh.write.mode("overwrite").parquet(shPath)
      // incoming: 100k docs, ids 2M.., same construction (disjoint tails)
      spark.range(100000L).select((col("id") + 2000000L).as("doc_id"),
        concat(
          when(col("id") % 10 === 0, lit("hot hot hot ")).otherwise(lit("")),
          format_string("v%da v%db v%dc v%dd v%de v%df v%dg v%dh",
            col("id"), col("id"), col("id"), col("id"),
            col("id"), col("id"), col("id"), col("id"))).as("text"))
        .write.mode("overwrite").parquet(inPath)
      println("[scale] hotcat corpus built (1M catalog / 10k hot, 100k incoming / 10k hot)")
    }

    def run(label: String): Unit = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val verdicts = Dedup.incrementalOf(
        spark.read.parquet(fpPath), spark.read.parquet(shPath),
        spark.read.parquet(inPath))
      val byStatus = verdicts.groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      println(f"[scale] incremental 100k-vs-1M $label: ${(System.nanoTime()-t0)/1e9}%.2f s  $byStatus")
    }
    run("capped (default 256)")
    spark.conf.set("spark.graft.dedup.incrementalMaxDf", "10000000")
    try run("UNCAPPED") finally spark.conf.unset("spark.graft.dedup.incrementalMaxDf")
    run("capped again (order check)")

    // ---- signature catalog at DOCUMENT length (round 15) ----------------
    // Quantify the storage claim honestly: signatures win only past the
    // length crossover. A FIRST version of this gate measured the
    // 8-token stub corpus above and found signatures 2.8× LARGER (256 B
    // of incompressible longs vs a handful of well-compressing shingle
    // rows) — the right catalog for stubs is the shingle one. At real
    // document lengths (200 tokens here; web pages run longer) the
    // shingle table grows ~linearly with length while the signature
    // stays 32 longs, and the ratio flips decisively. The gate builds a
    // 200 k × 200-token catalog, requires signatures ≥ 4× smaller, and
    // classifies a 20 k batch (planted exact dups + near-dups + novel)
    // against it.
    val sigDir = "target/tmp/sigcat_scale"
    val (sFp, sSig, sSh, sIn) = (s"$sigDir/fp.parquet", s"$sigDir/sig.parquet",
      s"$sigDir/sh.parquet", s"$sigDir/incoming.parquet")
    def longDoc(idCol: org.apache.spark.sql.Column, prefix: String) =
      concat_ws(" ", transform(sequence(lit(1), lit(200)),
        i => format_string(s"$prefix%d_%d", idCol, i)))
    if (!new java.io.File(sIn).exists()) {
      val catDocs = spark.range(200000L).select(col("id").as("doc_id"),
        longDoc(col("id"), "w").as("text"))
      val (fp, sigs) = Dedup.buildSigCatalog(catDocs)
      fp.write.mode("overwrite").parquet(sFp)
      sigs.write.mode("overwrite").parquet(sSig)
      Dedup.buildCatalog(catDocs)._2.write.mode("overwrite").parquet(sSh)
      // incoming 20k: ids 2M.. — 1k exact dups of catalog docs (text of
      // id-2M), 1k near-dups (+3-token tail), 18k novel
      spark.range(20000L).select((col("id") + 2000000L).as("doc_id"),
        when(col("id") < 1000, longDoc(col("id"), "w"))
          .when(col("id") < 2000,
            concat(longDoc(col("id") - 1000, "w"), lit(" extra chatter tail")))
          .otherwise(longDoc(col("id"), "x")).as("text"))
        .write.mode("overwrite").parquet(sIn)
      println("[scale] sigcat corpus built (200k x 200-token catalog, 20k incoming)")
    }
    def bytesOf(p: String): Long =
      Option(new java.io.File(p).listFiles()).map(_.map(_.length).sum).getOrElse(0L)
    val shB = bytesOf(sSh); val sigB = bytesOf(sSig)
    println(f"[scale] 200-token catalog bytes: shingles ${shB / 1e6}%.1f MB vs " +
      f"signatures ${sigB / 1e6}%.1f MB (${shB.toDouble / sigB}%.1f x smaller)")
    require(sigB * 4 < shB,
      s"signatures must be >=4x smaller at document length: $sigB vs $shB")
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val sv = Dedup.incrementalSigOf(
      spark.read.parquet(sFp), spark.read.parquet(sSig),
      spark.read.parquet(sIn))
    val sByStatus = sv.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    println(f"[scale] SIG incremental 20k-vs-200k: ${(System.nanoTime()-t0)/1e9}%.2f s  $sByStatus")
    require(sByStatus.getOrElse("exact_dup", 0L) == 1000L &&
      sByStatus.getOrElse("near_dup", 0L) == 1000L &&
      sByStatus.getOrElse("novel", 0L) == 18000L,
      s"planted verdicts must all classify: $sByStatus")
    spark.stop()
  }
}
