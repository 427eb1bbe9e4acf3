package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Cross-engine proof that the shingle df caps fire IDENTICALLY on
  * Spark and DuckDB — both the incremental-dedup catalog cap and
  * (round 8) the gated pairwise ngram-jaccard cap.
  *
  * The gated `dedup_incremental` splits at doc_id 250, so its catalog
  * can never hold more than 250 docs and the default cap
  * (DefaultMaxShingleDf = 256) can never fire through the gate — the
  * query/oracle mirror at the cap boundary was verified by construction
  * only. This tool executes the case: a crafted corpus whose catalog
  * has 300 IDENTICAL docs (every shingle of that text reaches df = 300
  * > 256), an incoming near-dup of that text whose ONLY shared shingles
  * are the hot ones (cap fires → both engines must flip it
  * near_dup→novel), an incoming near-dup via rare shingles (cap
  * irrelevant → near_dup on both), and an exact copy (exact stage is
  * fingerprint-based, cap-immune → exact_dup on both).
  *
  * Output is check.py-compatible: the crafted corpus lands in
  * target/tmp/capgate/ (documents.parquet + symlinks to the sf0.001
  * siblings for the other table views), the Spark result and a
  * parameterized oracle (cut = 1000, maxDf = 256) in
  * target/tmp/capgate_out/. Gate it with:
  *
  *   sbt "runMain graft.tools.CapGate"
  *   python3 tools/check.py target/tmp/capgate target/tmp/capgate_out
  */
object CapGate {
  val Cut = 1000L

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(8)
    import spark.implicits._

    val dataDir = "target/tmp/capgate"
    val outDir = "target/tmp/capgate_out"

    val hotText = (0 until 40).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val rareText = (0 until 40).map(i => s"uniq$i only$i here$i").mkString(" ")
    val catalog =
      (0L until 300L).map(i => (i, hotText)) :+          // df(T-shingle) = 300 > 256
      (400L, rareText)                                   // unique doc, rare shingles
    val incoming = Seq(
      (1000L, hotText.replace("alpha7", "changedy")),    // hot-only near-dup → cap fires → novel
      (1001L, rareText.replace("uniq3", "edited")),      // rare-shingle near-dup → near_dup
      (1002L, hotText),                                  // exact copy → exact_dup (min cid 0)
      (1003L, "nothing shared with anything else truly") // novel by content
    )

    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dataDir))
    // DuckDB's read_parquet wants a FILE like the testdata tables, not a
    // Spark output directory: write, then promote the single part file
    (catalog ++ incoming).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("capgate"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dataDir/docs_tmp")
    val part = new java.io.File(s"$dataDir/docs_tmp").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dataDir, "documents.parquet"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$dataDir/docs_tmp"))
    // check.py creates views for all ten tables; point the other nine at
    // the tiny sf0.001 parquet so view binding succeeds
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings")) {
      val link = java.nio.file.Paths.get(dataDir, s"$t.parquet")
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet"))
    }

    val result = Dedup.incrementalAt(spark, dataDir, Cut)
    result.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/dedup_incremental_capfire")

    // Scala-side assertion first: the crafted statuses must be exactly
    // these, or the corpus no longer exercises the cap boundary
    val got = result.collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    val want = Seq(
      (1000L, "novel", -1L),      // would be near_dup WITHOUT the cap
      (1001L, "near_dup", 400L),
      (1002L, "exact_dup", 0L),
      (1003L, "novel", -1L))
    require(got == want, s"capgate corpus drifted: got $got want $want")

    // ---- the gated ngram-jaccard cap boundary (round 8) ----------------
    // Over the SAME corpus, the gated (capped) pairwise operator: every
    // hotText shingle has df ≈ 302 > 256, so the 300 identical catalog
    // docs (and the hot-only near-dup 1000 / exact copy 1002) generate
    // ZERO candidate pairs — uncapped this corpus has ~45k pairs at
    // jaccard 1.0, the exact quadratic blowup the cap exists to stop.
    // The only surviving pair is the rare-shingle near-dup (400, 1001),
    // whose Jaccard is exact (sizes are uncapped). Both engines must
    // agree on all of it.
    val ngramPairs = Dedup.ngramJaccard(spark, dataDir)
    ngramPairs.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/dedup_ngram_jaccard_capfire")
    val gotPairs = ngramPairs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    require(gotPairs == Seq((400L, 1001L)),
      s"capgate ngram corpus drifted: got ${gotPairs.toList}, want List((400,1001)) — " +
      "the hot-shingle pairs must vanish under the cap and the rare pair must survive")

    val sql = Dedup.incrementalOracleFor(Cut, Dedup.DefaultMaxShingleDf)
    val ngramSql = Dedup.ngramJaccardOracleFor(Some(Dedup.DefaultMaxShingleDf))
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      s"""{${q("dedup_incremental_capfire")}: ${q(sql)},
          ${q("dedup_ngram_jaccard_capfire")}: ${q(ngramSql)}}""")
    println(s"[capgate] spark verdicts OK (hot-only near-dup flipped to novel by the cap; " +
      s"capped pairwise join kept only the rare pair); " +
      s"now run: python3 tools/check.py $dataDir $outDir")
    spark.stop()
  }
}
