package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** Cross-engine proof that the MULTIMODAL candidate-key cap (round 20,
  * `Multimodal.DefaultMaxBlockDf` through `blockPairsOf` and the `keep`
  * CTEs) fires IDENTICALLY on Spark and DuckDB. The gated corpora are
  * md5-derived precisely so no key ever goes hot there, so — exactly
  * like the shingle CapGate — the query/oracle mirror at the cap
  * boundary can only be executed on a crafted corpus:
  *
  *  - 300 docs with IDENTICAL text: every one of their four (k, bv)
  *    keys reaches df 300 > 256, so the ~45k hamming-0 pairs among
  *    them must vanish under the cap on BOTH engines (the flat-content
  *    recall trade the cap documents);
  *  - a unique identical pair (800, 801): survives via cold keys;
  *  - a crafted pair (900, 901) that shares the HOT b0 value and has
  *    exactly one differing bit in each of b1/b2/b3 (hamming 3,
  *    discoverable ONLY via the hot key): both engines must drop it —
  *    the edits are found by search over the byte-sample grid at
  *    runtime, with require() guards so corpus drift is loud.
  *
  * Output is check.py-compatible:
  *
  *   sbt "runMain graft.tools.CapGateMm"
  *   python3 tools/check.py target/tmp/capgate_mm target/tmp/capgate_mm_out
  */
object CapGateMm {

  /** Local twin of the byte-sample grid + dHash blocks (fakeGrid +
    * dhashBlockCols, Multimodal.scala) for the edit search — the actual
    * run goes through the real operator; require() cross-checks. */
  private def blocksOf(text: String): Array[Int] = {
    val p = text.getBytes("UTF-8")
    val n = p.length.toLong
    val grid = Array.tabulate(72)(k => p(((k * n) / 72).toInt) & 0xFF)
    Array.tabulate(4)(j => (0 until 16).map { b =>
      val r = j * 2 + b / 8; val c = b % 8
      if (grid(r * 9 + c) > grid(r * 9 + c + 1)) 1 << b else 0
    }.sum)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(8)
    import spark.implicits._

    val dataDir = "target/tmp/capgate_mm"
    val outDir = "target/tmp/capgate_mm_out"

    val hotText = (0 until 13).map(i => s"hotblock$i").mkString(" ") // 116 ASCII chars
    val uniqText = (0 until 13).map(i => s"uniqpair$i").mkString(" ")
    // base for the hot-only pair: hotText's first third (so b0 — cells
    // 0..17, sampled from the first quarter of the bytes — is the HOT
    // value), then a diverging tail
    val base = hotText.take(40) + (0 until 19).map(i => s"tl$i").mkString(" ").padTo(hotText.length - 40, 'x')
    require(base.length == hotText.length)
    require(blocksOf(base)(0) == blocksOf(hotText)(0),
      "base must share hotText's b0 (same sampled first-quarter bytes)")

    // search one single-char edit per block j=1..3 flipping EXACTLY one
    // bit of b_j and nothing else; disjoint positions compose
    val b0 = blocksOf(base)
    val edits = (1 to 3).map { j =>
      val found = (base.length / 4 until base.length).iterator.flatMap { p =>
        "abcdefghijklmnopqrstuvwxyz0123456789".iterator.collect {
          case ch if ch != base(p) => (p, ch, blocksOf(base.updated(p, ch)))
        }
      }.collectFirst {
        case (p, ch, bs)
          if (0 until 4).forall(k =>
            Integer.bitCount(bs(k) ^ b0(k)) == (if (k == j) 1 else 0)) => (p, ch)
      }
      require(found.nonEmpty, s"no single-bit edit found for block $j — corpus drifted")
      found.get
    }
    require(edits.map(_._1).distinct.length == 3, "edits must hit disjoint positions")
    val hotOnly = edits.foldLeft(base) { case (s, (p, ch)) => s.updated(p, ch) }
    val bh = blocksOf(hotOnly)
    require(bh(0) == b0(0) && (1 to 3).forall(j => Integer.bitCount(bh(j) ^ b0(j)) == 1),
      "hot-only pair must differ by exactly one bit in each of b1/b2/b3")

    val docs =
      (0L until 300L).map(i => (i, hotText)) ++       // every (k,bv) key df=300 > 256
      Seq((800L, uniqText), (801L, uniqText),         // survives via cold keys
          (900L, base), (901L, hotOnly))              // shares ONLY the hot b0 → dropped

    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dataDir))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("capgate_mm"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dataDir/docs_tmp")
    val part = new java.io.File(s"$dataDir/docs_tmp").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dataDir, "documents.parquet"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$dataDir/docs_tmp"))
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings")) {
      val link = java.nio.file.Paths.get(dataDir, s"$t.parquet")
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet"))
    }

    val result = Multimodal.imageDhashDedup(spark, dataDir)
    result.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/mm_image_dhash_dedup_capfire")

    val got = result.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    require(got.contains((800L, 801L)),
      s"the unique identical pair must survive via its cold keys: $got")
    require(!got.contains((900L, 901L)),
      s"the hot-only pair must be dropped by the cap: $got")
    require(!got.exists(p => p._1 >= 0 && p._1 < 300 && p._2 >= 0 && p._2 < 300),
      s"no pair among the 300 hot docs may survive (uncapped: 44 850): $got")

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
      s"""{${q("mm_image_dhash_dedup_capfire")}: ${q(Multimodal.imageDhashDedupOracle)}}""")
    println(s"[capgate_mm] spark verdicts OK (45k hot pairs gone, cold pair kept, " +
      s"hot-only hamming-3 pair dropped); now run: python3 tools/check.py $dataDir $outDir")
    spark.stop()
  }
}
