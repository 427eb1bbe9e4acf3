package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.DomainCuration
import graft.sources.WarcSource

/** Scale stress for the round-14 crawl surface: URL canonicalization /
  * URL-level dedup / domain gating at millions of URLs (narrow regex
  * arithmetic + one keyed aggregate — must stay linear), and WARC
  * archive write→read volume (gzip member per record, one task per
  * archive) with full roundtrip equality, not a sample.
  *
  * Run: sbt "runMain graft.tools.ScaleCrawl"   (require-gated; exits
  * nonzero on any failed gate)
  */
object ScaleCrawl {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    import spark.implicits._

    def time[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[scale] $label%-46s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    // ---- URL dedup at 2 M urls (4 variants x 500 k pages) --------------
    val pages = 500000L
    val urls = spark.range(4 * pages).select(
      col("id").as("doc_id"),
      expr("id div 4").as("g"))
      .select(col("doc_id"),
        concat(
          when(col("doc_id") % 4 === 1, "HTTPS://WWW.").otherwise("https://"),
          when(col("doc_id") % 4 === 2, "user@").otherwise(""),
          lit("d"), (col("g") % 50000).cast("string"), lit(".example.com"),
          when(col("doc_id") % 4 === 1, ":443").otherwise(""),
          lit("/p/"), col("g").cast("string"),
          when(col("doc_id") % 4 === 2, "/").otherwise(""),
          when(col("doc_id") % 4 === 0, "?utm_source=x&k=1")
            .when(col("doc_id") % 4 === 3, "?k=1&gclid=z#f").otherwise("?k=1")
        ).as("url"))
    val deduped = time("url canonicalize + dedup (2M urls)") {
      val d = DomainCuration.urlDedupOf(urls).cache()
      d.count(); d
    }
    val nSurv = deduped.count()
    val nCopies = deduped.agg(sum(col("n_copies"))).first().getLong(0)
    require(nSurv == pages && nCopies == 4 * pages,
      s"url dedup at 2M: $nSurv survivors (want $pages), $nCopies copies (want ${4 * pages})")
    deduped.unpersist()

    // ---- domain gate at 2 M urls ---------------------------------------
    val domGated = time("domain extract + blocklist + cap (2M urls)") {
      val withDom = urls.withColumn("domain", DomainCuration.domainOf(col("url")))
      val kept = DomainCuration.capPerDomain(
        DomainCuration.blocklistAntiJoin(withDom, Seq("d7.example.com")), 20)
      kept.groupBy(col("domain")).count().cache()
    }
    val maxPerDom = domGated.agg(max(col("count"))).first().getLong(0)
    val blockedLeft = domGated.filter(col("domain") === "d7.example.com").count()
    require(maxPerDom <= 20 && blockedLeft == 0,
      s"domain gate at 2M: maxPerDom=$maxPerDom blockedLeft=$blockedLeft")
    domGated.unpersist()

    // ---- WARC volume: 200 k docs over 64 gzip archives ------------------
    val nDocs = 200000L
    val outDir = "target/tmp/scale_warc"
    val docs = spark.range(nDocs).select(
      lit("conversion").as("warc_type"),
      concat(lit("http://x.test/"), col("id")).as("target_uri"),
      lit("2026-01-01T00:00:00Z").as("warc_date"),
      concat(lit("<urn:uuid:"), col("id"), lit(">")).as("record_id"),
      lit("text/plain").as("content_type"),
      encode(concat(lit("document body "), col("id").cast("string"), lit(" "),
        repeat(concat(lit("w"), (col("id") % 97).cast("string"), lit(" ")), 100)),
        "UTF-8").as("payload"),
      map(lit("WARC-X-Id"), col("id").cast("string")).as("extra"))
    time(s"warc write ($nDocs docs, 64 gzip archives)") {
      WarcSource.write(docs.repartition(64), outDir, gzip = true)
    }
    val back = time(s"warc read + parse ($nDocs docs)") {
      val b = WarcSource.read(spark, outDir).toDF().cache()
      b.count(); b
    }
    require(back.count() == nDocs, s"warc roundtrip count ${back.count()} != $nDocs")
    // FULL equality, not a sample: md5(payload) joined on the id header
    val mism = back
      .select(element_at(col("headers"), "warc-x-id").cast("long").as("id"),
        md5(col("payload")).as("got"))
      .join(docs.select(
        element_at(col("extra"), "WARC-X-Id").cast("long").as("id"),
        md5(col("payload")).as("want")), Seq("id"))
      .filter(col("got") =!= col("want")).count()
    require(mism == 0, s"$mism payload mismatches after warc roundtrip")
    back.unpersist()

    // ---- ONE big archive (round 15): ~400 MB decompressed through a
    // single gzip file / single task — 100× the per-record cap we set
    // below (1 MiB). Parsing succeeds record-at-a-time with full md5
    // equality; the cap being per-RECORD while the stream is 400× it
    // is the memory contract (WarcSourceSpec proves the cap's loud
    // failure mode; this gate proves volume through one task).
    val bigDir = "target/tmp/scale_warc_big"
    val nBig = 4000L
    val bigDocs = spark.range(nBig).select(
      lit("conversion").as("warc_type"),
      concat(lit("http://big.test/"), col("id")).as("target_uri"),
      lit("2026-01-01T00:00:00Z").as("warc_date"),
      concat(lit("<urn:uuid:big"), col("id"), lit(">")).as("record_id"),
      lit("text/plain").as("content_type"),
      encode(concat(col("id").cast("string"), lit(":"),
        repeat(concat(lit("payload"), (col("id") % 89).cast("string"), lit(" ")),
          10000)), "UTF-8").as("payload"), // ~100 KB per record
      map(lit("WARC-X-Id"), col("id").cast("string")).as("extra"))
    time(s"warc write (ONE archive, $nBig x ~100KB records)") {
      WarcSource.write(bigDocs.coalesce(1), bigDir, gzip = true)
    }
    val archBytes = new java.io.File(bigDir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).map(_.length()).sum
    spark.conf.set(WarcSource.MaxRecordBytesConf, (1L << 20).toString)
    val bigMism = try time(f"warc big-archive read (${archBytes / 1e6}%.0f MB gz, 1 MiB record cap)") {
      WarcSource.read(spark, bigDir).toDF()
        .select(element_at(col("headers"), "warc-x-id").cast("long").as("id"),
          md5(col("payload")).as("got"))
        .join(bigDocs.select(
          element_at(col("extra"), "WARC-X-Id").cast("long").as("id"),
          md5(col("payload")).as("want")), Seq("id"))
        .filter(col("got") =!= col("want")).count()
    } finally spark.conf.unset(WarcSource.MaxRecordBytesConf)
    require(bigMism == 0, s"$bigMism mismatches in big-archive roundtrip")

    println(s"[scale] RECORD urls=2M survivors=$nSurv warcDocs=$nDocs mismatches=0 bigArchiveRecords=$nBig")
    spark.stop()
  }
}
