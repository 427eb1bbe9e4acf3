package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ShardExport

/** Training-shard export (round 15): deterministic md5-order shuffle →
  * block packing → document-aligned shard files + manifest. The
  * dataloader contract: shard tree readable as plain parquet, row order
  * within a shard replays the shuffle, manifest closed-form over the
  * tree, re-export idempotent. */
class ShardExportSpec extends AnyFunSuite {
  lazy val spark = GraftSession.test
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("roundtrip: shard tree holds exactly the non-empty corpus, whole docs, manifest-consistent") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    val manifest = ShardExport.exportShards(docs, out, blocksPerShard = 2L).cache()

    // multi-shard at this sizing, ids contiguous from 0 (block streams are)
    val shardIds = manifest.select(col("shard_id")).as[Long].collect().sorted.toSeq
    assert(shardIds.size > 2, s"want a multi-shard export, got $shardIds")
    assert(shardIds == (0L until shardIds.size).toSeq, s"shard ids not contiguous: $shardIds")

    // the tree reads back as ONE parquet table; every non-empty doc
    // appears exactly once with its text intact (document-aligned:
    // nothing splits, nothing duplicates)
    val back = spark.read.parquet(out).cache()
    val want = docs
      .filter(size(graft.functions.TextFns.tokens(col("text"))) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSet
    val got = back.select(col("doc_id"), col("text")).as[(Long, String)].collect().toSet
    assert(got == want, "shard tree must hold exactly the non-empty corpus")

    // per-shard doc counts and token sums equal the manifest's
    val perShard = back
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n"),
        sum(size(graft.functions.TextFns.tokens(col("text"))).cast("long")).as("toks"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    manifest.select(col("shard_id"), col("n_docs"), col("n_tokens"))
      .as[(Long, Long, Long)].collect().foreach { case (s, nd, nt) =>
        assert(perShard(s) == ((nd, nt)), s"shard $s tree/manifest mismatch")
      }

    // one data file per shard directory (fixed-size shard FILES, not
    // a spray of parts), manifest invisible to the tree read
    val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("shard_id="))
    assert(dirs.length == shardIds.size)
    dirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1, s"${d.getName}: want 1 shard file, got ${parts.length}")
    }

    // within a shard, row order replays the deterministic shuffle
    // (okey ascending) — what lets a loader stream the file as-is
    val first = spark.read.parquet(s"$out/shard_id=${shardIds.head}")
      .select(col("okey")).as[String].collect().toSeq
    assert(first == first.sorted, "shard rows must be in shuffle (okey) order")

    // each shard's first block sits in its own block window, and first
    // blocks strictly increase. last_block MAY spill into the next
    // window — that's the straddling document that document alignment
    // keeps whole (the one deliberate deviation from exact tiling)
    val ranges = manifest.orderBy(col("shard_id"))
      .select(col("shard_id"), col("first_block"), col("last_block"))
      .as[(Long, Long, Long)].collect()
    ranges.foreach { case (s, f, l) =>
      assert(f / 2L == s && l >= f, s"shard $s first_block $f outside its window")
    }
    ranges.sliding(2).foreach {
      case Array((_, f1, _), (_, f2, _)) =>
        assert(f2 > f1, "shard first blocks must strictly increase")
      case _ =>
    }

    // idempotence: a re-export rewrites the same manifest (mode
    // overwrite + partitionBy — the writeCorpusPartitioned rules)
    val manifest2 = ShardExport.exportShards(docs, out, blocksPerShard = 2L)
    val m1 = manifest.collect().map(_.toString).toSeq
    val m2 = manifest2.collect().map(_.toString).toSeq
    assert(m1 == m2, "re-export must be byte-stable")
    manifest.unpersist(); back.unpersist()
  }

  test("shard assignment plans window-free (distributed prefix sum, not a global WindowExec)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val out = graft.operators.ShardExport.shardAssign(docs, 2L)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"the md5-order pack must be the distributed prefix sum, not a global window:\n$plan")
  }

  test("releaseShards ships exactly what the v2 card says: kept docs, redacted text, per split") {
    import graft.operators.Curation
    val out = java.nio.file.Files.createTempDirectory("release_shards").toString
    val manifest = Curation.releaseShards(spark, sf, out, blocksPerShard = 2L).cache()
    val card = Curation.releaseManifestV2(spark, sf).cache()
    // per-split doc counts: shard manifest == card
    val mDocs = manifest.groupBy(col("split")).agg(sum(col("n_docs")).as("n"))
      .as[(String, Long)].collect().toMap
    val cDocs = card.groupBy(col("split")).agg(sum(col("n_docs")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(mDocs == cDocs, s"shard trees $mDocs != card $cDocs")
    // the contaminated seed never ships; the PII seed ships REDACTED
    val shipped = mDocs.keys.map(s => spark.read.parquet(s"$out/split=$s")
      .select(col("doc_id"), col("text"))).reduce(_ unionByName _)
      .as[(Long, String)].collect().toMap
    assert(!shipped.contains(9000000001L), "contaminated seed must not ship")
    val piiText = shipped(9000000002L)
    assert(piiText.contains("<EMAIL>") && piiText.contains("<PHONE>"),
      s"shipped text must be the redacted text: $piiText")
    assert(!piiText.contains("curator@") && !piiText.contains("415"),
      s"raw PII must not ship: $piiText")
    manifest.unpersist(); card.unpersist()
  }

  test("incremental refresh: full shards byte-stable, only tail+new rewritten, manifest == frozen-order repack") {
    import graft.operators.Curation
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val out = java.nio.file.Files.createTempDirectory("shards_refresh").toString
    ShardExport.exportShards(base, out, blocksPerShard = 2L)
    val m0 = spark.read.parquet(s"$out/_shard_manifest").collect()
      .map(r => r.getLong(r.fieldIndex("shard_id")) -> r).toMap
    val tail0 = m0.keys.max
    val mtimes0 = m0.keys.map { s =>
      s -> new java.io.File(s"$out/shard_id=$s").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSeq.sorted
    }.toMap

    // nightly batch: fresh ids, enough tokens to spill past the tail
    val batch = (0 until 40).map { i =>
      (5000000L + i, s"refresh batch document number $i " + ("alpha beta gamma delta " * 30))
    }.toDF("doc_id", "text")
    val m1 = ShardExport.refreshShards(batch, out, blocksPerShard = 2L).cache()
    val tail1 = m1.agg(max(col("shard_id"))).as[Long].head()
    assert(tail1 > tail0, "the batch must extend the tree with new shards")

    // (1) every FULL pre-existing shard is untouched ON DISK — the
    // dataloader's resume bookmarks stay valid
    (0L until tail0).foreach { s =>
      val now = new java.io.File(s"$out/shard_id=$s").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSeq.sorted
      assert(now == mtimes0(s), s"full shard $s was rewritten by the refresh")
    }

    // (2) the refreshed tree holds exactly base ∪ batch, each doc once
    val back = spark.read.parquet(out).cache()
    val want = base.unionByName(batch)
      .filter(size(graft.functions.TextFns.tokens(col("text"))) > 0)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    val got = back.select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(got == want, "refreshed tree must hold exactly the union corpus")

    // (3) the stored manifest equals a REPACK of the tree under its own
    // okey order — i.e. the refresh produced exactly the batch export of
    // the generation-major stream (the spec-provable half of "incremental
    // == batch over the union"; the global-md5 re-shuffle is the
    // documented structural difference)
    val counts = back.select(col("okey"), col("doc_id"),
      size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n"))
    val repack = Curation.packOf(counts, Seq("okey", "doc_id"))
      .withColumn("shard_id", expr("first_block div 2"))
    val reman = repack
      .join(back.select(col("doc_id"), octet_length(col("text")).cast("long").as("nb")), Seq("doc_id"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("nb")).as("n_bytes"),
        min(col("first_block")).as("first_block"), max(col("last_block")).as("last_block"))
    val wantM = reman.collect().map(_.toString).toSet
    val gotM = m1.collect().map(_.toString).toSet
    assert(gotM == wantM, s"manifest must equal the frozen-order repack\n got $gotM\nwant $wantM")

    // (4) generation okeys: batch rows carry g000001:, sort after gen-0
    // hex okeys, and a SECOND refresh parses gen 2 and stays consistent
    val tailOkeys = spark.read.parquet(s"$out/shard_id=$tail0")
      .select(col("okey")).as[String].collect().toSeq
    assert(tailOkeys == tailOkeys.sorted, "tail shard must stay in stream order")
    assert(tailOkeys.exists(_.startsWith("g000001:")), "batch rows must carry the gen tag")
    val batch2 = Seq((6000000L, "second nightly batch " + ("epsilon zeta " * 40)))
      .toDF("doc_id", "text")
    val m2 = ShardExport.refreshShards(batch2, out, blocksPerShard = 2L)
    val back2 = spark.read.parquet(out)
    assert(back2.filter(col("okey").startsWith("g000002:")).count() == 1L,
      "second refresh must tag generation 2")
    assert(m2.agg(sum(col("n_docs"))).as[Long].head() == want.size + 1,
      "second refresh manifest must cover the grown corpus")
    m1.unpersist(); back.unpersist()
  }

  test("refreshSplitShards: only splits present in the batch are touched; budget mismatch fails loudly") {
    // sized so split=train spans MULTIPLE shards — a single-shard tree
    // (first_block 0, shard 0) can't witness a block-budget mismatch
    val docsA = (0 until 30).map(i => (i.toLong, s"split corpus doc $i " + ("one two three four " * 60)))
      .toDF("doc_id", "text")
    val splitsA = (0 until 30).map(i => (i.toLong, if (i % 3 == 0) "val" else "train"))
      .toDF("doc_id", "split")
    val out = java.nio.file.Files.createTempDirectory("split_refresh").toString
    ShardExport.exportSplitShards(docsA, splitsA, out, blocksPerShard = 2L)
    val valFiles = new java.io.File(s"$out/split=val").listFiles()
      .filter(_.getName.startsWith("shard_id=")).flatMap(_.listFiles())
      .map(f => f.getPath -> f.lastModified).toSeq.sorted
    // batch lands entirely in train → split=val must be untouched
    val batch = Seq((7000000L, "train only batch doc " + ("five six seven " * 25)))
      .toDF("doc_id", "text")
    val bs = Seq((7000000L, "train")).toDF("doc_id", "split")
    val m = ShardExport.refreshSplitShards(batch, bs, out, blocksPerShard = 2L)
    assert(m.select(col("split")).distinct().as[String].collect().toSeq == Seq("train"),
      "refresh must only emit manifests for splits in the batch")
    val valFilesAfter = new java.io.File(s"$out/split=val").listFiles()
      .filter(_.getName.startsWith("shard_id=")).flatMap(_.listFiles())
      .map(f => f.getPath -> f.lastModified).toSeq.sorted
    assert(valFilesAfter == valFiles, "a split absent from the batch must stay untouched")
    // continuing with a different block budget is a refusal, not silent corruption
    val err = intercept[IllegalArgumentException] {
      ShardExport.refreshShards(batch, s"$out/split=train", blocksPerShard = 8L)
    }
    assert(err.getMessage.contains("blocksPerShard"))
  }

  test("crash-retried refresh is idempotent: tree+manifest equal one uninterrupted run") {
    val base = (0 until 25).map(i => (i.toLong, s"crash corpus doc $i " + ("kilo lima mike " * 40)))
      .toDF("doc_id", "text")
    val batch = (0 until 12).map(i => (8000000L + i, s"crash batch doc $i " + ("november oscar papa " * 35)))
      .toDF("doc_id", "text")
    def treeRows(out: String) = spark.read.parquet(out)
      .select(col("shard_id"), col("okey"), col("doc_id"), col("text"))
      .collect().map(_.toString).sorted.toSeq
    def manRows(out: String) = spark.read.parquet(s"$out/_shard_manifest")
      .collect().map(_.toString).sorted.toSeq

    // reference: export → one uninterrupted refresh
    val ref = java.nio.file.Files.createTempDirectory("crash_ref").toString
    ShardExport.exportShards(base, ref, blocksPerShard = 2L)
    ShardExport.refreshShards(batch, ref, blocksPerShard = 2L)

    // crashed: same export; refresh; then RESTORE the pre-refresh
    // manifest — exactly the state a crash between the partition write
    // (committed) and the manifest write (not) leaves behind
    val out = java.nio.file.Files.createTempDirectory("crash_run").toString
    ShardExport.exportShards(base, out, blocksPerShard = 2L)
    val preManifest = spark.read.parquet(s"$out/_shard_manifest").localCheckpoint(true)
    ShardExport.refreshShards(batch, out, blocksPerShard = 2L)
    preManifest.write.mode("overwrite").parquet(s"$out/_shard_manifest")
    // the retry of the same nightly batch
    ShardExport.refreshShards(batch, out, blocksPerShard = 2L)

    assert(treeRows(out) == treeRows(ref),
      "retried refresh must leave the tree identical to one uninterrupted run")
    assert(manRows(out) == manRows(ref),
      "retried refresh must leave the manifest identical to one uninterrupted run")
    // no doc ingested twice, no orphan generation tags
    val ids = spark.read.parquet(out).select(col("doc_id")).as[Long].collect().toSeq
    assert(ids.distinct.size == ids.size, "a retried batch must not double-ingest")
    assert(spark.read.parquet(out).filter(col("okey").startsWith("g000002:")).isEmpty,
      "the crashed attempt's generation must not leak a second tag")
  }

  test("crash-retry with a SMALLER retry batch leaves no orphan shard dirs beyond the manifest") {
    val base = (0 until 10).map(i => (i.toLong, s"orphan corpus doc $i " + ("uno dos tres " * 30)))
      .toDF("doc_id", "text")
    val bigBatch = (0 until 30).map(i => (8100000L + i, s"big batch doc $i " + ("quattro cinque " * 40)))
      .toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("crash_small").toString
    ShardExport.exportShards(base, out, blocksPerShard = 2L)
    val preManifest = spark.read.parquet(s"$out/_shard_manifest").localCheckpoint(true)
    val tail0 = preManifest.agg(max(col("shard_id"))).as[Long].head()
    ShardExport.refreshShards(bigBatch, out, blocksPerShard = 2L)
    assert(new java.io.File(out).listFiles().count(f =>
      f.getName.startsWith("shard_id=") &&
        f.getName.stripPrefix("shard_id=").toLong > tail0) > 0,
      "fixture must append shards beyond the tail")
    preManifest.write.mode("overwrite").parquet(s"$out/_shard_manifest") // crash
    // the retry night ships a much smaller batch (dedup upstream, say)
    val small = Seq((8200000L, "small retry batch " + ("seis siete " * 20))).toDF("doc_id", "text")
    val m = ShardExport.refreshShards(small, out, blocksPerShard = 2L).cache()
    // every shard dir on disk is accounted for by the manifest
    val manShards = m.select(col("shard_id")).as[Long].collect().toSet
    val diskShards = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard_id="))
      .map(_.getName.stripPrefix("shard_id=").toLong).toSet
    assert(diskShards == manShards,
      s"tree/manifest shard sets must agree: disk $diskShards vs manifest $manShards")
    // and the big crashed batch is fully gone
    assert(spark.read.parquet(out).filter(col("doc_id") >= 8100000L && col("doc_id") < 8200000L).isEmpty,
      "the crashed attempt's rows must be erased")
    m.unpersist()
  }

  test("crash-retry with an EMPTY retry batch still repairs the tree (orphans erased, manifest intact)") {
    // night N crashes after the partition write; night N+1's batch is
    // ENTIRELY filtered upstream (all docs contaminated/gated). The
    // empty refresh must still finish the cleanup — otherwise the
    // crashed batch's orphan rows stay visible to dataloaders until
    // some arbitrarily-later non-empty night for this tree
    val base = (0 until 12).map(i => (i.toLong, s"er corpus doc $i " + ("alfa bravo charlie " * 30)))
      .toDF("doc_id", "text")
    val batch = (0 until 9).map(i => (8300000L + i, s"er batch doc $i " + ("delta echo " * 25)))
      .toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("crash_empty").toString
    ShardExport.exportShards(base, out, blocksPerShard = 2L)
    def treeRows() = spark.read.parquet(out)
      .select(col("shard_id"), col("okey"), col("doc_id"))
      .collect().map(_.toString).sorted.toSeq
    val pristine = treeRows()
    val preManifest = spark.read.parquet(s"$out/_shard_manifest").localCheckpoint(true)
    ShardExport.refreshShards(batch, out, blocksPerShard = 2L)
    preManifest.write.mode("overwrite").parquet(s"$out/_shard_manifest") // crash
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val m = ShardExport.refreshShards(empty, out, blocksPerShard = 2L)
    assert(treeRows() == pristine,
      "an empty retry must erase the crashed attempt's orphan tail rows and dirs")
    assert(m.collect().map(_.toString).sorted.toSeq ==
      preManifest.drop("gen").collect().map(_.toString).sorted.toSeq,
      "the returned manifest must be the committed one, untouched")
    // the per-split wrapper reaches the same repair for split trees with
    // no docs tonight — including the all-splits-filtered extreme
    val splits = (0 until 12).map(i => (i.toLong, "train")).toDF("doc_id", "split")
    val sOut = java.nio.file.Files.createTempDirectory("crash_empty_split").toString
    ShardExport.exportSplitShards(base, splits, sOut, blocksPerShard = 2L)
    def sTree() = spark.read.parquet(s"$sOut/split=train")
      .select(col("shard_id"), col("okey"), col("doc_id"))
      .collect().map(_.toString).sorted.toSeq
    val sPristine = sTree()
    val sPre = spark.read.parquet(s"$sOut/split=train/_shard_manifest").localCheckpoint(true)
    ShardExport.refreshSplitShards(batch, (0 until 9).map(i => (8300000L + i, "train")).toDF("doc_id", "split"),
      sOut, blocksPerShard = 2L)
    sPre.write.mode("overwrite").parquet(s"$sOut/split=train/_shard_manifest") // crash
    val sm = ShardExport.refreshSplitShards(empty,
      Seq.empty[(Long, String)].toDF("doc_id", "split"), sOut, blocksPerShard = 2L)
    assert(sm.isEmpty, "an all-filtered batch still answers an empty manifest")
    assert(sTree() == sPristine,
      "the split wrapper must repair a crashed split tree even with no docs for it tonight")
  }

  test("refreshSplitShards: an entirely-filtered batch no-ops with an empty manifest") {
    val docsA = (0 until 8).map(i => (i.toLong, s"noop corpus doc $i " + ("red green blue " * 30)))
      .toDF("doc_id", "text")
    val splitsA = (0 until 8).map(i => (i.toLong, "train")).toDF("doc_id", "split")
    val out = java.nio.file.Files.createTempDirectory("noop_refresh").toString
    ShardExport.exportSplitShards(docsA, splitsA, out, blocksPerShard = 2L)
    val before = new java.io.File(s"$out/split=train").listFiles()
      .flatMap(f => if (f.isDirectory) f.listFiles() else Array(f))
      .map(f => f.getPath -> f.lastModified).toSeq.sorted
    // batch where every doc was filtered upstream: empty frame
    val emptyBatch = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptySplits = Seq.empty[(Long, String)].toDF("doc_id", "split")
    val m = ShardExport.refreshSplitShards(emptyBatch, emptySplits, out, blocksPerShard = 2L)
    assert(m.isEmpty, "an empty batch must yield an empty manifest")
    assert(m.columns.toSeq == Seq("shard_id", "n_docs", "n_tokens", "n_bytes",
      "first_block", "last_block", "split"), "empty manifest must keep the schema")
    val after = new java.io.File(s"$out/split=train").listFiles()
      .flatMap(f => if (f.isDirectory) f.listFiles() else Array(f))
      .map(f => f.getPath -> f.lastModified).toSeq.sorted
    assert(after == before, "an empty batch must touch nothing")
  }

  test("gated manifest: totals equal the corpus, shards are block-budget-sized") {
    val m = ShardExport.shardExport(spark, sf).cache()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val wantToks = docs
      .select(size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0).agg(sum(col("n"))).as[Long].head()
    val gotToks = m.agg(sum(col("n_tokens"))).as[Long].head()
    assert(gotToks == wantToks, "manifest token total must equal the corpus")
    // every shard but the last spans exactly the block budget
    val spans = m.orderBy(col("shard_id"))
      .select((col("last_block") - col("first_block")).as("s")).as[Long].collect()
    spans.dropRight(1).foreach { s =>
      assert(s >= ShardExport.GateBlocksPerShard - 1,
        s"non-final shard spans $s blocks — under the budget")
    }
    m.unpersist()
  }
}
