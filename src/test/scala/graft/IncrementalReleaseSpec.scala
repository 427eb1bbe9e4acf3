package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BatchCatalog, Curation, Dedup}

/** Incremental release (round 15): nightly batches classify against the
  * dedup catalog, the cluster table EXTENDS by append (dups inherit
  * their match's cluster, novels become singletons), the manifest
  * re-emits. Invariants proven here:
  *   1. sequential nightly releases == one batch release over the union
  *      (batches internally deduplicated, no cluster bridges — the
  *      documented preconditions);
  *   2. a crafted near-dup of a TRAIN doc lands in train;
  *   3. no previously-released doc ever moves across split boundaries.
  *
  * Corpus construction: every 3-token window of a doc contains a
  * doc-unique token, so distinct docs share ZERO 3-shingles (no
  * accidental near-dups to confound cluster equality), while the
  * interleaved stopwords keep every doc past the quality gate. */
class IncrementalReleaseSpec extends AnyFunSuite {
  lazy val spark = GraftSession.test
  import spark.implicits._

  private val Commons = Seq("the", "and", "with", "near", "over", "from",
    "into", "upon", "that", "when", "then")

  /** u1 c1 u2 c2 … u11 c11 u12 — unique/common alternation. */
  private def docText(i: Long): String =
    (1 to 12).map(k => s"w${i}_$k").zipAll(Commons, "", "")
      .flatMap { case (u, c) => Seq(u, c) }.filter(_.nonEmpty).mkString(" ")

  private def docsDf(rows: Seq[(Long, String)]) =
    rows.map { case (i, t) => (i, if (i % 2 == 0) "web" else "wiki", t) }
      .toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("sequential releases == union release; near-dup of a train doc lands in train; no released doc moves") {
    val baseIds = 1L to 20L
    val base = docsDf(baseIds.map(i => i -> docText(i)))
    val clusters0 = Dedup.dedupClustersOfDocs(spark, base, ordered = false).cache()
    val (fp0, sh0) = Dedup.buildCatalog(base)
    val splits0 = Curation
      .splitLeakSafeOf(base.select(col("doc_id"), col("source")), clusters0)
      .select(col("doc_id"), col("split")).as[(Long, String)].collect().toMap
    val trainDoc = baseIds.find(splits0(_) == "train").get

    // night 1: three novel docs + an EXACT copy of doc 3
    val batchA = docsDf(Seq(21L -> docText(21L), 22L -> docText(22L),
      23L -> docText(23L), 26L -> docText(3L)))
    val (_, fpA, shA, cluA) =
      Curation.incrementalRelease(base, batchA, fp0, sh0, clusters0)

    // night 2: two novel docs + a NEAR-DUP of the chosen train doc
    val batchB = docsDf(Seq(27L -> docText(27L), 28L -> docText(28L),
      31L -> (docText(trainDoc) + " extra chatter tail")))
    val released = base.unionByName(batchA)
    val (mB, _, _, cluB) =
      Curation.incrementalRelease(released, batchB, fpA, shA, cluA)

    // 1. rebuild-equivalence: the second nightly manifest == one batch
    //    release over the full union (clusters recomputed from scratch)
    val all = released.unionByName(batchB)
    val mU = Curation.releaseManifestOf(
      all, Dedup.dedupClustersOfDocs(spark, all, ordered = false))
    assert(mB.collect().map(_.toString).toSeq ==
           mU.collect().map(_.toString).toSeq,
      "sequential nightly releases must equal the one-batch union release")

    // 2 + 3. split invariants under growth
    val splitsB = Curation
      .splitLeakSafeOf(all.select(col("doc_id"), col("source")), cluB)
      .select(col("doc_id"), col("split")).as[(Long, String)].collect().toMap
    assert(splitsB(31L) == "train",
      s"near-dup of train doc $trainDoc must land in train, got ${splitsB(31L)}")
    baseIds.foreach { i =>
      assert(splitsB(i) == splits0(i),
        s"released doc $i moved ${splits0(i)} -> ${splitsB(i)} as the corpus grew")
    }

    // the exact copy inherited its match's cluster (no new cluster id)
    val cmap = cluB.select(col("doc_id"), col("cluster_id"))
      .as[(Long, Long)].collect().toMap
    assert(cmap(26L) == cmap(3L), "exact dup must inherit its match's cluster")
    assert(cmap(31L) == cmap(trainDoc), "near-dup must inherit its match's cluster")
    clusters0.unpersist()
  }

  test("nightly shard refresh: the batch extends each split's tree O(batch); released shards byte-stable") {
    import graft.operators.ShardExport
    // padded docs so each split spans MULTIPLE shards (padding tokens are
    // doc-unique — the alternation template's zero-shared-shingle rule holds)
    def padded(i: Long): String =
      docText(i) + " " + (1 to 200).map(k => s"p${i}_$k").mkString(" ")
    val base = docsDf((1L to 20L).map(i => i -> padded(i)))
    val clusters0 = Dedup.dedupClustersOfDocs(spark, base, ordered = false).cache()
    val (fp0, sh0) = Dedup.buildCatalog(base)
    val splits0 = Curation
      .splitLeakSafeOf(base.select(col("doc_id"), col("source")), clusters0)
      .select(col("doc_id"), col("split"))
    val out = java.nio.file.Files.createTempDirectory("nightly_shards").toString
    ShardExport.exportSplitShards(base.select(col("doc_id"), col("text")),
      splits0, out, blocksPerShard = 1L)
    def treeState(split: String): Map[String, Seq[(String, Long)]] = {
      val d = new java.io.File(s"$out/split=$split")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.startsWith("shard_id="))
        .map(s => s.getName ->
          s.listFiles().map(f => f.getName -> f.lastModified).toSeq.sorted).toMap
    }
    val splitNames = splits0.select(col("split")).distinct()
      .as[String].collect().sorted.toSeq
    val before = splitNames.map(s => s -> treeState(s)).toMap

    // one night: two novel docs classified, clusters extended, and the
    // split assignment for JUST the batch derived from the grown table
    val batch = docsDf(Seq(21L -> padded(21L), 22L -> padded(22L)))
    val (_, _, _, clu1) =
      Curation.incrementalRelease(base, batch, fp0, sh0, clusters0)
    val splits1 = Curation.splitLeakSafeOf(
        base.unionByName(batch).select(col("doc_id"), col("source")), clu1)
      .select(col("doc_id"), col("split"))
    val batchSplits = splits1
      .join(batch.select(col("doc_id")), Seq("doc_id"), "left_semi")
    ShardExport.refreshSplitShards(batch.select(col("doc_id"), col("text")),
      batchSplits, out, blocksPerShard = 1L)

    val batchBySplit = batchSplits.as[(Long, String)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    splitNames.foreach { s =>
      val now = treeState(s)
      if (!batchBySplit.contains(s))
        assert(now == before(s), s"split $s got no batch docs but its tree changed")
      else {
        val tail = before(s).keys.map(_.stripPrefix("shard_id=").toLong).max
        before(s).foreach { case (dirName, files) =>
          if (dirName.stripPrefix("shard_id=").toLong < tail)
            assert(now(dirName) == files,
              s"split $s full shard $dirName rewritten by the nightly refresh")
        }
      }
      // tree contents == this split's assignment over the union corpus
      val want = splits1.filter(col("split") === s).select(col("doc_id"))
        .as[Long].collect().toSet
      val got = spark.read.parquet(s"$out/split=$s")
        .select(col("doc_id")).as[Long].collect().toSet
      assert(got == want, s"split $s tree must hold exactly its assigned docs")
    }
    clusters0.unpersist()
  }

  test("releaseShardsRefresh: batch ships v2 semantics — gate, decontam vs stored probe index, redaction — O(batch)") {
    import graft.operators.ShardExport
    val dir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("release_refresh").toString
    Curation.releaseShards(spark, dir, out, blocksPerShard = 2L)
    val splitsDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("split="))
      .map(_.getName.stripPrefix("split=")).sorted.toSeq
    val oldDocs = splitsDirs.map { s =>
      s -> spark.read.parquet(s"$out/split=$s").select(col("doc_id")).as[Long].collect().toSet
    }.toMap

    // nightly batch: clean novel / contaminated / PII-bearing / gate-failing
    val filler = "ordinary prose about weather markets travel cooking gardens " +
      "and music that the quality gate should keep around for the evening"
    val batch = Seq(
      (8000001L, "web", s"a perfectly clean novel document with $filler"),
      (8000002L, "web", s"this page plainly copies ${Curation.WinnowSeedPassage} and then $filler"),
      (8000003L, "web", s"write to refresh-test@example.org or call +1 415 555 0199 about $filler"),
      (8000004L, "web", "x x x x x x")) // fails the quality gate
      .toDF("doc_id", "source", "text")
    val verdicts = batch.select(col("doc_id"),
      lit("novel").as("status"), lit(null).cast("long").as("match_id"))
    val clusters2 = Curation.extendClusters(
      Dedup.clustersCached(spark, dir), verdicts)
    Curation.releaseShardsRefresh(batch, clusters2, dir, out, blocksPerShard = 2L)

    val newDocs = splitsDirs.map { s =>
      s -> spark.read.parquet(s"$out/split=$s")
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    }.toMap
    val all = newDocs.values.flatten.toMap
    assert(all.contains(8000001L), "clean novel doc must ship")
    assert(!all.contains(8000002L), "contaminated doc must not ship (stored probe index)")
    assert(!all.contains(8000004L), "gate-failing doc must not ship")
    val pii = all(8000003L)
    assert(pii.contains("<EMAIL>") && pii.contains("<PHONE>") &&
      !pii.contains("refresh-test@") && !pii.contains("0199"),
      s"PII doc must ship REDACTED: $pii")
    // O(batch): released docs all still present, none duplicated, and
    // each batch doc landed in the split its (singleton) cluster hashes to
    splitsDirs.foreach { s =>
      assert(oldDocs(s).subsetOf(newDocs(s).keySet), s"split $s lost released docs")
    }
    val wantSplits = Curation.splitLeakSafeOf(
        batch.select(col("doc_id"), col("source")),
        batch.select(col("doc_id"), col("doc_id").as("cluster_id")))
      .select(col("doc_id"), col("split")).as[(Long, String)].collect().toMap
    Seq(8000001L, 8000003L).foreach { id =>
      assert(newDocs(wantSplits(id)).contains(id),
        s"batch doc $id must land in its cluster-hash split ${wantSplits(id)}")
    }
  }

  test("persisted nightly loop: on-disk catalog + cluster table, crash-retried night is idempotent") {
    val root = java.nio.file.Files.createTempDirectory("nightly").toString
    val (fpPath, shPath, cluPath) = (s"$root/fp", s"$root/sh", s"$root/clusters")
    val base = docsDf((1L to 12L).map(i => i -> docText(i)))
    // night 0: bootstrap — build and persist catalog + clusters
    val (fp0, sh0) = Dedup.buildCatalog(base)
    BatchCatalog.write(fp0, fpPath, 0L); BatchCatalog.write(sh0, shPath, 0L)
    Dedup.dedupClustersOfDocs(spark, base, ordered = false).write.parquet(cluPath)

    // night 1: read state from disk, classify, extend, persist
    def night(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val Seq(catFp, catSh) =
        Dedup.ShingleCatalog.read(spark, Seq(fpPath, shPath), excludeBatch = Some(id))
      val verdicts = Dedup.incrementalOf(catFp, catSh, batch).cache()
      val clu2 = Curation.extendClusters(spark.read.parquet(cluPath), verdicts)
      clu2.write.mode("overwrite").parquet(s"$root/clusters_next")
      Dedup.ShingleCatalog.append(Seq(fpPath, shPath), batch, verdicts, batchId = id)
      verdicts.unpersist()
      // atomic-ish swap for the spec (production: versioned table paths)
      val tmp = spark.read.parquet(s"$root/clusters_next").cache()
      tmp.count()
      tmp.write.mode("overwrite").parquet(cluPath)
      tmp.unpersist()
    }
    val batch1 = docsDf(Seq(21L -> docText(21L), 22L -> docText(3L))) // novel + exact dup of 3
    night(batch1, 1L)
    val after1 = spark.read.parquet(cluPath)
      .as[(Long, Long)].collect().toMap
    assert(after1(22L) == after1(3L), "persisted loop: dup inherits cluster")
    assert(after1.size == 14)

    // crash retry: the SAME night re-runs (excludeBatch hides its own
    // earlier append; clusters rebuild from the same pre-night state —
    // extendClusters only appends rows for batch docs, and re-extending
    // an already-extended table would duplicate them, so the retry
    // recomputes from the persisted pre-batch clusters)
    val preNight = spark.read.parquet(cluPath)
      .filter(!col("doc_id").isin(21L, 22L))
    preNight.write.mode("overwrite").parquet(s"$root/clusters_pre")
    spark.read.parquet(s"$root/clusters_pre").write.mode("overwrite").parquet(cluPath)
    night(batch1, 1L)
    val after1retry = spark.read.parquet(cluPath)
      .as[(Long, Long)].collect().toMap
    assert(after1retry == after1, "retried night must land the identical state")
    // catalog stayed idempotent too: classifying a copy of 21 still
    // exact-matches exactly one catalog doc (no duplicated fingerprints)
    val probe = docsDf(Seq(99L -> docText(21L)))
    val Seq(fpNow, shNow) = Dedup.ShingleCatalog.read(spark, Seq(fpPath, shPath))
    val v = Dedup.incrementalOf(fpNow, shNow, probe)
      .as[(Long, String, java.lang.Long)].collect()
    assert(v.head._2 == "exact_dup" && v.head._3 == 21L,
      s"catalog after retry must classify a copy of 21 as its dup: ${v.toSeq}")

    // compaction: rewrite the batch-grown catalog into one generation —
    // classification identical, directory count collapses
    val (cFp, cSh) = (s"$root/fp_compact", s"$root/sh_compact")
    Dedup.compactCatalog(spark, fpPath, shPath, cFp, cSh)
    val Seq(fpCompact, shCompact) = Dedup.ShingleCatalog.read(spark, Seq(cFp, cSh))
    val vc = Dedup.incrementalOf(fpCompact, shCompact, probe)
      .as[(Long, String, java.lang.Long)].collect()
    assert(vc.toSeq == v.toSeq, "compacted catalog must classify identically")
    val gens = new java.io.File(cFp).listFiles().filter(_.isDirectory).map(_.getName)
    assert(gens.toSeq == Seq("base"), s"compacted root must hold one generation: ${gens.toSeq}")
  }

  test("releaseV2FrameCached keys on the CODE version: a bump re-keys, a stale artifact cannot serve") {
    import graft.operators.Layout
    val dir = "/root/testdata/sf0.001"
    Curation.releaseV2FrameCached(spark, dir).limit(1).collect() // materialize current version
    val p  = Curation.releaseV2CachePath(spark, dir)
    val p2 = Curation.releaseV2CachePath(spark, dir, Curation.ReleaseV2CodeVersion + 1)
    assert(p != p2, "the code version must be part of the artifact identity")
    assert(Layout.resolveGeneration(spark, p).isDefined,
      "the current version's artifact is materialized and serves warm")
    assert(Layout.resolveGeneration(spark, p2).isEmpty,
      "a bumped version must MISS the cache (rebuild under the new semantics), " +
        "never serve the stale artifact")
  }
}
