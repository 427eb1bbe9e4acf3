package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{BatchCatalog, Curation, Dedup, ShardExport}

/** Round-17 stress (VERDICT r16 #5): the NIGHTLY LOOP end-to-end, at a
  * corpus size where O(corpus) work per night would be visible on the
  * clock. The piecewise specs prove each stage (catalog merge, cluster
  * extension, releaseShardsRefresh) correct and O(batch) in isolation;
  * this composes them the way a production deployment runs them —
  * bootstrap release, then three sequential 1 000-doc nights against
  * PERSISTED state (parquet catalog + cluster table, warm probe index,
  * warm release frame) — and gates the composition:
  *
  *  - released shards BYTE-STABLE: across all three nights, no full
  *    pre-existing shard file of any split is ever rewritten (mtime
  *    check over every split tree; only each touched split's tail +
  *    its new shards may change) — a dataloader's resume bookmarks
  *    survive every night;
  *  - manifest/tree CONSISTENCY after the last night: per split, the
  *    stored `_shard_manifest` doc and token totals equal a recount of
  *    the actual tree, and the union tree holds exactly
  *    bootstrap-kept ∪ every night's batch (each batch doc exactly
  *    once — the crash-retry guard's steady-state invariant);
  *  - wall O(BATCH) per night: each 1 000-doc night completes in a
  *    small fraction of the 250 000-doc bootstrap (hard gate 1/3; the
  *    measured ratio prints — nights re-read state, classify the batch
  *    against the catalog, extend clusters, and extend the shard
  *    trees, never re-running corpus-sized work).
  *
  * Corpus construction: ~60-token docs, 1/3 everyday stopwords (clears
  * the quality gate's stop-ratio and token-length bands), 2/3
  * hash-derived unique words (no cross-doc 8-token passage → the
  * winnow decontamination is exercised but never fires; pairwise
  * shingle overlap ~0 → the LSH cluster table stays singleton-dense,
  * the common crawl shape).
  *
  * Run: sbt "runMain graft.tools.ScaleNightly"
  */
object ScaleNightly {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    import spark.implicits._
    import graft.operators.Layout

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-52s $s%8.2f s")
      (r, s)
    }

    // ---- synthetic 250k-doc corpus, written as a corpus dir ----------
    val stops = typedLit(Seq("the", "and", "of", "to", "in", "is", "that"))
    def mkDocs(ids: org.apache.spark.sql.Dataset[java.lang.Long]): DataFrame =
      ids.select(col("id").as("doc_id"),
          lit("en").as("lang"),
          when(col("id") % 2 === 0, "web").otherwise("wiki").as("source"),
          concat_ws(" ", flatten(transform(sequence(lit(0), lit(19)), k =>
            array(
              element_at(stops, pmod(k, lit(7)) + 1),
              concat(lit("w"), pmod(hash(col("id") * 40 + k * 2), lit(99991))),
              concat(lit("w"), pmod(hash(col("id") * 40 + k * 2 + 1), lit(99991)))))))
            .as("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    val nDocs = 250000L
    val root = java.nio.file.Files.createTempDirectory("scale_nightly").toString
    // isolate THIS corpus's store caches so the round-18 GC leg below
    // measures exactly the loop's own generations
    spark.conf.set("spark.graft.cache.root", s"$root/cache")
    val dir = s"$root/corpus"
    mkDocs(spark.range(nDocs)).write.parquet(s"$dir/documents.parquet")
    val corpus = spark.read.parquet(s"$dir/documents.parquet")

    // ---- bootstrap: catalog + cluster table + full v2 release --------
    val (fpPath, shPath, cluPath) = (s"$root/fp", s"$root/sh", s"$root/clusters")
    val out = s"$root/release"
    val (_, tBoot) = time(s"bootstrap: catalog + clusters + v2 release of $nDocs docs") {
      val (fp0, sh0) = Dedup.buildCatalog(corpus.select(col("doc_id"), col("text")))
      BatchCatalog.write(fp0, fpPath, 0L); BatchCatalog.write(sh0, shPath, 0L)
      // the SAME cluster table the release chain materializes — persist
      // it as the nightly loop's extension base
      Dedup.clustersCached(spark, dir).write.parquet(cluPath)
      Curation.releaseShards(spark, dir, out, blocksPerShard = 1L)
    }

    def treeState(): Map[String, Map[String, Seq[(String, Long)]]] =
      new java.io.File(out).listFiles().filter(_.getName.startsWith("split="))
        .map(sp => sp.getName -> sp.listFiles()
          .filter(_.getName.startsWith("shard_id="))
          .map(d => d.getName ->
            d.listFiles().map(f => f.getName -> f.lastModified).toSeq.sorted)
          .toMap).toMap
    def treeDocs(): Set[Long] =
      new java.io.File(out).listFiles().filter(_.getName.startsWith("split="))
        .flatMap(sp => spark.read.parquet(sp.getPath)
          .select(col("doc_id")).as[Long].collect()).toSet

    val bootState = treeState()
    val bootDocs = treeDocs()
    val nShards0 = bootState.values.map(_.size).sum
    println(s"[scale] bootstrap: ${bootState.size} splits, $nShards0 shards, " +
      s"${bootDocs.size} released docs")
    require(nShards0 >= 2500, s"want a real multi-shard release, got $nShards0")

    // ---- three sequential nights over persisted state -----------------
    var prevState = bootState
    var expectDocs = bootDocs
    var worstNight = 0.0
    (1 to 3).foreach { n =>
      val batch = mkDocs(spark.range(20000000L + n * 1000L, 20000000L + (n + 1) * 1000L))
        .select(col("doc_id"), col("source"), col("text"))
      val (_, tNight) = time(s"night $n: classify + extend + refresh (1000 docs)") {
        val Seq(catFp, catSh) =
          Dedup.ShingleCatalog.read(spark, Seq(fpPath, shPath), Some(n.toLong))
        val (verdicts, _) = time(s"  night $n: classify vs catalog") {
          val v = Dedup.incrementalOf(catFp, catSh,
            batch.select(col("doc_id"), col("text"))).cache()
          v.count(); v
        }
        val (clusters2, _) = time(s"  night $n: extend clusters") {
          val c = Curation.extendClusters(spark.read.parquet(cluPath), verdicts)
            .cache()
          c.count(); c
        }
        time(s"  night $n: append catalog") {
          Dedup.ShingleCatalog.append(Seq(fpPath, shPath),
            batch.select(col("doc_id"), col("text")), verdicts, n.toLong)
        }
        time(s"  night $n: releaseShardsRefresh") {
          Curation.releaseShardsRefresh(batch, clusters2, dir, out, blocksPerShard = 1L)
        }
        time(s"  night $n: persist clusters") {
          clusters2.write.mode("overwrite").parquet(s"$root/clusters_next")
          spark.read.parquet(s"$root/clusters_next").write
            .mode("overwrite").parquet(cluPath)
        }
        verdicts.unpersist(); clusters2.unpersist()
      }
      worstNight = math.max(worstNight, tNight)
      // byte-stability: within each split, every shard dir that existed
      // before the night and is NOT its tail kept its exact files
      val nowState = treeState()
      prevState.foreach { case (split, shards) =>
        if (shards.nonEmpty) {
          val tail = shards.keys.map(_.stripPrefix("shard_id=").toLong).max
          val rewritten = shards.keys.filter { k =>
            k.stripPrefix("shard_id=").toLong < tail &&
              nowState(split).get(k) != Some(shards(k))
          }
          require(rewritten.isEmpty,
            s"night $n rewrote full shards of $split: ${rewritten.toSeq.sorted}")
        }
      }
      prevState = nowState
      expectDocs = expectDocs ++ (20000000L + n * 1000L until 20000000L + (n + 1) * 1000L)
    }

    // ---- final consistency: manifest == tree, tree == expected union --
    val finalDocs = treeDocs()
    require(finalDocs == expectDocs,
      s"released union drifted: ${finalDocs.size} docs vs expected ${expectDocs.size} " +
        s"(missing ${(expectDocs -- finalDocs).take(5)}, extra ${(finalDocs -- expectDocs).take(5)})")
    new java.io.File(out).listFiles().filter(_.getName.startsWith("split=")).foreach { sp =>
      val tree = spark.read.parquet(sp.getPath).cache()
      val man = spark.read.parquet(s"${sp.getPath}/_shard_manifest")
      val wantDocs = tree.count()
      val wantToks = tree
        .select(size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n"))
        .agg(sum(col("n"))).as[Long].head()
      val gotDocs = man.agg(sum(col("n_docs"))).as[Long].head()
      val gotToks = man.agg(sum(col("n_tokens"))).as[Long].head()
      require(gotDocs == wantDocs && gotToks == wantToks,
        s"${sp.getName}: manifest ($gotDocs docs/$gotToks toks) != tree ($wantDocs/$wantToks)")
      tree.unpersist()
    }
    require(worstNight < tBoot / 3.0,
      f"a night took $worstNight%.1f s vs bootstrap $tBoot%.1f s — not O(batch)")

    // ---- round-18: GC composed into the loop (VERDICT r17 #6) ---------
    // The loop's stores live under $root/cache. (1) GC with everything
    // live: nothing may be deleted. (2) Regen the corpus (same bytes,
    // new stateTag) and rebuild its cached stores — the old generations
    // are now stranded; GC must reclaim exactly them and leave the live
    // ones byte-untouched. (3) A fourth night after GC runs WARM.
    val cacheFs = new org.apache.hadoop.fs.Path(s"$root/cache")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def liveGens(): Map[String, (String, Long)] =
      Layout.StoreFamilies.flatMap { fam =>
        val famP = new org.apache.hadoop.fs.Path(s"$root/cache/$fam")
        val keys = try cacheFs.listStatus(famP).toSeq.filter(_.isDirectory)
                   catch { case _: java.io.FileNotFoundException => Seq.empty }
        keys.flatMap(k => Layout.resolveGeneration(spark, k.getPath.toString)
          .map(g => s"$fam/${k.getPath.getName}" ->
            (g, cacheFs.getFileStatus(
              new org.apache.hadoop.fs.Path(g, "_SUCCESS")).getModificationTime)))
      }.toMap
    val live0 = liveGens()
    require(live0.nonEmpty, "the loop must have materialized store caches")
    val repLive = Layout.gcStores(spark, maxAgeMs = 0L, keepNewest = 1)
    require(!repLive.exists(_.action == "deleted"),
      s"GC with everything live must delete nothing: $repLive")
    require(liveGens() == live0, "live generations must be byte-untouched by a no-op GC")
    println(s"[scale] gc pass 1 (all live): ${repLive.size} entries, 0 deleted")

    // corpus regen: identical content, new state tag → new store keys
    Thread.sleep(1100) // mtime granularity
    corpus.write.parquet(s"$root/corpus_copy")
    spark.read.parquet(s"$root/corpus_copy").write
      .mode("overwrite").parquet(s"$dir/documents.parquet")
    Layout.invalidateStateTag(s"$dir/documents.parquet")
    val (_, tRebuild) = time("regen: rebuild probe index + release frame (cold, new keys)") {
      Curation.winnowProbeFpCached(spark, dir).count()
      Curation.releaseV2FrameCached(spark, dir).count()
    }
    val live1 = liveGens()
    val repGc = Layout.gcStores(spark, maxAgeMs = 0L, keepNewest = 1)
    val deleted = repGc.filter(_.action == "deleted")
    require(deleted.nonEmpty, s"regen must strand generations for GC to reclaim: $repGc")
    // every NEW (regen) generation survived byte-untouched
    val live2 = liveGens()
    (live1.keySet -- live0.keySet).foreach { k =>
      require(live2.get(k) == live1.get(k), s"GC touched the live regen store $k") }
    println(s"[scale] gc pass 2 (post-regen): ${deleted.size} stranded generations reclaimed, " +
      s"${live2.size} live kept")

    // fourth night over the regenerated corpus: stores serve WARM
    val n4 = 4
    val batch4 = mkDocs(spark.range(20000000L + n4 * 1000L, 20000000L + (n4 + 1) * 1000L))
      .select(col("doc_id"), col("source"), col("text"))
    val preNight4 = liveGens()
    val (_, tNight4) = time(s"night $n4 after GC: classify + extend + refresh (1000 docs)") {
      val Seq(catFp, catSh) =
        Dedup.ShingleCatalog.read(spark, Seq(fpPath, shPath), Some(n4.toLong))
      val verdicts = Dedup.incrementalOf(catFp, catSh,
        batch4.select(col("doc_id"), col("text"))).cache()
      val clusters2 = Curation.extendClusters(spark.read.parquet(cluPath), verdicts).cache()
      Dedup.ShingleCatalog.append(Seq(fpPath, shPath),
        batch4.select(col("doc_id"), col("text")), verdicts, n4.toLong)
      Curation.releaseShardsRefresh(batch4, clusters2, dir, out, blocksPerShard = 1L)
      verdicts.unpersist(); clusters2.unpersist()
    }
    require(liveGens() == preNight4,
      "night 4 must serve every store WARM — no store generation may change after GC")
    require(tNight4 < tBoot / 3.0,
      f"post-GC night took $tNight4%.1f s vs bootstrap $tBoot%.1f s — warm serves were affected")
    println(f"""[scale] {"metric":"nightly","bootstrap":$tBoot%.2f,"worst_night":$worstNight%.2f,"ratio":${tBoot / worstNight}%.1f,"shards":$nShards0,"docs":${finalDocs.size},"gc_reclaimed":${deleted.size},"night4_post_gc":$tNight4%.2f}""")
    spark.stop()
  }
}
