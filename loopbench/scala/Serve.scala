package graft.loopbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{TextFns, VectorFns}
import graft.operators.{Layout, Retrieval, Similarity}
import graft.streaming.EventStream
import scala.jdk.CollectionConverters._

/** `serve`: streaming serve micro-batches against stores set-up builds
  * once (the IVFPQ index, the bucketed vector store, the BM25 postings
  * store). Ops alternate `EventStream.annServeBatch` with refine on and
  * `EventStream.hybridServeBatch` with short text queries whose terms
  * all hash into half of the postings buckets, so `bm25ServeStored`
  * takes its bucket-pruned branch. Each batch mixes corpus clones
  * (foreign ids, a corpus member's vector and rare term) with foreign
  * vectors and common terms. */
final class Serve(seed: Long, work: File) extends Workload {
  import Serve._

  val selfLayer = "streaming"
  /** The store builds are the longest part of a run, so a run builds
    * once: the JVM's first build, as a freshly started server pays it. */
  val coldSetup = false
  val setupReps = 1
  val warmupMinPairs = 1
  val warmupCapSeconds = 10.0
  val timedMinPairs = 2
  private val corpusDir = new File(work, "serve_corpus").getPath
  private val outRoot = new File(work, "serve_out")
  private var vecs: Array[Array[Float]] = Array.empty
  private var cloneable: IndexedSeq[(Int, String)] = IndexedSeq.empty // (doc, rare term in a kept bucket)
  private var commonTerms: IndexedSeq[String] = IndexedSeq.empty // common terms in kept buckets
  private var buckets = 0
  private var index = ""

  def generate(spark: SparkSession): String = {
    val rnd = new scala.util.Random(seed)
    val vocab = Gen.vocabulary(rnd, 300)
    val centers = Array.fill(Labels, Dim)(rnd.nextGaussian().toFloat)
    val labels = Array.fill(Docs)(rnd.nextInt(Labels))
    vecs = labels.map(c => Array.tabulate(Dim)(d => centers(c)(d) + 0.5f * rnd.nextGaussian().toFloat))
    val rare = Array.tabulate(Docs, RarePerDoc)((i, r) => s"zq${i}x$r")
    val docs = (0 until Docs).map { i =>
      val text = rnd.shuffle((Gen.words(rnd, vocab, 30 + rnd.nextInt(20)).split(" ") ++ rare(i)).toSeq)
        .mkString(" ")
      Row(i.toLong, text, "en", "src0", text.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 2), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    val embRows = (0 until Docs).map(i => Row(i.toLong, vecs(i).toSeq, labels(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(embRows, 2), StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
      .write.mode("overwrite").parquet(s"$corpusDir/embeddings.parquet")

    // keep query terms inside the lower half of the postings buckets, so
    // a batch's vocabulary covers at most half of them (the pruned branch)
    buckets = Retrieval.postingsBuckets(spark, corpusDir)
    import spark.implicits._
    val terms = vocab ++ rare.flatten.toSeq
    val kept = terms.toDF("term")
      .select(col("term"), pmod(hash(col("term")), lit(buckets)).as("b"))
      .filter(col("b") < buckets / 2).as[(String, Int)].collect().map(_._1).toSet
    cloneable = (0 until Docs).flatMap(i => rare(i).find(kept).map(t => (i, t)))
    commonTerms = vocab.filter(kept)
    require(cloneable.size > Docs / 2 && commonTerms.size > 20, "too few query terms in the kept buckets")
    Gen.digest(docs.map(_.getString(1)) ++ embRows.map(r => s"${r.get(1)} ${r.getInt(2)}"))
  }

  def setup(spark: SparkSession, rep: Int, t: Tracer): Unit = {
    val root = Layout.cacheRoot(spark)
    index = t("layout.ivfpq_build") {
      Similarity.ivfPqWriteIndex(spark, corpusDir, s"$root/ivfpq_index/loopbench")
    }
    t("layout.vec_store_build") { Similarity.vecStore(spark, corpusDir) }
    t("layout.bm25_store_build") { Retrieval.bm25Store(spark, corpusDir) }
  }

  def op(spark: SparkSession, warm: Boolean, j: Int, t: Tracer): OpOut = {
    val rnd = new scala.util.Random(seed * 7919 + (if (warm) 1000000 + j else j))
    val qid0 = (if (warm) 20000000L else 10000000L) + j * 100L
    val clones = rnd.shuffle(cloneable).take(Clones)
    val queries = (0 until Batch).map { q =>
      if (q < Clones) (qid0 + q, vecs(clones(q)._1), clones(q)._2, Some(clones(q)._1.toLong))
      else (qid0 + q, Array.fill(Dim)(rnd.nextGaussian().toFloat),
        Seq.fill(2)(commonTerms(rnd.nextInt(commonTerms.size))).mkString(" "), None)
    }
    val ann = j % 2 == 0
    val batch = if (ann)
      spark.createDataFrame(queries.map(q => Row(q._1, q._2.toSeq)).asJava, StructType(Seq(
        StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    else
      spark.createDataFrame(queries.map(q => Row(q._1, q._3, q._2.toSeq)).asJava, StructType(Seq(
        StructField("qid", LongType), StructField("text", StringType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val batchId = if (warm) 100000L + j else j.toLong
    val out = new File(outRoot, "op").getPath

    val cpu0 = Cpu.mark()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    if (ann) EventStream.annServeBatch(batch, batchId, index, out, Some(corpusDir))
    else EventStream.hybridServeBatch(batch, batchId, corpusDir, out, K)
    val seconds = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val cpuS = Cpu.since(cpu0)
    val bytes = Gen.dataBytes(new File(s"$out/batch-$batchId"))

    val got = rowsOf(spark, s"$out/batch-$batchId", ann)
    val byQ = got.groupBy(_._1)
    queries.foreach { case (qid, _, _, src) =>
      val list = byQ.getOrElse(qid, Seq.empty).sortBy(_._2)
      require(list.size == K, s"query $qid got ${list.size} rows, want $K")
      src.foreach { d =>
        if (ann) require(list.head._3 == d, s"clone query $qid ranked ${list.head._3} first, want $d")
        else require(list.exists(_._3 == d), s"clone query $qid fused list misses $d")
      }
    }
    if (!ann) {
      val qterms = batch.select(col("qid"), explode(TextFns.tokens(col("text"))).as("term")).distinct()
      require(Retrieval.vocabBucketCoverage(qterms, buckets) * 2 <= buckets,
        "hybrid batch vocabulary would take the flat postings view")
    }
    if (t.enabled && !warm) {
      val again = new File(outRoot, "replay").getPath
      if (ann) replayAnn(spark, batch, again, t) else replayHybrid(spark, batch, again, t)
      require(rowsOf(spark, again, ann).sorted == got.sorted,
        "replayed layer calls answered differently from the batch")
    }
    OpOut(seconds, cpuS, Batch, bytes, startMs, endMs)
  }

  /** (qid, rank, id) rows of a served batch. */
  private def rowsOf(spark: SparkSession, dir: String, ann: Boolean): Seq[(Long, Int, Long)] = {
    val df = spark.read.parquet(dir)
    val sel = if (ann) df.select(col("qid"), col("rn"), col("nid")) else df.select(col("qid"), col("rn"), col("id"))
    sel.collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
  }

  private def normalized(batch: DataFrame, id: String): DataFrame =
    batch.select(col(id).as("qid"), VectorFns.asDouble(col("embedding")).as("raw"))
      .withColumn("__n", VectorFns.norm(col("raw")))
      .select(col("qid"), VectorFns.normalize(col("raw"), col("__n")).as("qvec"))

  /** `annServeBatch`'s layer calls, each under a span. */
  private def replayAnn(spark: SparkSession, batch: DataFrame, out: String, t: Tracer): Unit = {
    val qs = normalized(batch, "vec_id")
    val (codes, books, cells, refine, flat) = t("layout.store_open") {
      (Similarity.ivfPqReadCodes(spark, index), spark.read.parquet(s"$index/books"),
        spark.read.parquet(s"$index/cells"), Similarity.vecStore(spark, corpusDir),
        (Similarity.vecStoreFlatView(spark, corpusDir), Similarity.vecBuckets(spark, corpusDir)))
    }
    val served = t("similarity.ivfpq") {
      Similarity.ivfPqOf(codes, books, cells, qs, refine = Some(refine), refineFlat = Some(flat))
    }
    t("sinks.parquet_write") { served.write.mode("overwrite").parquet(out) }
    served.unpersist()
  }

  /** `hybridServeBatch`'s layer calls, each under a span. */
  private def replayHybrid(spark: SparkSession, batch: DataFrame, out: String, t: Tracer): Unit = {
    val qterms = batch.select(col("qid"), explode(TextFns.tokens(col("text"))).as("term")).distinct()
    val textList = t("retrieval.bm25") {
      Retrieval.bm25ServeStored(spark, corpusDir, qterms, Retrieval.FuseK)
        .select(col("qid"), col("doc_id").as("id"), col("rn"))
    }
    val corpusVecs = t("sources.read") { Similarity.emb(spark, corpusDir) }
    val vecList = t("similarity.cosine") {
      Similarity.cosineRankedOf(normalized(batch, "qid"), corpusVecs, Retrieval.FuseK)
        .select(col("qid"), col("nid").as("id"), col("rn"))
    }
    val fused = t("retrieval.rrf") { Retrieval.rrfFuseOf(Seq(textList, vecList), K) }
    t("sinks.parquet_write") { fused.write.mode("overwrite").parquet(out) }
  }
}

object Serve {
  /** The reference's default extract size (`num_papers`=1000): the
    * corpus one default job yields. */
  val Docs = 1000
  /** The dimension of the sf0.1 `embeddings.parquet`. */
  val Dim = 64
  val Labels = 12
  val RarePerDoc = 3
  /** The batch size of the 8-query `annServeBatch` whose Spark job and
    * task counts the noise measurements recorded. */
  val Batch = 8
  val Clones = 4
  val K = 5
}
