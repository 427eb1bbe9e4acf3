package graft.loopbench

import java.io.File
import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.RestServer
import graft.functions.TextFns
import graft.operators.{ColumnDetect, Sampling}
import graft.sinks.MarkdownFileSink

/** `extract`: REST parquet extract jobs, the reference's only workload.
  * Each op is `POST /api/extract/parquet`, then `GET /api/jobs/{id}`
  * until the job leaves "running", then `GET /api/files`. Ops alternate
  * a small sample (below Sampling's 5000-row cut: top-N path, bound by
  * orchestration) and a large one (count-and-prefilter path, bound by
  * the file sink). */
final class Extract(seed: Long, work: File) extends Workload {
  import Extract._

  val selfLayer = "api"
  /** Set-up here is a session start and a server start, well under a
    * second, so a cold one and several timed ones are cheap. */
  val coldSetup = true
  val setupReps = 7
  val warmupMinPairs = 2
  val warmupCapSeconds = 15.0
  val timedMinPairs = 2
  private val corpus = new File(work, "extract_corpus.parquet").getPath
  private val outRoot = new File(work, "extract_out")
  private var ids: Array[Long] = Array.empty
  private var titles: Array[String] = Array.empty
  private var server: HttpServer = _
  private var base = ""
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def generate(spark: SparkSession): String = {
    val rnd = new scala.util.Random(seed)
    val vocab = Gen.vocabulary(rnd, 800)
    val order = rnd.shuffle((0 until CorpusDocs).toVector)
    val rows = order.map { i =>
      val id = i.toLong * 7 + 3
      val title = Gen.words(rnd, vocab, 3 + rnd.nextInt(4)) + s" $id"
      val content = Gen.words(rnd, vocab, 60 + rnd.nextInt(30))
      // metadata: a null column, a string that is short, long (>= 1000
      // chars, left out of the frontmatter) or null, and a binary column
      val notes = rnd.nextInt(3) match {
        case 0 => Gen.words(rnd, vocab, 8)
        case 1 => Gen.words(rnd, vocab, 180)
        case _ => null
      }
      val blob = Array.fill[Byte](32)(rnd.nextInt(256).toByte)
      Row(id, title, content, null, notes, 1990 + rnd.nextInt(35), blob)
    }
    ids = rows.map(_.getLong(0)).toArray
    titles = rows.map(_.getString(1)).toArray
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("title", StringType),
      StructField("content", StringType), StructField("abstract", StringType),
      StructField("notes", StringType), StructField("year", IntegerType),
      StructField("blob", BinaryType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(corpus)
    Gen.digest(rows.map(r => Seq(r.getLong(0), r.getString(1), r.getString(2), r.getString(4),
      r.getInt(5), r.getAs[Array[Byte]](6).mkString(",")).mkString("\u0001")))
  }

  def setup(spark: SparkSession, rep: Int, t: Tracer): Unit = {
    if (server != null) server.stop(0)
    server = RestServer.start(spark, 0, cleanupRoots = Seq(work))
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val health = get("/api/health")
    require(health.contains("\"ok\""), s"health check answered $health")
  }

  def op(spark: SparkSession, warm: Boolean, j: Int, t: Tracer): OpOut = {
    val n = if (j % 2 == 0) SmallSample else LargeSample
    // two sample seeds per kind, so warm-up sees every generated plan
    val jobSeed = ((seed * 1000003L + 10 * (j % 2) + (j / 2) % 2) % 1000000007L).toInt.abs
    val out = new File(outRoot, s"${if (warm) "w" else "t"}$j")
    val cpu0 = Cpu.mark()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val submitted = t("api.submit") {
      post(s"/api/extract/parquet?path=${enc(corpus)}&output_dir=${enc(out.getPath)}" +
        s"&num_papers=$n&seed=$jobSeed")
    }
    val id = field(submitted, "job_id")
    var job = ""
    t("api.job_wait") {
      job = get(s"/api/jobs/$id")
      while (field(job, "status") == "running") {
        Thread.sleep(PollMs)
        job = get(s"/api/jobs/$id")
      }
    }
    val listing = t("api.files_list") { get(s"/api/files?output_dir=${enc(out.getPath)}") }
    val seconds = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    // the program's threads only: not this client's polling
    val cpuS = Cpu.since(cpu0, Cpu.named("HttpClient") + Thread.currentThread.getId)
    // delete before the next op: files removed within the kernel's
    // writeback delay never reach the disk, so ops do not queue behind
    // earlier ops' dirty pages
    try {
      require(field(job, "status") == "completed", s"job $id ended as $job")
      require(field(job, "file_count") == n.toString, s"manifest count ${field(job, "file_count")} != $n")
      val want = expectedNames(jobSeed, n)
      val got = files(listing)
      require(got == want, s"filename set differs: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
      val sizes = out.listFiles().map(_.length())
      require(sizes.forall(_ > 0), "an extracted file is empty")
      if (t.enabled && !warm) {
        val again = new File(outRoot, s"replay$j")
        replay(spark, n, jobSeed, again.getPath, t)
        require(again.list().sorted.toSeq == want, "replayed layer calls wrote other files than the job")
        require(again.listFiles().map(_.length()).sum == sizes.sum,
          "replayed layer calls wrote other bytes than the job")
      }
      OpOut(seconds, cpuS, n, sizes.sum, startMs, endMs)
    } finally Gen.delete(outRoot)
  }

  /** The job's layer calls as `Extractor.extractPapers` makes them, each
    * under a span. Spark is lazy: the scan and the sample run inside the
    * sink's span; the read, detect and sample spans time planning and
    * the eager parts (schema, detection probe, the large path's counts). */
  private def replay(spark: SparkSession, n: Int, jobSeed: Int, out: String, t: Tracer): Unit = {
    val df = t("sources.read") { spark.read.parquet(corpus) }
    val detected = t("column_detect") { ColumnDetect.detect(df) }
    val contentCol = detected.content.get
    val sampled = t("sampling") { Sampling.sampleN(df, col("id"), n, jobSeed) }
    val meta: Seq[Column] = df.schema.fields.toSeq
      .filter(f => f.name != contentCol && f.dataType != BinaryType)
      .map { f =>
        val v = col(f.name)
        val keep = if (f.dataType == StringType) v.isNotNull && length(v) < 1000 else v.isNotNull
        when(keep, concat(lit("\n" + f.name + ": "), v.cast("string"))).otherwise(lit(""))
      }
    val markdown = concat((lit("---") +: meta) :+ lit("\n---\n") :+ col(contentCol): _*)
    val filename = concat(format_string("%04d", col("sample_rank")), lit("_"),
      TextFns.sanitizeFilename(col(detected.title.get).cast("string")), lit(".md"))
    t("sinks.markdown_write") {
      MarkdownFileSink.write(
        sampled.select(filename.as("filename"), markdown.as("content"))
          .repartition(math.max(spark.sparkContext.defaultParallelism, 4)), out)
    }
    t("sinks.manifest") { MarkdownFileSink.manifest(spark, out).count() }
  }

  /** The sample the job must write, ranked by md5(seed ":" id) as the
    * benchmark computes it, named `%04d_<title>.md`. Ops cycle over few
    * sample seeds, so each answer is computed once. */
  private def expectedNames(jobSeed: Int, n: Int): Seq[String] =
    expected.getOrElseUpdate((jobSeed, n), {
      val md = java.security.MessageDigest.getInstance("MD5")
      ids.indices
        .map(i => (hex.formatHex(md.digest(s"$jobSeed:${ids(i)}".getBytes(UTF_8))), i))
        .sortBy { case (h, i) => (h, ids(i)) }
        .take(n).zipWithIndex
        .map { case ((_, i), r) => f"${r + 1}%04d_${titles(i).replace(' ', '_')}.md" }
        .sorted
    })
  private val expected = scala.collection.mutable.Map[(Int, Int), Seq[String]]()
  private val hex = java.util.HexFormat.of()

  private def get(path: String): String = send(HttpRequest.newBuilder(URI.create(base + path)).GET())
  private def post(path: String): String =
    send(HttpRequest.newBuilder(URI.create(base + path)).POST(HttpRequest.BodyPublishers.noBody()))
  private def send(b: HttpRequest.Builder): String = {
    val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
    require(r.statusCode == 200, s"HTTP ${r.statusCode}: ${r.body}")
    r.body
  }
}

object Extract {
  /** The sample size of the sf0.1 extract runs that measured this
    * benchmark's noise sources; below `Sampling.sampleN`'s 5000-row cut,
    * so it takes the top-N path. */
  val SmallSample = 500
  /** The smallest sample above the cut: the count-and-prefilter path at
    * the least file-sink cost. */
  val LargeSample = 5001
  /** Ten large samples, so the prefilter keeps about 15 % of the rows. */
  val CorpusDocs = 10 * LargeSample
  /** REST job-status poll interval; the record states it as a share of
    * the small-job median (kept under 1%). */
  val PollMs = 2L

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  private[loopbench] def field(json: String, name: String): String = {
    val m = ("\"" + name + "\":(\"([^\"]*)\"|([0-9]+))").r.findFirstMatchIn(json)
    m.map(x => Option(x.group(2)).getOrElse(x.group(3))).getOrElse("")
  }

  private def files(listing: String): Seq[String] =
    "\"files\":\\[([^\\]]*)\\]".r.findFirstMatchIn(listing).map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).sorted.toSeq
}

/** Seeded input generation shared by the workloads. */
object Gen {
  /** `n` distinct pronounceable lowercase words. */
  def vocabulary(rnd: scala.util.Random, n: Int): IndexedSeq[String] = {
    val cons = "bcdfghklmnprstvz"
    val vows = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val syl = 2 + rnd.nextInt(2)
      seen += (0 until syl).map(_ => s"${cons(rnd.nextInt(cons.length))}${vows(rnd.nextInt(vows.length))}").mkString
    }
    seen.toIndexedSeq
  }

  def words(rnd: scala.util.Random, vocab: IndexedSeq[String], n: Int): String =
    Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Bytes of the data files under `dir` (checksum and marker files left out). */
  def dataBytes(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) dataBytes(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    }.sum
}
