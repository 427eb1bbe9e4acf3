package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import graft.sources.WikirSource
import java.io.File
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** HTTP surface mirroring the reference's Flask API (api.py:27-191):
  *
  *   GET  /api/health                       → {"status":"ok"}
  *   GET  /api/jobs                         → all jobs keyed by id
  *   GET  /api/jobs/{id}                    → one job, 404 if unknown
  *   POST /api/extract/parquet?path=&output_dir=&num_papers=&seed=
  *   POST /api/extract/cisi?path=&output_dir=
  *   POST /api/extract/wikir?path=&output_dir=&limit=   (api.py:385-466)
  *   POST /api/analyze/wikir?path=&limit=               (api.py:581-645;
  *        stats land in the job record's `result`, like the reference)
  *   GET  /api/files?output_dir=            → directory listing
  *   GET  /api/files/{name}?output_dir=     → file download
  *   POST /api/cleanup?output_dir=&suffix=&confirm=  → cleanup_wikir.py:9
  *        parity. Guard rails (the reference's cleanup is an interactive
  *        CLI with a y/N prompt and a hardcoded '.pdf' filter; an HTTP
  *        endpoint has neither, so): suffix defaults to ".pdf", an empty
  *        suffix (= delete everything) requires confirm=true, and
  *        output_dir must live under one of the server's `cleanupRoots`.
  *
  * Built on the JDK's HttpServer — zero extra dependencies, which is the
  * point: the engine is a library and the HTTP layer is a thin adapter.
  * One deliberate difference from the reference: extracts take a storage
  * `path` instead of a multipart upload (api.py:43-59). On a cluster the
  * data is already in distributed storage; shipping 100 TB through a
  * POST body is not a thing. Extraction runs async on a background
  * thread ([[Jobs.submitAsync]]) and the response returns a job id with
  * status "running" immediately, exactly like api.py:78-103.
  */
object RestServer {

  /** Directories cleanup may delete under when the caller doesn't
    * configure any: the working directory (where default output_dirs like
    * `extracted_papers` land) and the system temp dir. */
  def defaultCleanupRoots: Seq[File] = Seq(
    new File(".").getCanonicalFile,
    new File(System.getProperty("java.io.tmpdir")).getCanonicalFile)

  /** `ww2Bodies` is the live-fetch INJECTION POINT (reference
    * api.py:716-849): a deployment with wiki access passes a
    * client-backed [[graft.sources.CrawlSource.BodyProvider]] and the
    * ww2 endpoint renders real bodies without a `content_path`
    * snapshot; the default fetches nothing, so every title keeps the
    * documented placeholder. The snapshot path (`content_path`) is
    * independent of this and takes precedence when supplied. */
  def start(spark: SparkSession, port: Int = 0,
            cleanupRoots: Seq[File] = defaultCleanupRoots,
            ww2Bodies: graft.sources.CrawlSource.BodyProvider =
              graft.sources.CrawlSource.noBodyProvider): HttpServer = {
    val roots = cleanupRoots.map(_.getCanonicalFile.toPath)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/api/health", (ex: HttpExchange) =>
      handle(ex) { _ => ok(obj("status" -> "ok")) })

    server.createContext("/api/jobs", (ex: HttpExchange) => handle(ex) { _ =>
      pathParam(ex, "/api/jobs") match {
        case None => ok(obj(Jobs.all().map(j => j.id -> jobJson(j)): _*))
        case Some(id) => Jobs.status(id) match {
          case Some(j) => ok(jobJson(j).json)
          case None    => Resp(404, obj("error" -> "Job not found"))
        }
      }
    })

    server.createContext("/api/extract/parquet", (ex: HttpExchange) => handle(ex) { q =>
      requirePost(ex).getOrElse {
        q.get("path") match {
          case None => Resp(400, obj("error" -> "No input path given"))
          case Some(path) =>
            val outDir = q.getOrElse("output_dir", "extracted_papers")
            val numPapers = intParam(q, "num_papers").getOrElse(1000)
            val seed = intParam(q, "seed").getOrElse(42)
            val id = Jobs.submitAsync("parquet", outDir) {
              Extractor.extractPapers(spark, path, outDir, numPapers, seed)
            }
            ok(obj("job_id" -> id, "status" -> "running",
              "message" -> s"Processing $path in the background"))
        }
      }
    })

    server.createContext("/api/extract/cisi", (ex: HttpExchange) => handle(ex) { q =>
      requirePost(ex).getOrElse {
        q.get("path") match {
          case None => Resp(400, obj("error" -> "No input path given"))
          case Some(path) =>
            val outDir = q.getOrElse("output_dir", "cisi_papers")
            val id = Jobs.submitAsync("cisi", outDir) {
              Extractor.convertCisi(spark, path, outDir)
            }
            ok(obj("job_id" -> id, "status" -> "running",
              "message" -> s"Processing $path in the background"))
        }
      }
    })

    server.createContext("/api/extract/wikir", (ex: HttpExchange) => handle(ex) { q =>
      requirePost(ex).getOrElse {
        q.get("path") match {
          case None => Resp(400, obj("error" -> "No input path given"))
          case Some(path) =>
            val outDir = q.getOrElse("output_dir", "wikir_pdfs")
            val limit = intParam(q, "limit").getOrElse(100)
            val id = Jobs.submitAsync("wikir", outDir) {
              WikirSource.extract(spark, spark.read.parquet(path), outDir, limit)
            }
            ok(obj("job_id" -> id, "status" -> "running",
              "message" -> (s"Processing wikir dataset $path in the background " +
                s"(limit: ${math.min(limit, 500)})")))
        }
      }
    })

    // Reference: POST /api/extract/ww2 (api.py:849-980) — crawl WW2
    // category members, download each article (api.py:716-849
    // download_wiki_article_to_pdf), convert to PDF. The live wiki
    // fetch is out of engine scope (zero egress); the selection
    // semantics run against a LOCAL category snapshot (listing_path →
    // CrawlSource.parquetProvider), and each selected title exports
    // through the real distributed PDF sink. Same job type, clamp, and
    // response shape as the reference. An optional `content_path`
    // parquet (title, content|text — one row per title, e.g. a wiki
    // dump extract snapshotted next to the category listing) supplies
    // REAL article bodies, the reference's downloaded text re-expressed
    // as a snapshot: selected titles join their body (the ≤1000-title
    // selection broadcasts against the arbitrarily large body table);
    // titles missing from the snapshot keep the placeholder body.
    server.createContext("/api/extract/ww2", (ex: HttpExchange) => handle(ex) { q =>
      requirePost(ex).getOrElse {
        q.get("listing_path") match {
          case None => Resp(400, obj("error" ->
            "No listing_path given (local category snapshot parquet; live crawl is out of engine scope)"))
          case Some(path) =>
            val outDir = q.getOrElse("output_dir", "ww2_articles")
            val limit = intParam(q, "limit").getOrElse(200)
            val capped = graft.sources.CrawlSource.clampLimit(limit)
            val contentPath = q.get("content_path")
            val id = Jobs.submitAsync("ww2_wiki", outDir) {
              import spark.implicits._
              import org.apache.spark.sql.functions._
              val titles = graft.sources.CrawlSource.articleTitles(
                graft.sources.CrawlSource.parquetProvider(spark, path), capped)
              val docs = contentPath match {
                case None =>
                  // provider route: the injected live fetch (or the
                  // no-network default, whose misses all keep the
                  // placeholder — byte-identical to the r11 arm)
                  graft.sources.CrawlSource.fetchBodies(spark, titles, ww2Bodies)
                case Some(cp) =>
                  val raw = spark.read.parquet(cp)
                  val bodyCol =
                    if (raw.columns.contains("content")) col("content")
                    else col("text")
                  val sel = titles.zipWithIndex
                    .map { case (t, i) => (i.toLong, t) }
                    .toDF("doc_id", "title")
                  // body table may be corpus-sized; the bounded
                  // selection is the broadcast side, and max()
                  // makes a multi-revision snapshot deterministic
                  val hit = raw.select(col("title"), bodyCol.as("content"))
                    .join(broadcast(sel), Seq("title"))
                    .groupBy(col("doc_id"), col("title"))
                    .agg(max(col("content")).as("content"))
                  val miss = sel
                    .join(hit.select(col("doc_id")), Seq("doc_id"), "left_anti")
                    .select(col("doc_id"), col("title"),
                      concat(lit("Wikipedia article: "), col("title"),
                        lit("\n\n(Article body download requires " +
                          "live wiki access - out of engine scope. Title " +
                          "selected from the local category snapshot.)"))
                        .as("content"))
                  hit.unionByName(miss)
              }
              graft.sinks.DocumentExportSink.export(
                docs.repartition(math.max(spark.sparkContext.defaultParallelism, 4)),
                outDir, graft.sinks.DocumentExportSink.PdfRenderer, prefix = "ww2")
            }
            ok(obj("job_id" -> id, "status" -> "running",
              "message" -> s"Downloading WW2 Wikipedia articles in the background (limit: $capped)"))
        }
      }
    })

    server.createContext("/api/analyze/wikir", (ex: HttpExchange) => handle(ex) { q =>
      requirePost(ex).getOrElse {
        q.get("path") match {
          case None => Resp(400, obj("error" -> "No input path given"))
          case Some(path) =>
            val limit = intParam(q, "limit")
            val id = Jobs.submitAsync("wikir_analysis", "", singleRowJson) {
              val docs = WikirSource.normalize(spark.read.parquet(path))
              val capped = limit.fold(docs)(n => docs.orderBy("doc_id").limit(n))
              Extractor.analyzeTokens(capped, "content")
            }
            ok(obj("job_id" -> id, "status" -> "running",
              "message" -> s"Analyzing wikir dataset $path in the background"))
        }
      }
    })

    server.createContext("/api/cleanup", (ex: HttpExchange) => handle(ex) { q =>
      requirePost(ex).getOrElse {
        withDir(q) { dir =>
          val suffix = q.getOrElse("suffix", ".pdf")
          if (suffix.isEmpty && !q.get("confirm").contains("true"))
            Resp(400, obj("error" ->
              "Empty suffix would delete every file; pass confirm=true to proceed"))
          else if (!roots.exists(dir.getCanonicalFile.toPath.startsWith(_)))
            Resp(403, obj("error" ->
              s"output_dir '${dir.getPath}' is outside the configured cleanup roots"))
          else {
            val res = Extractor.cleanup(dir.getPath, suffix)
            ok(obj("output_dir" -> dir.getPath,
              "deleted" -> res.deleted, "bytes_freed" -> res.bytes))
          }
        }
      }
    })

    server.createContext("/api/files", (ex: HttpExchange) => handle(ex) { q =>
      pathParam(ex, "/api/files") match {
        case None => withDir(q) { dir =>
          val names = dir.list().toSeq.sorted
          ok(obj("output_dir" -> dir.getPath,
            "file_count" -> names.size, "files" -> names))
        }
        case Some(name) => withDir(q) { dir =>
          val f = new File(dir, name)
          // getCanonicalFile: reject ../ traversal out of output_dir
          if (!f.getCanonicalFile.toPath.startsWith(dir.getCanonicalFile.toPath) || !f.isFile)
            Resp(404, obj("error" -> s"File '$name' not found in '${dir.getPath}'"))
          else Resp(200, Files.readAllBytes(f.toPath), "application/octet-stream")
        }
      }
    })

    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    server
  }

  // ---- response plumbing ------------------------------------------------

  private final case class Resp(code: Int, body: Array[Byte], contentType: String)
  private object Resp {
    def apply(code: Int, json: String): Resp =
      Resp(code, json.getBytes(UTF_8), "application/json")
  }
  private def ok(json: String) = Resp(200, json)

  /** A malformed query parameter: [[handle]] answers it with a 400. */
  private final class BadParam(msg: String) extends Exception(msg)

  /** Integer query parameter `name`, `None` when absent; a value that is
    * not an integer is the caller's error (400), not the server's (500). */
  private def intParam(q: Map[String, String], name: String): Option[Int] =
    q.get(name).map(v => v.toIntOption.getOrElse(
      throw new BadParam(s"${name.capitalize} must be an integer")))

  private def handle(ex: HttpExchange)(f: Map[String, String] => Resp): Unit = {
    val resp =
      try f(query(ex))
      catch {
        case e: BadParam => Resp(400, obj("error" -> e.getMessage))
        case e: Exception => Resp(500, obj("error" -> String.valueOf(e.getMessage)))
      }
    ex.getResponseHeaders.set("Content-Type", resp.contentType)
    ex.sendResponseHeaders(resp.code, resp.body.length)
    ex.getResponseBody.write(resp.body)
    ex.close()
  }

  private def requirePost(ex: HttpExchange): Option[Resp] =
    if (ex.getRequestMethod == "POST") None
    else Some(Resp(405, obj("error" -> "Method not allowed")))

  private def withDir(q: Map[String, String])(f: File => Resp): Resp =
    q.get("output_dir").map(new File(_)) match {
      case Some(d) if d.isDirectory => f(d)
      case other => Resp(404, obj("error" ->
        s"Directory '${other.map(_.getPath).getOrElse("")}' not found"))
    }

  /** Path segment after the context prefix, e.g. /api/jobs/{id}. */
  private def pathParam(ex: HttpExchange, prefix: String): Option[String] = {
    val p = ex.getRequestURI.getPath.stripPrefix(prefix).stripPrefix("/")
    if (p.isEmpty) None else Some(URLDecoder.decode(p, "UTF-8"))
  }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
      }.toMap

  // ---- minimal JSON writer ---------------------------------------------

  /** Pre-rendered JSON that must not be re-escaped when nested. */
  private final case class Raw(json: String) { override def toString: String = json }

  private def jobJson(j: Jobs.Job): Raw = Raw(obj(
    "id" -> j.id, "type" -> j.jobType, "status" -> j.status,
    "output_dir" -> j.outputDir, "file_count" -> j.fileCount,
    "error" -> j.error,
    "result" -> Raw(if (j.result.isEmpty) "null" else j.result)))

  /** One-row DataFrame (e.g. analyzeTokens stats) → JSON object for the
    * job record, mirroring api.py:611-625's jobs[id]["result"]. */
  private def singleRowJson(df: org.apache.spark.sql.DataFrame): String = {
    val row = df.collect().headOption
    row.fold("null")(r => obj(df.columns.zipWithIndex.map {
      case (c, i) => c -> r.get(i)
    }: _*))
  }

  private def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case s: String  => str(s)
    case n: Int     => n.toString
    case n: Long    => n.toString
    case d: Double  => d.toString
    case b: Boolean => b.toString
    case null       => "null"
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case Raw(json)  => json
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
