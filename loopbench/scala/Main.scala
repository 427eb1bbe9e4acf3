package graft.loopbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** What one workload's operation returns: its own time (what a user
  * waits for), the program's CPU time in it (`Cpu`), the documents or
  * queries it handled, the bytes of output it left, and its wall-clock
  * window, to which the Spark counters are attributed. */
final case class OpOut(seconds: Double, cpuS: Double, items: Int, bytes: Long,
                       startMs: Long, endMs: Long)

/** A workload: a single client in a closed loop over two alternating
  * operation kinds. Inputs come from the seed only; every op checks its
  * own output against expectations derived from those inputs and throws
  * on a mismatch. */
trait Workload {
  /** Name of the layer whose self time is op time minus the replayed
    * layer calls (`api` for REST jobs, `streaming` for micro-batches). */
  def selfLayer: String
  /** Whether one untimed set-up on the generation session comes before
    * the timed ones, so that they run on a warm JVM. */
  def coldSetup: Boolean
  /** Timed set-up repetitions (odd), each on a fresh session; the median
    * is reported. */
  def setupReps: Int
  /** Warm-up op pairs before the JIT-share rule may end the warm-up. */
  def warmupMinPairs: Int
  /** Warm-up stops at this many seconds if the JIT-share rule has not
    * ended it; above the time of a cold op pair. */
  def warmupCapSeconds: Double
  /** The timed phase runs at least this many op pairs; with short
    * `--seconds` this floor, not the clock, fixes the op count, so every
    * run measures the same op sequence. */
  def timedMinPairs: Int
  /** Generate the inputs (not timed); returns a digest of them. */
  def generate(spark: SparkSession): String
  /** The program's one-time builds on a fresh session; `rep` numbers the
    * repetition so each one builds into its own location. */
  def setup(spark: SparkSession, rep: Int, t: Tracer): Unit
  /** Op `j` of the warm-up (`warm`) or timed phase. Kind is `j % 2`. In a
    * traced run a timed op is followed by a replay of its layer calls
    * under spans; the returned window covers the op alone. */
  def op(spark: SparkSession, warm: Boolean, j: Int, t: Tracer): OpOut
}

/** One benchmark run: `--workload extract|serve --seed N
  * --seconds S --trace 0|1 --work DIR --record FILE`. Prints the result
  * object as the last stdout line and writes the full run record
  * (controls, host evidence, per-op rows, spans) to FILE. */
object Main {
  // Steadiness controls; each is written to the run record.
  /** Task slots: fewer than the host's CPUs, so JIT and GC threads do
    * not steal from tasks. */
  val Slots: Int = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors - 1))
  /** Fixed pause between ops: lets background compilation, GC and the
    * listener queue settle before the next op starts. */
  val PauseMs = 200L
  /** After the workload's minimum warm-up pairs, warm-up ends when JIT
    * time per op is below this share of op time for both ops of a pair,
    * or at the workload's cap. */
  val WarmupJitShare = 0.5

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, record: File)

  final case class OpRow(phase: String, j: Int, kind: Int, out: OpOut, ok: Boolean,
                         error: String, jitMs: Long, gcMs: Long, processCpuS: Double,
                         hostProbeS: Double,
                         var counters: Map[String, Double] = Map.empty)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")).getAbsoluteFile,
      new File(need("record")).getAbsoluteFile)
  }

  def session(work: File, rep: Int): SparkSession = {
    def dir(name: String) = { val d = new File(work, name); d.mkdirs(); d }
    val s = graft.GraftSession.builder(s"local[$Slots]", Slots)
      .config("spark.local.dir", dir("spark-local").getPath)
      .config("spark.sql.warehouse.dir", dir("warehouse").toURI.toString)
      .config("spark.graft.cache.root", dir(s"cache-$rep").toURI.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def main(argv: Array[String]): Unit =
    try bench(argv)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
    }

  def bench(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val wl: Workload = a.workload match {
      case "extract" => new Extract(a.seed, a.work)
      case "serve"   => new Serve(a.seed, a.work)
      case other     => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer(a.trace)

    val jvmStartS = Jvm.uptimeS
    var spark = session(a.work, 0)
    val sessionStartS = Jvm.uptimeS - jvmStartS
    val genT0 = System.nanoTime()
    val inputDigest = wl.generate(spark)
    val generateS = (System.nanoTime() - genT0) / 1e9

    // an untimed cold set-up on the generation session pays class loading
    // and first compilation of the build paths; it is recorded, not gated
    val coldSetupS =
      if (!wl.coldSetup) 0.0
      else {
        tracer.op = -1000
        val t0 = System.nanoTime()
        wl.setup(spark, 0, tracer)
        (System.nanoTime() - t0) / 1e9
      }

    // set-up: session start + the program's one-time builds, repeated on
    // fresh sessions and store locations; the median is reported
    // (wall, program CPU) of each set-up
    val (setupS, setupCpuS) = (1 to wl.setupReps).map { r =>
      spark.stop()
      tracer.op = -r
      val cpu0 = Cpu.mark()
      val t0 = System.nanoTime()
      spark = session(a.work, r)
      wl.setup(spark, r, tracer)
      ((System.nanoTime() - t0) / 1e9, Cpu.since(cpu0))
    }.unzip
    val probe = new Probe(spark)
    val rows = ArrayBuffer[OpRow]()

    def run(warm: Boolean, j: Int): Unit = {
      tracer.op = if (warm) -100 - j else j
      val jit0 = Jvm.jitMs
      val gc0 = Jvm.gcMs
      val proc0 = Cpu.processS
      val t0 = System.currentTimeMillis()
      val (out, ok, err) =
        try (wl.op(spark, warm, j, tracer), true, "")
        catch {
          case e: Exception =>
            val now = System.currentTimeMillis()
            (OpOut((now - t0) / 1e3, 0.0, 0, 0, t0, now), false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      Thread.sleep(PauseMs)
      val row = OpRow(if (warm) "warmup" else "timed", j, j % 2, out, ok, err,
        Jvm.jitMs - jit0, Jvm.gcMs - gc0, Cpu.processS - proc0, Host.speedProbe(),
        probe.cacheState())
      rows += row
      if (!ok) System.err.println(s"[loopbench] ${row.phase} op $j failed: $err")
    }

    // warm-up in whole op pairs until JIT time per op falls below the
    // share for both ops of a pair, or at the cap
    val warmT0 = System.nanoTime()
    var w = 0
    var steady = false
    while (w < 2 * wl.warmupMinPairs ||
      (!steady && (System.nanoTime() - warmT0) / 1e9 < wl.warmupCapSeconds)) {
      run(warm = true, w)
      run(warm = true, w + 1)
      w += 2
      steady = rows.takeRight(2).forall(r => r.jitMs < WarmupJitShare * r.out.seconds * 1e3)
    }
    val lastShares = rows.takeRight(2).map(r => r.jitMs / math.max(1.0, r.out.seconds * 1e3))

    // timed phase: whole pairs of ops, for --seconds and at least
    // the workload's floor of pairs
    val ticks0 = Host.ticks()
    val load0 = Host.loadavg1()
    val timedT0 = System.nanoTime()
    var j = 0
    while (j % 2 == 1 || j < 2 * wl.timedMinPairs || (System.nanoTime() - timedT0) / 1e9 < a.seconds) {
      run(warm = false, j)
      j += 1
    }
    val timedS = (System.nanoTime() - timedT0) / 1e9
    val ticks1 = Host.ticks()
    val load1 = Host.loadavg1()

    probe.drain()
    rows.foreach(r => r.counters = probe.window(r.out.startMs, r.out.endMs) ++ r.counters)
    val timed = rows.filter(_.phase == "timed").toSeq
    val failedAll = rows.count(!_.ok)
    def p50(k: Int) = median(timed.filter(r => r.kind == k && r.ok).map(_.out.seconds))
    def cpu50(k: Int) = median(timed.filter(r => r.kind == k && r.ok).map(_.out.cpuS))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", median(setupCpuS), "s"),
        ("op1_cpu_s", cpu50(0), "s"),
        ("op2_cpu_s", cpu50(1), "s"),
        ("exec_cpu_ms_per_item",
          timed.map(_.counters("spark.exec_cpu_s")).sum * 1e3 /
            math.max(1, timed.map(_.out.items).sum), "ms"))
      else perLayer(timed, tracer, wl.selfLayer, p50(0), p50(1), wl.setupReps)

    val result = Json.obj(
      "correct" -> (failedAll == 0 && timed.nonEmpty),
      "attempted" -> timed.size,
      "failed" -> timed.count(!_.ok),
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj("value" -> v, "unit" -> u)) }: _*)))

    val record = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "controls" -> Json.Raw(Json.obj(
        "task_slots" -> Slots, "nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "pause_ms" -> PauseMs, "setup_reps" -> wl.setupReps,
        "warmup_ops" -> w, "warmup_s" -> (timedT0 - warmT0) / 1e9,
        "warmup_min_pairs" -> wl.warmupMinPairs, "warmup_cap_s" -> wl.warmupCapSeconds,
        "warmup_jit_share_limit" -> WarmupJitShare,
        "warmup_last_jit_shares" -> lastShares,
        "warmup_steady" -> steady,
        "poll_interval_ms" -> Extract.PollMs,
        "poll_share_of_op1_p50" ->
          (if (a.workload == "extract") Extract.PollMs / 1e3 / p50(0) else 0.0))),
      "host" -> Json.Raw(Json.obj(
        "steal_share" -> Host.stealShare(ticks0, ticks1),
        "speed_probe_s_median" -> median(timed.map(_.hostProbeS)),
        "loadavg1_start" -> load0, "loadavg1_end" -> load1)),
      "input_digest" -> inputDigest,
      "jvm_start_s" -> jvmStartS,
      "session_start_s" -> sessionStartS,
      "generate_s" -> generateS,
      "cold_setup_s" -> coldSetupS,
      "setup_reps_s" -> setupS,
      "setup_reps_cpu_s" -> setupCpuS,
      "op1_p50_s" -> p50(0), "op2_p50_s" -> p50(1),
      "timed_s" -> timedS,
      "ops_attempted" -> timed.size,
      "ops_failed" -> timed.count(!_.ok),
      "warmup_failed" -> rows.count(r => r.phase == "warmup" && !r.ok),
      "ops" -> rows.toSeq.map(r => Json.Raw(Json.obj(
        (Seq[(String, Any)]("phase" -> r.phase, "j" -> r.j, "kind" -> (r.kind + 1),
          "seconds" -> r.out.seconds, "cpu_s" -> r.out.cpuS, "process_cpu_s" -> r.processCpuS,
          "items" -> r.out.items, "out_bytes" -> r.out.bytes, "ok" -> r.ok,
          "error" -> r.error, "jit_ms" -> r.jitMs, "gc_ms" -> r.gcMs,
          "host_probe_s" -> r.hostProbeS) ++
          r.counters.toSeq.sortBy(_._1)): _*))),
      "spans" -> tracer.spans.toSeq.map(s => Json.Raw(Json.obj(
        "op" -> s.op, "name" -> s.name, "s" -> s.seconds))),
      "result" -> Json.Raw(result))
    a.record.getParentFile.mkdirs()
    java.nio.file.Files.write(a.record.toPath, record.getBytes("UTF-8"))

    println(result)
    System.out.flush()
    // everything is written, and the caller deletes the work directory:
    // end the JVM without Spark's shutdown hooks (the REST server's
    // handler pool is non-daemon and would keep it alive)
    Runtime.getRuntime.halt(0)
  }

  /** The traced run's per-layer metrics: span time per timed op (mean),
    * Spark and JVM counters per timed op (mean), cache state after the
    * last op, set-up builds (median over repetitions). */
  def perLayer(timed: Seq[OpRow], t: Tracer, selfLayer: String,
               op1: Double, op2: Double, reps: Int): Seq[(String, Double, String)] = {
    val n = math.max(1, timed.size)
    val ids = timed.map(_.j).toSet
    val opSpans = t.spans.filter(s => ids.contains(s.op))
    def spanMean(name: String) = opSpans.filter(_.name == name).map(_.seconds).sum / n
    def setupMedian(name: String) =
      median((1 to reps).map(r => t.spans.filter(s => s.op == -r && s.name == name).map(_.seconds).sum))
    val selfS = timed.map { r =>
      r.out.seconds - opSpans.filter(s => s.op == r.j && !s.name.startsWith("api.")).map(_.seconds).sum
    }.sum / n
    def counterMean(k: String) = timed.map(_.counters.getOrElse(k, 0.0)).sum / n
    val last = timed.lastOption.map(_.counters).getOrElse(Map.empty)
    val spans = PerLayerSpans.map(s => (s + "_s", spanMean(s), "s"))
    val builds = SetupSpans.map(s => (s + "_s", setupMedian(s), "s"))
    val selfs = Seq("api", "streaming").map(l =>
      (s"$l.self_s", if (l == selfLayer) selfS else 0.0, "s"))
    val counters = SparkCounters.map { case (k, u) => (k, counterMean(k), u) }
    spans ++ selfs ++ builds ++ counters ++ Seq(
      ("spark.cached_rdds", last.getOrElse("spark.cached_rdds", 0.0), "count"),
      ("spark.storage_mb", last.getOrElse("spark.storage_mb", 0.0), "MB"),
      ("jvm.jit_s", timed.map(_.jitMs).sum / 1e3 / n, "s"),
      ("jvm.gc_s", timed.map(_.gcMs).sum / 1e3 / n, "s"),
      ("traced.op1_p50_s", op1, "s"),
      ("traced.op2_p50_s", op2, "s"))
  }

  /** Spans recorded around public layer calls during ops. */
  val PerLayerSpans: Seq[String] = Seq(
    "api.submit", "api.job_wait", "api.files_list",
    "sources.read", "column_detect", "sampling",
    "sinks.markdown_write", "sinks.manifest", "sinks.parquet_write",
    "layout.store_open",
    "similarity.ivfpq", "similarity.cosine",
    "retrieval.bm25", "retrieval.rrf")

  /** Spans recorded around the one-time builds of set-up. */
  val SetupSpans: Seq[String] = Seq(
    "layout.ivfpq_build", "layout.vec_store_build", "layout.bm25_store_build")

  val SparkCounters: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_wait_s" -> "s", "spark.empty_task_share" -> "share",
    "spark.planning_s" -> "s", "spark.exec_cpu_s" -> "s", "spark.exec_run_s" -> "s",
    "spark.input_bytes" -> "bytes", "spark.shuffle_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes", "spark.result_bytes" -> "bytes")
}

/** Minimal JSON writer for the result line and the run record. */
object Json {
  final case class Raw(json: String) { override def toString: String = json }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case Raw(j)      => j
    case s: String   => str(s)
    case b: Boolean  => b.toString
    case i: Int      => i.toString
    case l: Long     => l.toString
    case d: Double   => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null        => "null"
    case other       => str(other.toString)
  }

  def str(s: String): String =
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
