package graft.loopbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spark counters for the benchmark, attributed to an operation by time
  * window. With a single client in a closed loop nothing else runs
  * inside an op's window, so the attribution is exact: a job belongs to
  * the op its submission time falls in, a task to the op its launch
  * time falls in, a query's planning to the op its analysis started in.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private final case class Task(launch: Long, waitMs: Long, cpuNs: Long, runMs: Long,
                                inBytes: Long, shuffleBytes: Long, outBytes: Long,
                                resultBytes: Long, empty: Boolean)

  private val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val stageStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile private var marker: (String, CountDownLatch) = ("", new CountDownLatch(0))
  @volatile private var markerJob = -1

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).map(_.getProperty(Probe.MarkerKey)).orNull
    if (tag != null && tag == marker._1) markerJob = e.jobId
    else jobStarts.add(e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == markerJob) marker._2.countDown()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageStarts.add(java.lang.Long.valueOf(t)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val submitted = Option(stageSubmitted.get(e.stageId)).map(_.longValue)
        .getOrElse(info.launchTime)
      val consumed = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      val produced = m.shuffleWriteMetrics.recordsWritten + m.outputMetrics.recordsWritten
      tasks.add(Task(info.launchTime, math.max(0L, info.launchTime - submitted),
        m.executorCpuTime, m.executorRunTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten,
        m.resultSize, consumed == 0 && produced == 0))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }

  /** Block until every event posted before this call has been delivered:
    * a marker job's end event arrives after all earlier events on the
    * listener queue both listeners share. */
  def drain(): Unit = {
    val tag = java.util.UUID.randomUUID().toString
    val latch = new CountDownLatch(1)
    marker = (tag, latch)
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.MarkerKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Probe.MarkerKey, null)
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("Spark listener queue did not drain within 60 s")
  }

  /** Counters of the op that ran in [fromMs, toMs] (wall-clock millis). */
  def window(fromMs: Long, toMs: Long): Map[String, Double] = {
    def in(t: Long) = t >= fromMs && t <= toMs
    val ts = tasks.asScala.filter(t => in(t.launch)).toSeq
    val n = ts.size
    Map(
      "spark.jobs" -> jobStarts.asScala.count(t => in(t)).toDouble,
      "spark.stages" -> stageStarts.asScala.count(t => in(t)).toDouble,
      "spark.tasks" -> n.toDouble,
      "spark.task_wait_s" -> ts.map(_.waitMs).sum / 1e3,
      "spark.empty_task_share" -> (if (n == 0) 0.0 else ts.count(_.empty).toDouble / n),
      "spark.planning_s" -> plans.asScala.filter(p => in(p._1)).map(_._2).sum / 1e3,
      "spark.exec_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.exec_run_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.input_bytes" -> ts.map(_.inBytes).sum.toDouble,
      "spark.shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
      "spark.output_bytes" -> ts.map(_.outBytes).sum.toDouble,
      "spark.result_bytes" -> ts.map(_.resultBytes).sum.toDouble)
  }

  /** Cache ownership after an op: persisted RDDs and their stored MB. */
  def cacheState(): Map[String, Double] = {
    val sc = spark.sparkContext
    Map(
      "spark.cached_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "spark.storage_mb" -> sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6)
  }
}

object Probe {
  private val MarkerKey = "loopbench.marker"
}

/** CPU time of the program's threads, from the JVM's per-thread CPU
  * clocks: every live application thread, less the ones a caller skips
  * (the benchmark's own HTTP client). JIT compiler and GC threads are
  * JVM-internal and not among them. Host CPU steal is not charged to a
  * thread's clock, so unlike wall time this does not grow with the time
  * the host takes away (only with the extra work a slower JIT leaves to
  * not yet compiled code). A thread that ends inside a window loses its
  * share. */
object Cpu {
  private val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Nanoseconds of CPU per live thread id. */
  def mark(): Map[Long, Long] = {
    val ids = mx.getAllThreadIds
    val ns = mx.getThreadCpuTime(ids)
    ids.indices.collect { case i if ns(i) >= 0 => ids(i) -> ns(i) }.toMap
  }

  /** CPU seconds since `from`; a thread started since counts from zero. */
  def since(from: Map[Long, Long], skip: Set[Long] = Set.empty): Double =
    mark().iterator.collect { case (id, ns) if !skip(id) => ns - from.getOrElse(id, 0L) }.sum / 1e9

  /** Ids of the live threads whose name starts with `prefix`. */
  def named(prefix: String): Set[Long] =
    mx.getThreadInfo(mx.getAllThreadIds).iterator
      .collect { case t if t != null && t.getThreadName.startsWith(prefix) => t.getThreadId }.toSet

  /** CPU seconds of the whole process, JIT and GC included. */
  def processS: Double = os.getProcessCpuTime / 1e9
}

/** Cumulative JVM compile and GC time, in milliseconds, and uptime. */
object Jvm {
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
}

/** Host evidence: CPU steal ticks and the 1-minute loadavg from /proc,
  * and a CPU speed probe. A flag only — a run is never dropped or
  * repeated because of it. */
object Host {
  final case class Ticks(steal: Long, total: Long)

  def ticks(): Ticks = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) Ticks(0, 0)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val cpu = src.getLines().find(_.startsWith("cpu ")).getOrElse("cpu")
        val v = cpu.split("\\s+").drop(1).map(_.toLong)
        Ticks(if (v.length > 7) v(7) else 0L, v.sum)
      } finally src.close()
    }
  }

  def loadavg1(): Double = {
    val f = new java.io.File("/proc/loadavg")
    if (!f.canRead) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.mkString.trim.split("\\s+").head.toDouble finally src.close()
    }
  }

  private val probeData = Array.tabulate[Byte](1 << 22)(i => (i * 31 + 7).toByte)

  /** Seconds one thread takes to SHA-256 a fixed 16 MB: a host-speed
    * reference taken after every op, so a run record shows how fast the
    * host ran the CPU work around each op. */
  def speedProbe(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val t0 = System.nanoTime()
    var i = 0
    while (i < 4) { md.update(probeData); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e9
  }

  def stealShare(a: Ticks, b: Ticks): Double =
    if (b.total <= a.total) 0.0 else (b.steal - a.steal).toDouble / (b.total - a.total)
}

/** Spans around the public calls of each layer, kept in memory. With
  * tracing off a span is a plain call. */
final class Tracer(val enabled: Boolean) {
  final case class Span(op: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  val spans = ArrayBuffer[Span]()
  var op: Int = -1

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = System.nanoTime()
      try f finally spans += Span(op, name, s, System.nanoTime())
    }
}
