package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Out-of-program telemetry: Spark listener events, JVM gauges and the
  * benchmark's own spans. Nothing here is called from the program; the
  * benchmark registers the listener and wraps its own calls.
  *
  * Counters are plain named sums. Spans are (id, op, name, parent,
  * start, end) in epoch nanoseconds; a layer's self time is its span
  * minus what its children cover. Everything stays in memory and is
  * written once, when the run ends.
  */
final class Trace(val enabled: Boolean) extends SparkListener {
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  // (launch, finish) epoch-ms of every finished task, for driver-only time
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]
  private val execStart = mutable.HashMap.empty[Long, (Long, String)]
  private val spans = mutable.ArrayBuffer.empty[Trace.Span]
  private val spanIds = new AtomicLong(0)
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile var op: Long = 0L
  /** Listener events are counted only while this is set. */
  @volatile var recording: Boolean = true
  private def on: Boolean = enabled && recording

  def add(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }
  def set(name: String, v: Double): Unit = synchronized { counters(name) = v }
  def get(name: String): Double = synchronized { counters.getOrElse(name, 0.0) }
  def snapshot: Map[String, Double] = synchronized { counters.toMap }

  /** Time `body` as a span named `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = spanIds.incrementAndGet()
    val parent = open.get.headOption.getOrElse(0L)
    val t0 = Trace.nowNs
    open.set(id :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      val t1 = Trace.nowNs
      synchronized { spans += Trace.Span(id, op, name, parent, t0, t1) }
    }
  }

  def allSpans: Seq[Trace.Span] = synchronized { spans.toList }

  /** Span time minus the part its direct children cover. */
  def selfSeconds(s: Trace.Span): Double = {
    val kids = allSpans.filter(_.parent == s.id)
    (s.end - s.start - Trace.covered(kids.map(k => (k.start, k.end)))) / 1e9
  }

  /** Seconds of [fromMs, toMs] during which no task was running. */
  def driverOnlySeconds(fromMs: Long, toMs: Long): Double = {
    val inside = synchronized(taskSpans.toList).collect {
      case (a, b) if b > fromMs && a < toMs => (math.max(a, fromMs), math.min(b, toMs))
    }
    (toMs - fromMs - Trace.covered(inside)) / 1e3
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    synchronized { jobStart(e.jobId) = (e.time, desc) }
    add("spark.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
    synchronized(jobStart.remove(e.jobId)).foreach { case (t0, desc) =>
      Trace.tierOf(desc).foreach { tier =>
        add(s"${tier}_s", (e.time - t0) / 1e3)
        add(s"$tier.jobs", 1)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
    val m = e.taskMetrics
    add("spark.tasks", 1)
    val rows = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead +
      m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
    if (rows == 0) add("spark.empty_tasks", 1)
    add("spark.task_s", m.executorRunTime / 1e3)
    add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
    add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
    add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
    val i = e.taskInfo
    synchronized { taskSpans += ((i.launchTime, i.finishTime)) }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) e match {
    case s: SparkListenerSQLExecutionStart =>
      add("spark.sql_executions", 1)
      // a streaming query runs its micro-batches under its run id as job group
      if (s.jobGroupId.isDefined) add("stream.sql_executions", 1)
      synchronized { execStart(s.executionId) = (s.time, s.description) }
    case s: SparkListenerSQLExecutionEnd =>
      synchronized(execStart.remove(s.executionId)).foreach { case (t0, site) =>
        Trace.callSiteMetric(site).foreach(k => add(k, (s.time - t0) / 1e3))
      }
    case _ =>
  }
}

object Trace {
  final case class Span(id: Long, op: Long, name: String, parent: Long, start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }

  /** Wall clock in epoch nanoseconds, monotonic within the process. */
  private val originWall = System.currentTimeMillis() * 1000000L
  private val originMono = System.nanoTime()
  def nowNs: Long = originWall + (System.nanoTime() - originMono)

  /** Length of the union of intervals. */
  def covered(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- xs.sortBy(_._1)) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Job descriptions the program sets → the benchmark's tier names. */
  def tierOf(desc: String): Option[String] = {
    val d = desc.toLowerCase
    if (d.startsWith("dailyincremental: ")) {
      val t = d.stripPrefix("dailyincremental: ")
      Seq("doc snapshot diff" -> "doc_diff", "embedding snapshot diff" -> "emb_diff",
        "signature tier" -> "signature", "ivf tier" -> "ivf", "pq tier" -> "pq",
        "dsir tier" -> "dsir", "encoded tier" -> "encoded",
        "maintenance" -> "maintenance", "run manifest" -> "manifest")
        .collectFirst { case (p, n) if t.startsWith(p) => s"turn.$n" }
    } else if (d.startsWith("turnstream: ")) {
      val t = d.stripPrefix("turnstream: ")
      if (t.contains("digest")) Some("stream.digest")
      else if (t.contains("marker")) Some("stream.marker")
      else if (t.contains("pairs emission")) Some("stream.pairs_emit")
      else None
    } else None
  }

  /** SQL execution call sites (short form, `method at File.scala:line`)
    * → the ETL layer that issued them. */
  def callSiteMetric(site: String): Option[String] =
    if (site == null) None
    else if (site.contains("Validation.scala")) Some("etl.validate_s")
    else if (site.startsWith("head at Sinks.scala")) Some("etl.summary_s")
    else if (site.contains("Sinks.scala")) Some("etl.sink_s")
    else None

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def processCpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Host CPU (stolen, busy) jiffies from the first line of /proc/stat;
    * busy counts every state but idle and iowait. (0, 0) where absent. */
  def procStat: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (v.length > 7) v(7) else 0L, v.sum - v(3) - v(4))
    } catch { case _: Exception => (0L, 0L) }

  /** Share of busy host CPU time that the hypervisor stole between two
    * [[procStat]] readings. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Registered into each `spark-submit` job through
  * `spark.extraListeners`. Its constructor runs while the job's
  * SparkContext starts, which marks "session ready"; when the job
  * ends it writes one JSON record to `spark.perfbench.out`. With
  * `spark.perfbench.trace=false` it records only the two timestamps. */
final class JobListener(conf: SparkConf) extends SparkListener {
  private val readyMs = System.currentTimeMillis()
  private val trace = new Trace(conf.getBoolean("spark.perfbench.trace", defaultValue = false))
  private val gc0 = Trace.gcSeconds
  private val codegen0 = Trace.codegenCompiles

  override def onJobStart(e: SparkListenerJobStart): Unit = trace.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = trace.onJobEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = trace.onStageCompleted(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = trace.onTaskEnd(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = trace.onOtherEvent(e)

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    val endMs = System.currentTimeMillis()
    if (trace.enabled) {
      trace.set("spark.gc_s", Trace.gcSeconds - gc0)
      trace.set("spark.codegen_compiles", (Trace.codegenCompiles - codegen0).toDouble)
      trace.set("spark.driver_only_s", trace.driverOnlySeconds(readyMs, endMs))
    }
    val out = conf.get("spark.perfbench.out", "")
    if (out.nonEmpty) {
      val body = s"""{"jvm_start_ms": ${Trace.jvmStartMs}, "ready_ms": $readyMs, "end_ms": $endMs, "metrics": ${Trace.json(trace.snapshot)}}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(out), body.getBytes("UTF-8"))
    }
  }
}
