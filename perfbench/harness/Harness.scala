package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.{SparkEntry, Tables}
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.streaming.TurnStream
import org.apache.spark.PerfbenchListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-process runner of the `stream_drain` workload: many tiny turns.
  *
  * Usage: Harness <dataDir> <workDir> <outDir> <rounds> <trace 0|1> <cores>
  *
  * Set-up stages q188's day-0 state (signatures, IVF and DSIR over most
  * docs and vectors) and the feeds of the rest. Each round then times
  * three ops, calling the program only through its public entry points:
  * `TurnStream.dailyTurns` draining both feeds with the DSIR tier
  * riding; `SparkEntry.queries` q191, the overlapping re-pull drain
  * (its eight pull writes are part of the query); and q81, a read
  * through the custom `TopKPerGroup` plan. Each op is forced by a noop
  * write; the frames the checks read are written after the timed phase,
  * to `outDir`, with `outDir/result.json`. The checks themselves run in
  * `perfbench/checks.py`.
  *
  * Spark's own progress events time each micro-batch for the per-layer
  * metrics. The op is not the micro-batch: a median over micro-batches
  * would straddle the gap between the two drains' batch sizes, and
  * would rise when a change drains the same feed in fewer, larger
  * batches.
  */
object Harness {
  /** One timed op: wall seconds and the host's steal share meanwhile. */
  final case class Op(name: String, seconds: Double, steal: Double)

  val RePull = "q191_overlap_repull_dedup"
  val TopK = "q81_custom_topk"

  private final class Progress(trace: Trace) extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer.empty[(Double, Double)] // (triggerExecution, addBatch) s
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      // batches that ran a plan; progress events without one are idle polls
      if (d.containsKey("addBatch")) synchronized {
        batches += ((d.get("triggerExecution").doubleValue / 1e3, d.get("addBatch").doubleValue / 1e3))
        p.stateOperators.foreach(s => trace.add("stream.state_commit_s", s.commitTimeMs / 1e3))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(dataDir, workDir, outDir, roundsArg, traceArg, cores) = args
    val trace = new Trace(traceArg == "1")
    trace.recording = false
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench-stream_drain")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(trace)
    trace.set("jobs.session_start_s", (System.currentTimeMillis() - Trace.jvmStartMs) / 1e3)
    try run(spark, trace, dataDir, workDir, outDir, roundsArg.toInt)
    finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
  }

  def run(spark: SparkSession, trace: Trace, dataDir: String, workDir: String, outDir: String,
          rounds: Int): Unit = {
    val docs = Tables.load(spark, dataDir, "documents")
    val emb = Tables.load(spark, dataDir, "embeddings")
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    val d1e = emb.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
    val base = s"$workDir/base"
    Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, s"$base/mh")
    Similarity.buildIvfIndex(d1e, nlist = 16, path = s"$base/ivf")
    TextAnalysis.persistDsirState(day1Docs, "src0", s"$base/dsir")
    docs.filter(col("doc_id") % 5 === 0).repartition(4).write.parquet(s"$base/docfeed")
    emb.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 0).repartition(2).write.parquet(s"$base/embfeed")
    val sql = Seq("q151_daily_incremental", "q152_dsir_weights", RePull, TopK)
      .map(q => s"${Trace.str(q)}: ${Trace.str(SparkEntry.oracleSql(q))}").mkString("{", ",\n", "}")
    Files.write(Paths.get(outDir, "oracle_sql.json"), sql.getBytes("UTF-8"))
    val progress = new Progress(trace)
    if (trace.enabled) spark.streams.addListener(progress)
    def stage(r: Int): String = {
      val st = s"$workDir/rep$r"
      copyTree(base, st)
      st
    }
    var st = stage(0)

    // ---- timed phase: listener counts cover it and nothing else
    val ops = mutable.ArrayBuffer.empty[Op]
    def timeOp[T](name: String)(body: => T): T = {
      trace.op += 1
      val stat0 = Trace.procStat
      val t0 = System.nanoTime()
      val t0Ms = System.currentTimeMillis()
      val r = trace.span(name)(body)
      ops += Op(name, (System.nanoTime() - t0) / 1e9, Trace.stealShare(stat0, Trace.procStat))
      if (trace.enabled) trace.add("spark.driver_only_s", trace.driverOnlySeconds(t0Ms, System.currentTimeMillis()))
      r
    }
    PerfbenchListenerBus.drain(spark.sparkContext)
    trace.recording = true
    val firstOpMs = System.currentTimeMillis()
    val firstOpStat = Trace.procStat
    val cpu0 = Trace.processCpuSeconds
    val gc0 = Trace.gcSeconds
    val compiles0 = Trace.codegenCompiles
    var repull, topk: DataFrame = null
    for (r <- 0 until rounds) {
      if (r > 0) {
        // each round drains a fresh copy of the day-0 state
        deleteTree(st)
        st = stage(r)
      }
      timeOp("turnstream drain") {
        TurnStream.dailyTurns(spark, s"$st/docfeed", s"$st/embfeed", s"$st/mh", s"$st/ivf",
          s"$st/pairs", s"$st/ckpt", dsirStatePath = Some(s"$st/dsir"))
      }
      repull = timeOp(RePull) {
        val q = SparkEntry.queries(RePull)(spark, dataDir)
        forceNoop(q)
        q
      }
      topk = timeOp(TopK) {
        val q = SparkEntry.queries(TopK)(spark, dataDir)
        forceNoop(q)
        q
      }
    }
    val cpu = Trace.processCpuSeconds - cpu0
    trace.set("spark.gc_s", Trace.gcSeconds - gc0)
    trace.set("spark.codegen_compiles", (Trace.codegenCompiles - compiles0).toDouble)
    PerfbenchListenerBus.drain(spark.sparkContext)
    trace.recording = false

    if (trace.enabled) {
      spark.streams.removeListener(progress)
      val batches = progress.synchronized(progress.batches.toList)
      for ((trig, add) <- batches) {
        trace.add("stream.add_batch_s", add)
        trace.add("stream.overhead_s", trig - add)
      }
      trace.set("stream.batches", batches.size.toDouble)
      trace.set("stream.batch_executions",
        if (batches.isEmpty) 0.0 else trace.get("stream.sql_executions") / batches.size)
    }
    // ---- check frames, untimed
    dump(repull, outDir, "repull")
    dump(topk, outDir, "topk")
    dump(TurnStream.emittedPairs(spark, s"$st/pairs"), outDir, "pairs")
    dump(TextAnalysis.dsirWeightsFromState(docs, spark, s"$st/dsir", "src0"), outDir, "dsir")

    val opsJson = ops.map(o =>
      s"""{"name": ${Trace.str(o.name)}, "s": ${Trace.num(o.seconds)}, "steal": ${Trace.num(o.steal)}}""")
      .mkString("[", ", ", "]")
    val spansJson = trace.allSpans.map(s =>
      s"""{"id": ${s.id}, "op": ${s.op}, "name": ${Trace.str(s.name)}, "parent": ${s.parent}, "start_ns": ${s.start}, "end_ns": ${s.end}, "self_s": ${Trace.num(trace.selfSeconds(s))}}""")
      .mkString("[", ",\n", "]")
    val body =
      s"""{"jvm_start_ms": ${Trace.jvmStartMs}, "first_op_ms": $firstOpMs,
         | "first_op_stat": [${firstOpStat._1}, ${firstOpStat._2}],
         | "cpu_s": ${Trace.num(cpu)},
         | "ops": $opsJson,
         | "metrics": ${Trace.json(if (trace.enabled) trace.snapshot else Map.empty)},
         | "spans": ${if (trace.enabled) spansJson else "[]"}}""".stripMargin
    Files.write(Paths.get(outDir, "result.json"), body.getBytes("UTF-8"))
  }

  def forceNoop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dump(df: DataFrame, outDir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")

  def copyTree(src: String, dst: String): Unit = {
    val from = Paths.get(src)
    val to = Paths.get(dst)
    Files.walk(from).forEach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
      ()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => { Files.delete(x); () })
  }
}
