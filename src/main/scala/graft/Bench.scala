package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query wall
  * seconds. Each query is forced through a `noop` write — unlike
  * `count()`, that executes the full physical plan (projections,
  * sorts, window functions) instead of letting Catalyst prune to a
  * row-count shortcut.
  */
object Bench {

  /** The bench gate, same rules as tools/bench_check.py: a query
    * regresses when its min exceeds RegressionX times its recorded
    * baseline AND either side is over AbsFloorSec (sub-second times
    * are JVM noise, not plan changes); queries absent from the
    * baseline never fail. Factored out so the rule itself is
    * spec-testable — the artifact's `gate_rc` is this plus
    * errored-queries-fail.
    */
  val RegressionX = 1.5
  val AbsFloorSec = 1.0
  def gateRegressed(mins: Seq[(String, Double)],
                    baseline: Map[String, Double]): Seq[String] =
    mins.collect { case (name, sec)
      if baseline.get(name).exists(b =>
        (if (b > 0) sec / b else Double.PositiveInfinity) > RegressionX &&
          (sec max b) > AbsFloorSec) => name }

  /** Median of a sample set (even size → mean of the middle two);
    * +Infinity for an empty set, so a second pass whose re-times all
    * ERRORED can never clear a flag. */
  def median(ss: Seq[Double]): Double =
    if (ss.isEmpty) Double.PositiveInfinity
    else {
      val s = ss.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** The MEDIAN-TRIGGERED gate (VERDICT r19 item 1, corrected this
    * round): the per-pass MEDIAN selects suspects — symmetric, so one
    * first-pass straggler does not trigger a re-time, and a first
    * pass whose samples are MOSTLY elevated does even when a single
    * lucky dip would have cleared the old min-trigger — and every
    * suspect is re-timed minutes later (median-of-3, after the rest
    * of the sweep) so a transient load stall spanning its first pass
    * cannot decide the verdict alone.
    *
    * The VERDICT statistic, however, is the MIN over every sample of
    * both passes — the SAME order statistic the baselines were
    * recorded in. The round's first committed form gated on
    * min-across-passes-of-medians, and its very first live sweep
    * false-flagged two no-regression queries (q91/q158): at the 1-2 s
    * scale a query's legitimate run-to-run dispersion (GC placement,
    * localCheckpoint timing, JIT warm-in) puts its median 1.3-2.2x
    * above its own min ON A QUIET BOX, so a median statistic against
    * a min-recorded baseline flags by construction with no plan
    * change — the mirror image of the false-negative the median was
    * meant to fix, and unfixable without re-recording baselines
    * (frozen this round, deliberately). Guide §1's "measure
    * correctly": compare like order statistics. A genuine regression
    * is slow in EVERY sample of every pass, so its min moves with its
    * median and still flags; flagged(min-of-all) is exactly the r19
    * rule, now with the median-trigger guaranteeing every borderline
    * query gets a temporally-separated median-of-3 before the min is
    * read. Returns (regressed names, second-pass samples per suspect)
    * so the artifact records both passes.
    */
  def medianGate(firstPass: Seq[(String, Seq[Double])],
                 baseline: Map[String, Double],
                 reTime: String => Seq[Double]): (Seq[String], Map[String, Seq[Double]]) = {
    val suspects = gateRegressed(
      firstPass.map { case (n, ss) => (n, median(ss)) }, baseline)
    val second = suspects.map(n => n -> reTime(n)).toMap
    val stats = firstPass.map { case (n, ss) =>
      val all = ss ++ second.getOrElse(n, Seq.empty)
      // all is never empty: every firstPass entry timed at least once
      (n, all.min)
    }
    (gateRegressed(stats, baseline), second)
  }

  /** Assembles the one-line bench JSON (both the compact stdout form
    * and, with `withSamples = true`, the persisted artifact carrying
    * every raw sample plus the second-pass samples). Factored from
    * `main` so the artifact format — gate fields included — is
    * spec-testable by generating a line in-test instead of reading
    * whatever tools/last_bench.json a checkout happens to carry
    * (ADVICE r11).
    *
    * 3-decimal rounding keeps the one-line JSON small enough that the
    * driver's tail capture retains the whole object; the headline
    * total appears both first (for head-anchored parsers, as `value`)
    * and near the end (tail capture keeps line ends). The GATE fields
    * sit AFTER `total`, with `gate_rc` the very last key: round 17's
    * driver artifact kept only the line's tail, and with the gate
    * fields head-anchored the artifact of record silently lost its
    * red verdict (coverage_report fell back to the process rc of 0).
    * Tail-anchoring makes `gate_rc` the key most likely to survive
    * any truncation. Locale.ROOT because the f
    * interpolator is locale-dependent — a de_DE default JVM locale
    * would render 1,234 and break every JSON number.
    */
  /** One compact environment sample, taken OUTSIDE any timer: JVM heap
    * in use (MB), cumulative GC wall (ms), 1-minute loadavg, tmpdir
    * free space (GB), on-disk bytes of THIS app's Spark
    * shuffle/broadcast scratch (the block-manager local dirs + driver
    * temp root, via GraftSqlBridge.sparkLocalDirs, MB), and the
    * engine's own Scratch state dirs (graft_*, MB). These are exactly
    * the quantities the `cached_rdds` census CANNOT see (VERDICT r18
    * item 1): shuffle files awaiting ContextCleaner GC, broadcast
    * blocks, scratch-dir disk pressure, and box co-tenancy — recorded
    * per query so a future gate-red artifact self-adjudicates
    * (VERDICT r18 item 7) instead of forcing another BenchOne round.
    */
  def envGauge(): String = {
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", v)
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / (1L << 20)
    val gcMs = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    val load1 =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir", "/tmp"))
    val freeGb = tmp.getUsableSpace / 1e9
    def treeMb(roots: Seq[java.io.File]): Long = {
      var bytes = 0L
      roots.foreach { d =>
        try java.nio.file.Files.walk(d.toPath).forEach { p =>
          try if (java.nio.file.Files.isRegularFile(p)) bytes += java.nio.file.Files.size(p)
          catch { case _: Throwable => () } // files vanish mid-walk (cleaner races)
        } catch { case _: Throwable => () }
      }
      bytes / (1L << 20)
    }
    // THIS app's Spark scratch only (block-manager local dirs + the
    // driver temp root, resolved through the bridge shim) — a
    // prefix-glob over the shared tmpdir counted co-tenant processes'
    // spark-*/blockmgr-* trees in the very gauge built to separate
    // contention from plan changes (driver ADVICE r19)
    val sparkDirs =
      try org.apache.spark.sql.GraftSqlBridge.sparkLocalDirs().map(new java.io.File(_))
      catch { case _: Throwable => Seq.empty[java.io.File] }
    val scratchDirs = Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("graft_")).toSeq
    s"[$heapMb,$gcMs,${fmt(load1)},${fmt(freeGb)},${treeMb(sparkDirs)},${treeMb(scratchDirs)}]"
  }

  def benchJson(results: Seq[(String, Double, Seq[Double])],
                errors: collection.Map[String, String],
                sfDir: String,
                regressed: Seq[String],
                secondPass: Map[String, Seq[Double]],
                withSamples: Boolean,
                gauges: collection.Map[String, Int] = Map.empty,
                envs: collection.Map[String, String] = Map.empty,
                gateEnv: collection.Map[String, String] = Map.empty): String = {
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val gateRc = if (errors.nonEmpty || regressed.nonEmpty) 1 else 0
    val secondJson = secondPass.toSeq.sortBy(_._1).map { case (k, ss) =>
      "\"" + k + "\":[" + ss.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val gateJson =
      s""""gate_second_pass":$secondJson,"gate_regressed":[${regressed.map("\"" + _ + "\"").mkString(",")}],"gate_rc":$gateRc"""
    val samplesJson =
      if (!withSamples) ""
      else "\"samples\":" + results.map { case (k, _, ss) =>
        "\"" + k + "\":[" + ss.map(fmt).mkString(",") + "]"
      }.mkString("{", ",", "}") + "," +
        (if (gauges.isEmpty) ""
         else "\"cached_rdds\":" + gauges.map { case (k, n) =>
           "\"" + k + "\":" + n
         }.mkString("{", ",", "}") + ",") +
        // env arrays are pre-rendered JSON ([heapMb,gcMs,load1,
        // freeGb,sparkLocalMb,scratchMb] from envGauge) — emitted
        // verbatim, no quoting
        (if (envs.isEmpty) ""
         else "\"env\":" + envs.map { case (k, v) =>
           "\"" + k + "\":" + v
         }.mkString("{", ",", "}") + ",") +
        (if (gateEnv.isEmpty) ""
         else "\"gate_env\":" + gateEnv.map { case (k, v) =>
           "\"" + k + "\":" + v
         }.mkString("{", ",", "}") + ",")
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","errored":${errors.size},"errors":$errJson,"queries":$qs,$samplesJson"total":${fmt(total)},$gateJson}"""
  }

  /** Untimed warm-up set: one representative per table family
    * (relational / text-HOF / vector) PLUS one stateful stream —
    * microbatch machinery + state-store init are a multi-second
    * one-time cost that otherwise lands in the first stream query's
    * timed samples (r19 mechanism fix; BenchGateSpec pins that a
    * stream stays on this list). */
  val WarmupQueries: Seq[String] = Seq("q5_top_parts", "q17_fingerprint",
    "q18_cosine_topk", "q27_stream_daily_counts")

  /** Deterministic between-queries GC cadence (r19 mechanism fix:
    * ContextCleaner's periodic GC defaulted to 30 min = the r18 sweep
    * length, so the first full GC — and the cleanup avalanche of ~190
    * queries' dead shuffle/broadcast blocks it released — landed
    * exactly inside the end-of-sweep second pass). Counting calls in a
    * small testable class keeps the cadence spec-pinned
    * (BenchGateSpec) so a refactor can't silently drop the
    * between-timers GC and reintroduce the coincidence. */
  val GcEveryN = 10
  val PeriodicGcInterval = "6h"
  final class GcCadence(everyN: Int, gc: () => Unit = () => System.gc()) {
    private var since = 0
    private var firedCount = 0
    def fired: Int = firedCount
    def tick(force: Boolean = false): Unit = {
      since += 1
      if (force || since >= everyN) { since = 0; firedCount += 1; gc() }
    }
  }

  /** The `local[n]` core count of the driver mains (Bench, BenchOne,
    * ScaleProbe, Verify): `SPARK_GRAFT_CPUS`, else the machine's
    * cores — more would size shuffles and state stores for task slots
    * that do not exist. */
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ContextCleaner's periodic GC defaults to 30min — the r18 sweep
      // ran 30:01, so the FIRST full GC of the whole sweep (and the
      // cleanup avalanche of ~190 queries' dead shuffle/broadcast
      // blocks it releases) landed exactly inside the end-of-sweep
      // second pass, where the un-reproducible 46–146 s blowups live.
      // The sweep instead calls System.gc() itself every GcEveryN
      // queries BETWEEN timers (below), so cleanup is incremental and
      // every pause is deterministically placed outside a sample;
      // pushing the periodic interval out makes those the only full
      // GCs. Weak-ref processing still happens on every young GC, so
      // nothing is lost for shorter runs.
      .config("spark.cleaner.periodicGC.interval", PeriodicGcInterval)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Deterministic cleanup cadence: a full GC between queries (never
    // inside a timer) drives ContextCleaner's reference queue, so the
    // shuffle files and broadcast blocks of finished queries are
    // reclaimed within GcEveryN queries instead of accumulating for
    // the whole sweep on a quiet 128 GiB heap (the r17/r18 end-of-
    // sweep churn mechanism, now instrumented by envGauge).
    val cadence = new GcCadence(GcEveryN)
    def maybeGc(force: Boolean = false): Unit = cadence.tick(force)
    // untimed warm-up: absorb JVM/codegen/parquet-reader init so the
    // per-query numbers measure the queries, not session startup
    for (w <- WarmupQueries)
      try SparkEntry.queries(w)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    // Up to three timed runs per query (one when the first sample is
    // sub-half-floor and can never flag; a third when the 2-sample
    // median would flag): shingle-pipeline queries show ~2× run-to-run
    // noise (GC + localCheckpoint placement), so the per-pass median
    // only TRIGGERS the second pass and the verdict (like the
    // reported number) is the min over all samples.
    // Errors are RECORDED, not swallowed: a failed query's sample is
    // near-zero wall time, so silently timing it would let a broken
    // query pass any total-seconds gate while looking "fast". The
    // per-query error lands in the output JSON (`errors` field +
    // `errored` count) so a consumer can exclude erred queries from
    // both sides of a baseline comparison.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Some(elapsed) on success, None on failure (error recorded either
    // way). The checked form exists for the second-pass re-time: a
    // fail-fast elapsed is not a timing, and folding it into the
    // min-across-passes would report a bogus near-zero for a query
    // that timed FINE in the first pass (ADVICE r12) — the errors
    // term, not a poisoned min, is what fails the gate.
    def timeOneChecked(name: String,
                       fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val res = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        // strip quotes, backslashes AND all control chars — a \f or
        // \u0000 in an exception message would break the JSON line and
        // zero the round's bench data (same escaping rule as Verify)
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .map(c => if (c == '"' || c == '\\' || c < ' ') ' ' else c).take(160)
        None
      }
      // Drop every engine-tracked checkpoint/persist block between
      // samples, OUTSIDE the timer (the recorded baselines predate
      // this hook). Without it the block store accumulates dead
      // checkpoint blocks across the 190-query sweep — ContextCleaner
      // only reclaims them after a driver GC that a quiet large heap
      // may never run — and late-sweep queries pay the eviction churn
      // (round 17: q23 samples rising 1.4→5.6 s, 33–42 s second-pass
      // blowups). Safe here because the sweep is sequential and every
      // sample rebuilds its frames from fn(spark, sfDir).
      graft.operators.Dedup.releaseMaterialized()
      // Unload the streaming state-store providers the sample's
      // drained streams left cached (also outside the timer): the
      // shared maintenance task otherwise snapshots/lists every
      // provider of every PRIOR stream each interval, and the
      // accumulated storm degrades late-sweep stateful queries ~2×
      // (r19: q191 in-sweep 15-31 s vs 8.4 s fresh; q110 4.0 vs 2.4).
      org.apache.spark.sql.GraftSqlBridge.unloadStreamingState()
      res
    }
    // main-sweep form: keeps the fail-fast elapsed as the sample so an
    // errored query still carries a number in the artifact (it is
    // excluded from the ratio gate and fails through the errors term)
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      timeOneChecked(name, fn).getOrElse((System.nanoTime() - t0) / 1e9)
    }
    // Contention guard: any within-pass statistic still false-flags
    // when a transient load spike spans a query's whole first pass
    // (observed: alphabetically contiguous 3-7x blowups in a driver
    // bench, all gone on a quiet re-run) — that is what the
    // temporally-separated second pass in medianGate is for. The
    // baseline feeds both the adaptive third sample below and the
    // gate itself.
    val baseline: Map[String, Double] =
      try {
        val raw = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("tools/bench_baseline.json")), "UTF-8")
        """"(q\w+)":\s*([0-9.]+)""".r.findAllMatchIn(raw)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    // ALL samples are recorded (samples map below), not just the min:
    // the per-pass MEDIAN selects the suspects for medianGate's second
    // pass (symmetric, so the one-sided adaptive third sample cannot
    // bias the trigger), while the verdict AND the reported per-query
    // number are the min across every sample (the order statistic the
    // baselines were recorded in — see medianGate's doc).
    // block-lifetime gauge (VERDICT r17 item 2): the count of RDDs
    // still holding blocks after each query's samples + release. Flat
    // across the sweep = no accumulation; a rising series pinpoints
    // the query whose blocks escape the release hook. Rides the
    // samples artifact as `cached_rdds`.
    val gauges = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // per-query environment series (heap/GC/loadavg/disk/shuffle-dir/
    // scratch-dir — envGauge's array), taken after each query's
    // samples, outside the timers. Rides the samples artifact as
    // `env`; bench_check.py prints it for gate-flagged queries.
    val envs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val s1 = timeOne(name, fn)
      val samples =
        if (s1 < AbsFloorSec / 2)
          // sweep-length trim (VERDICT r19 item 6): a sub-half-floor
          // first sample can never flag — the gate needs its statistic
          // (bounded by this single sample's median) over BOTH 1.5×b
          // and the 1 s floor — so the second timed run buys nothing.
          // ~half the catalog is sub-second; dropping their second
          // sample cuts minutes off the driver sweep, and the sweep's
          // wall-clock IS the contention-exposure window.
          Seq(s1)
        else {
          val two = Seq(s1, timeOne(name, fn))
          // adaptive third sample, now median-triggered AND floor-
          // gated: only a query whose 2-sample median would flag pays
          // it, making the first-pass stat a robust median-of-3.
          baseline.get(name) match {
            case Some(b) if median(two) > RegressionX * b &&
              (median(two) max b) > AbsFloorSec => two :+ timeOne(name, fn)
            case _ => two
          }
        }
      gauges(name) = spark.sparkContext.getPersistentRDDs.size
      envs(name) = envGauge()
      maybeGc()
      (name, samples.min, samples)
    }
    // the gate verdict rides the artifact itself (VERDICT r10 item 7):
    // a regression can't ship unnoticed behind a green-looking round
    // because the round's BENCH JSON carries rc=1 plus the names.
    // Errored queries are EXCLUDED from the ratio list exactly as
    // bench_check.py excludes them — their fail-fast wall time is not
    // a plan measurement; they fail the gate through the errors term.
    // Suspects from the full sweep get a SECOND PASS of three timings
    // here, after every other query has run (VERDICT r11 item 1): a
    // load stall contiguous in the sorted run order can inflate all
    // samples of neighboring queries, but not samples taken minutes
    // later. The gate is medianGate's median-triggered min-of-all;
    // the reported per-query number is the min across every sample;
    // the artifact records the second-pass samples separately.
    val fns = SparkEntry.queries
    // the second pass starts from a freshly-collected heap (the
    // r17/r18 blowups were concentrated HERE), and each suspect's
    // re-times are bracketed by an env sample so the artifact shows
    // the box state at the exact moment a blowup reproduces
    maybeGc(force = true)
    val gateEnv = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val (regressed, secondPass) = medianGate(
      results.collect { case (n, _, ss) if !errors.contains(n) => (n, ss) },
      baseline,
      // checked re-times: an errored second-pass run contributes NO
      // sample (the error still lands in `errors`, failing the gate);
      // three samples so the pass's statistic is a median-of-3,
      // robust to a single straggler
      name => {
        val ss = (1 to 3).flatMap(_ => timeOneChecked(name, fns(name))).toSeq
        gateEnv(name) = envGauge()
        maybeGc(force = true)
        ss
      })
    val merged = results.map { case (n, m, ss) =>
      val all = ss ++ secondPass.getOrElse(n, Seq.empty)
      (n, all.min, all)
    }
    val finalErrors = errors // second-pass failures land here too
    val line = benchJson(merged, finalErrors, sfDir, regressed, secondPass,
      withSamples = false)
    // stdout line stays min-per-query (compact, driver-parseable); the
    // persisted artifact additionally carries every raw sample
    val fileLine = benchJson(merged, finalErrors, sfDir, regressed, secondPass,
      withSamples = true, gauges = gauges, envs = envs, gateEnv = gateEnv)
    try {
      val p = java.nio.file.Paths.get("tools/last_bench.json")
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (fileLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] could not write tools/last_bench.json: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
