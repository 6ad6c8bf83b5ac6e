package graft

import org.apache.spark.sql.SparkSession

/** Dev harness: time individual catalog queries with repetitions.
  *
  * Usage: runMain graft.BenchOne <reps> <queryName> [<queryName> ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default: the
  * machine's cores, [[Bench.cpus]]).
  *
  * Prints one line per (query, rep) plus a min/median summary — the
  * adjudication tool for bench-noise disputes (run on a quiet machine,
  * 3+ reps; compare the min against tools/bench_baseline.json).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val names = args.drop(1).toSeq
    require(names.nonEmpty, "usage: BenchOne <reps> <queryName>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.cpus
    // e.g. SPARK_GRAFT_SYSPROPS="graft.materialize=persist" to A/B a mode flag
    sys.env.get("SPARK_GRAFT_SYSPROPS").foreach(_.split(",").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => sys.props(k) = v
        case _ => System.err.println(s"ignoring malformed SPARK_GRAFT_SYSPROPS entry: '$kv'")
      }
    })
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same warm-up set as Bench, incl. one stateful stream (cold
    // microbatch/state-store init otherwise lands in rep1)
    for (w <- Seq("q5_top_parts", "q17_fingerprint", "q18_cosine_topk",
                  "q27_stream_daily_counts"))
      try SparkEntry.queries(w)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
      val times = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        // same between-sample block + state-store release as Bench
        // (outside the timer): reps stay independent of accumulated
        // checkpoint blocks AND of prior streams' state-store
        // providers (whose maintenance task otherwise grows with reps)
        graft.operators.Dedup.releaseMaterialized()
        org.apache.spark.sql.GraftSqlBridge.unloadStreamingState()
        println(f"[benchone] $name rep$i: $dt%.3f s")
        dt
      }.sorted
      println(f"[benchone] $name min=${times.head}%.3f median=${times(times.size / 2)}%.3f max=${times.last}%.3f")
    }
    spark.stop()
  }
}
