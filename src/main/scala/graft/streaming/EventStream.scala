package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming restatement of the reference's hand-rolled
  * incremental ingest (SURVEY.md §2.10): the daily Airflow pull with a
  * recomputed T-24h cursor, an intra-batch-only PK check, and a
  * non-idempotent append sink become a checkpointed stream with
  * watermarked cross-batch dedup and transactional file-sink appends.
  *
  * Source is the parquet file stream (new files under a directory =
  * new batches — exactly the daily-drop layout of a 100 TB lake);
  * event time is `ts`, mirroring `played_at`.
  *
  * `events.ts` storage varies by producer — TIMESTAMP(NANOS) surfaced
  * as raw long, naive micros (TIMESTAMP_NTZ), or UTC micros — so the
  * stream schema is sniffed from a footer at source-build time and the
  * plan normalizes to TimestampType (see [[graft.Tables.normalizeTs]]).
  */
object EventStream {

  private val runId = new AtomicInteger(0)

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n`: the streaming STATE-sizing primitive. A stateful stream's
    * state store count is pinned to the shuffle-partition count at its
    * first checkpoint (a restart restores it from the offset log), and
    * every micro-batch pays a commit and maintenance per store (a
    * stream-stream join keeps FOUR stores per partition). Callers pass
    * [[stateStores]] of the stream they drain; tests pin `n` here.
    */
  def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions", n.toString)(withConfiguredStateStore(spark)(body))

  /** Input bytes per micro-batch each state store is sized for. */
  private val StateStoreTargetBytes: Long = 1L << 20

  /** The state store count for draining `stream`: one store per MiB of
    * input per micro-batch, `clamp(ceil(batchBytes / 1 MiB), 1, cap)`,
    * where `cap` is the lesser of `spark.sql.shuffle.partitions` and
    * the task slots (`defaultParallelism`). `batchBytes` sums, over the
    * stream's file sources, the bytes of the data files under each
    * source's paths now (a driver-side Hadoop listing, no Spark job)
    * divided by the micro-batches its `maxFilesPerTrigger` cuts them
    * into. A stream with any non-file source (memory, rate) has no
    * backlog to measure and keeps the session's count.
    *
    * Each store is one task per stateful operator per micro-batch, and
    * each pays a fixed open/commit: more stores than a batch's rows
    * need only add commits, fewer leave task slots idle while one task
    * updates the whole state. Measured on 4 vCPUs (local[4]): a warm
    * q191 drain (8 pull files, ~27k rows, one file per micro-batch,
    * two stateful operators) takes 8.5-10.3 s at 8 stores, 5.2-6.1 s at 4,
    * 4.1-4.7 s at 2 and 3.6-4.5 s at 1, with identical results. One
    * batch over 1.8 MiB of events (sf0.1): the session-window
    * aggregate takes 2.3-3.5 s at 1 store and 1.9-2.9 s at 2-8; the
    * watermarked dedup and the daily count are fastest at 1-2 stores.
    * One batch over 14.4 MiB: the session-window aggregate takes
    * 13-17 s at 1 store, 8-13 s at 2 and 6-9 s at 4 or 8; the dedup
    * is fastest at 2-4 and slower at 16. So the count grows with the
    * input a batch hands the state, and stops at the task slots.
    *
    * The count fits a one-shot AvailableNow drain over a backlog that
    * is already on disk, which is what every drain in this repo is. It
    * only applies when a checkpoint starts for the first time (a
    * restart restores it from the offset log), so a long-running stream
    * that starts on an empty or small landing directory would keep 1
    * store for good: such a stream should pass a count sized to its
    * expected state volume instead (and `StateStoreCountLintSpec`
    * admit it).
    */
  def stateStores(stream: DataFrame): Int = stateStores(stream, StateStoreTargetBytes)

  private[graft] def stateStores(stream: DataFrame, targetBytes: Long): Int = {
    val spark = stream.sparkSession
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sources = stream.queryExecution.analyzed.collectLeaves().filter(_.isStreaming)
    val files = sources.collect {
      case r: StreamingRelation if classOf[FileFormat].isAssignableFrom(r.dataSource.providingClass) =>
        r.dataSource
    }
    if (files.isEmpty || files.size < sources.size) session
    else {
      val batchBytes = files.map { ds =>
        val opts = CaseInsensitiveMap(ds.options)
        val lens = (ds.paths ++ opts.get("path"))
          .flatMap(p => graft.Tables.dataFiles(spark, p).map(_.getLen))
        val batches = opts.get("maxFilesPerTrigger").map(_.toInt)
          .fold(1)(m => math.max(1, (lens.size + m - 1) / m))
        lens.sum / batches
      }.sum
      val cap = math.min(session, spark.sparkContext.defaultParallelism)
      math.min(math.max(1L, (batchBytes + targetBytes - 1) / targetBytes), cap.toLong).toInt
    }
  }

  /** Run `body` with the session conf `key` set to `value`, then restore it. */
  private def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Fully-qualified class name of Spark's RocksDB state store provider
    * (ships in spark-sql; rocksdbjni is on the cluster classpath).
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the given state store provider class — the
    * streaming STATE-PLACEMENT knob, complementing the count knob
    * above. The default HDFSBackedStateStoreProvider keeps every
    * version of every store on-heap (a full key→value map per store,
    * with old versions retained for fault tolerance until maintenance
    * trims them): fine at test scale, but at 100x keyed state —
    * stream-stream join state for millions of users, a week of dedup
    * keys — on-heap maps become the executor-memory scale-killer.
    * RocksDB keeps state off-heap on local SSD with incremental
    * changelog checkpointing, so state volume is bounded by disk, not
    * heap, and GC pressure stays flat as keys grow. The provider is
    * pinned into the query's checkpoint at first start; switching
    * providers means a new checkpoint (same rule as re-sizing the
    * store count).
    *
    * Measured at sf0.1 (AvailableNow drains, BenchOne 3 reps — see
    * SCALING.md round-8): the windowed aggs and the dedup are WITHIN
    * NOISE of in-memory (q27 1.11 vs 1.25 s, q107 1.67 vs 1.75,
    * q110 2.06 vs 1.97) — the native store open/commit constant is
    * small; only the stream-stream interval join, which keeps FOUR
    * stores per partition, pays visibly (q68 3.13 vs 2.34 s, ~1.33x).
    * So the off-heap path costs little even where it isn't yet needed,
    * and is the only option once keyed state outgrows the heap — the
    * 100 TB regime. Results are provider-independent (StreamingSpec
    * asserts equality).
    */
  def withStateStore[T](spark: SparkSession, providerClass: String)(body: => T): T =
    withConf(spark, "spark.sql.streaming.stateStore.providerClass", providerClass)(body)

  /** Apply the session-wide provider choice from `-Dgraft.stateStore`
    * (`rocksdb` → [[RocksDbProvider]]; a fully-qualified class name is
    * passed through verbatim; unset → Spark's default in-memory
    * provider). Every stateful catalog query runs its drain through
    * [[withStatePartitions]], so one JVM flag flips the whole suite —
    * how the RocksDB constant was measured.
    */
  def withConfiguredStateStore[T](spark: SparkSession)(body: => T): T =
    sys.props.get("graft.stateStore") match {
      case Some("rocksdb") => withStateStore(spark, RocksDbProvider)(body)
      case Some(cls)       => withStateStore(spark, cls)(body)
      case None            => body
    }

  /** The canonical `events` layout (TESTDATA.md; ts at micros). Used
    * as the declared stream schema when the directory has no footers
    * to sniff yet — the daily-drop layout starts streams BEFORE the
    * first file lands, so schema inference can't be a startup
    * requirement.
    */
  val CanonicalEventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Unbounded source over a parquet directory with event-time `ts`.
    * Recursive lookup: daily drops usually land in nested date
    * directories. A streaming source needs a declared schema, and the
    * declaration must match what the files actually store — so it is
    * sniffed from the footers already present (one driver-side listing,
    * no data read), then `ts` is normalized in the plan. Files arriving
    * later must match the sniffed layout, the usual file-stream
    * fixed-schema contract.
    *
    * When the directory is empty (or doesn't exist yet) there are no
    * footers to sniff; the stream starts against `schemaIfEmpty`
    * (default [[CanonicalEventsSchema]]) so a not-yet-populated drop
    * directory doesn't fail source construction — the pre-sniff
    * behavior this source had when its schema was declared. Callers
    * with a non-canonical producer pass their own. Emptiness is
    * decided by an explicit listing ([[graft.Tables.firstParquetFile]])
    * rather than catching the sniff's AnalysisException — a directory
    * that HAS files but can't be read (corrupt footers, a path
    * pointing at non-parquet junk) must fail loudly at construction,
    * not silently start an empty canonical-schema stream.
    */
  def source(spark: SparkSession, dir: String,
      schemaIfEmpty: StructType = CanonicalEventsSchema): DataFrame = {
    // Deliberately session-sticky, NOT save/restored: the returned
    // stream reads files on every micro-batch, long after this call
    // returns, and each read consults the session conf — restoring it
    // here would break the running stream. Tables.load sets the same
    // flag for the batch path; reading TIMESTAMP(NANOS) as long (then
    // normalizing via Tables.normalizeTs) is this engine's session-wide
    // contract, not a transient.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema =
      if (graft.Tables.firstParquetFile(spark, dir).isEmpty) schemaIfEmpty
      else spark.read.option("recursiveFileLookup", "true").parquet(dir).schema
    graft.Tables.normalizeTs(
      spark.readStream
        .schema(fileSchema)
        .option("recursiveFileLookup", "true")
        .parquet(dir),
      longIsNanos = graft.Tables.tsIsNanosAnnotated(spark, dir))
  }

  /** Watermarked cross-batch dedup (fixes the reference's intra-batch-
    * only PK check, spotify_etl2.py:61-62): state is bounded by the
    * 7-day watermark — the reference's own staleness tolerance — so at
    * 100 TB the dedup map holds one week of keys, not all history.
    *
    * `dropDuplicatesWithinWatermark`, NOT plain
    * `dropDuplicates("event_id")`: Spark only builds a state-eviction
    * predicate when the event-time column is part of the dedup key, so
    * the plain form's watermark dropped late ROWS but never evicted
    * stored KEYS — an unbounded state map, the exact holds-all-history
    * failure this function exists to fix. The within-watermark form
    * guarantees dedup for duplicates arriving within the 7-day delay
    * of each other (the reference's own staleness tolerance) and
    * evicts keys once the watermark passes.
    */
  def dedupped(src: DataFrame): DataFrame =
    src.withWatermark("ts", "7 days").dropDuplicatesWithinWatermark("event_id")

  /** Tumbling daily aggregate (the natural extension of the reference's
    * per-run summary, SURVEY.md §2.10 "Windows").
    */
  def dailyAgg(src: DataFrame): DataFrame =
    src
      .withWatermark("ts", "7 days")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("total_value"))

  /** Gap-based session aggregate — the built-in `session_window`
    * (streaming counterpart of operators.Sessionize's analytic-window
    * batch form; state bounded by the watermark). Boundary: breaks on
    * gap >= threshold (half-open [start, last+gap) windows), where the
    * batch form breaks strictly greater — the documented variant, see
    * Sessionize's header doc.
    */
  def sessionAgg(src: DataFrame, gapMinutes: Int): DataFrame =
    src
      .withWatermark("ts", "7 days")
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Stream-stream interval join (§2.10 extension): each click paired
    * with the same user's purchases in the preceding `windowMinutes`.
    * Both sides carry watermarks, so the join state Spark keeps is
    * bounded: a purchase row can be dropped once the click-side
    * watermark passes `p_ts + windowMinutes` — at 100 TB the state
    * store holds one window of purchases per user, not all history.
    * The equi half (user_id) partitions the state; the range half is
    * evaluated inside each partition — the streaming analogue of
    * [[graft.operators.AsOfJoin]]'s shuffle-once design.
    * Output: (user_id, c_id, p_id, gap_sec) — gap_sec = whole seconds
    * from purchase to click.
    */
  def intervalJoined(src1: DataFrame, src2: DataFrame, windowMinutes: Int): DataFrame = {
    val clicks = src1.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "7 days")
    val purchases = src2.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "7 days")
    clicks.join(purchases,
      expr(s"""c_user = p_user
              |AND p_ts >= c_ts - INTERVAL $windowMinutes MINUTES
              |AND p_ts <= c_ts""".stripMargin))
      .select(col("c_user").as("user_id"), col("c_id"), col("p_id"),
        expr("(unix_micros(c_ts) - unix_micros(p_ts)) div 1000000").as("gap_sec"))
  }

  /** Append-mode drain into a memory sink — for streams (joins,
    * dedup) that don't admit complete mode. With AvailableNow all
    * input is final, so append emits every result row.
    */
  def runAppendToMemory(spark: SparkSession, stream: DataFrame): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    val q = stream.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Drain all currently-available input through `plan` and return the
    * final result as a batch DataFrame (Trigger.AvailableNow + complete
    * mode into a memory sink). Used by tests and the oracle-checked
    * catalog entry; production would `writeStream.foreachBatch` into a
    * partitioned table instead of collecting.
    *
    * The query starts with `noDataMicroBatches` off (the session value
    * is restored once `start()` returns; the running query keeps its
    * own copy). Complete mode never evicts state, so the zero-row batch
    * a watermark move would trigger after the last input batch only
    * re-emits the same table. The append-mode drains below keep that
    * batch: it flushes the windows the watermark has passed.
    */
  def runToCompletion(spark: SparkSession, agg: DataFrame): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    val q = withConf(spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
      agg.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name)
  }

  /** Append-mode drain for non-aggregate streams (dedup): rows whose
    * watermark has passed are final.
    */
  def runAppendToDir(agg: DataFrame, outDir: String, checkpoint: String): Unit = {
    val q = agg.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** foreachBatch drain into an arbitrary batch sink — the §2.10
    * "append output mode to JDBC/Parquet sink via foreachBatch"
    * mapping. Each micro-batch arrives as a plain DataFrame, so any
    * batch writer (JDBC, partitioned parquet, MERGE upsert) slots in;
    * the checkpoint still provides exactly-once per batch id.
    */
  def runForeachBatch(
      stream: DataFrame,
      checkpoint: String)(write: (DataFrame, Long) => Unit): Unit = {
    val q = stream.writeStream
      .foreachBatch(write)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
