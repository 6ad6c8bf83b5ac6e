package graft

import java.nio.file.Files

import scala.collection.mutable

import graft.streaming.{EventStream, IncrementalBatch}
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** Streaming tier (SURVEY.md §2.10): the streamed plan must agree with
  * the equivalent batch plan on the same files, cross-batch dedup must
  * hold where the reference's intra-batch check fails, and the
  * incremental-batch cursor must be idempotent under retry.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("streamed daily agg equals batch daily agg over the same files") {
    val dir = tmp("graft-stream-src")
    // stage the events parquet as a stream-source directory (canonical
    // micros layout; producer-layout variance is TsLayoutSpec's job)
    Tables.load(spark, sf, "events")
      .write.parquet(s"$dir/data")
    val streamed = EventStream.runToCompletion(spark,
      EventStream.dailyAgg(EventStream.source(spark, s"$dir/data")))
      .select($"w.start".as("day"), $"event_type", $"n_events", $"total_value")

    val batch = Tables.load(spark, sf, "events")
      .groupBy(window($"ts", "1 day").getField("start").as("day"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(12,2)")).cast("double").as("total_value"))

    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("RocksDB state store: daily agg and dedup match the in-memory provider") {
    val dir = tmp("graft-rocksdb-src")
    Tables.load(spark, sf, "events")
      .write.parquet(s"$dir/data")
    def daily() = EventStream.runToCompletion(spark,
      EventStream.dailyAgg(EventStream.source(spark, s"$dir/data")))
      .select($"w.start".as("day"), $"event_type", $"n_events", $"total_value")
    def dedupCount() = EventStream.runAppendToMemory(spark,
      EventStream.dedupped(EventStream.source(spark, s"$dir/data"))).count()

    val (memAgg, memDedup) = (daily().collect().toSet, dedupCount())
    val (rocksAgg, rocksDedup) = EventStream.withStateStore(spark, EventStream.RocksDbProvider) {
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        === EventStream.RocksDbProvider)
      (daily().collect().toSet, dedupCount())
    }
    assert(rocksAgg === memAgg)
    assert(rocksDedup === memDedup)
    // scope restored: the provider choice must not leak into later tests
    // (getOption surfaces the conf DEFAULT — the HDFS-backed provider —
    // so assert RocksDB is gone rather than the key being unset)
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      !== EventStream.RocksDbProvider)
  }

  test("graft.stateStore sysprop routes withStatePartitions through RocksDB") {
    val dir = tmp("graft-rocksdb-prop")
    Tables.load(spark, sf, "events")
      .write.parquet(s"$dir/data")
    sys.props("graft.stateStore") = "rocksdb"
    try {
      val n = EventStream.withStatePartitions(spark, 4) {
        assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
          === EventStream.RocksDbProvider)
        EventStream.runAppendToMemory(spark,
          EventStream.dedupped(EventStream.source(spark, s"$dir/data"))).count()
      }
      assert(n === Tables.load(spark, sf, "events").count())
    } finally sys.props -= "graft.stateStore"
  }

  /** q191's shape over `n` overlapping daily pulls of the sf0.001
    * events: pull d covers days [d-1, d+1), one file each, drained one
    * file per micro-batch through watermarked dedup and a daily count. */
  private def repullDrain(n: Int): DataFrame = {
    val feed = tmp("graft-repull") + "/feed"
    val ev = Tables.load(spark, sf, "events").select($"event_id", $"event_type", $"ts", $"value")
    val t0 = ev.agg(min($"ts")).head().getTimestamp(0).getTime
    def day(d: Int) = lit(new java.sql.Timestamp(t0 + d * 86400000L))
    for (d <- 0 until n)
      ev.filter($"ts" >= day(d - 1) && $"ts" < day(d + 1))
        .coalesce(1).write.mode("append").parquet(feed)
    spark.readStream.schema(spark.read.parquet(feed).schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
      .withWatermark("ts", "7 days")
      .dropDuplicates("event_id")
      .groupBy(window($"ts", "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"))
  }

  test("stateStores sizes a file-sourced stream to its bytes per batch, capped at the task slots") {
    val dir = tmp("graft-state-stores") + "/data"
    Tables.load(spark, sf, "events").repartition(3).write.parquet(dir)
    val stream = EventStream.dedupped(EventStream.source(spark, dir))
    val bytes = Tables.dataFiles(spark, dir).map(_.getLen).sum
    assert(bytes > 1000L)
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val cap = math.min(session, spark.sparkContext.defaultParallelism)
    assert(cap >= 3)
    assert(EventStream.stateStores(stream) === 1, "a small backlog takes one store")
    // the count grows with the bytes a batch reads: ceil(bytes / target)
    assert(EventStream.stateStores(stream, bytes) === 1)
    assert(EventStream.stateStores(stream, (bytes + 1) / 2) === 2)
    assert(EventStream.stateStores(stream, (bytes + 2) / 3) === 3)
    // a stream that reads the files twice reads twice the bytes a batch
    val twice = EventStream.source(spark, dir).union(EventStream.source(spark, dir))
    assert(EventStream.stateStores(twice, bytes) === 2)
    // maxFilesPerTrigger spreads the 3 files over batches
    def perTrigger(m: Int) = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", m).parquet(dir)
    assert(EventStream.stateStores(perTrigger(3), (bytes + 1) / 2) === 2)
    assert(EventStream.stateStores(perTrigger(1), (bytes + 1) / 2) === 1)
    assert(EventStream.stateStores(perTrigger(1), (bytes / 3 + 1) / 2) === 2)
    // capped at the task slots and the session's shuffle partitions
    assert(EventStream.stateStores(stream, 1L) === cap)
    EventStream.withStatePartitions(spark, 2) {
      assert(EventStream.stateStores(stream, 1L) === 2)
    }
    // an empty drop directory has no backlog
    assert(EventStream.stateStores(EventStream.source(spark, tmp("graft-state-empty"))) === 1)
    // a non-file source has no backlog to measure: the session's count
    val rate = spark.readStream.format("rate").load()
    assert(EventStream.stateStores(rate, 1L) === session)
    assert(EventStream.stateStores(rate) === session)
  }

  test("a complete-mode drain runs no trailing zero-row batch and restores noDataMicroBatches") {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val before = spark.conf.getOption(key)
    val inputRows = mutable.ArrayBuffer.empty[Long]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        inputRows.synchronized { inputRows += e.progress.numInputRows; () }
    }
    spark.streams.addListener(listener)
    val n = try {
      val out = EventStream.runToCompletion(spark, repullDrain(3))
      TestListenerBus.drain(spark.sparkContext)
      out.count()
    } finally spark.streams.removeListener(listener)
    assert(n > 0)
    // one progress event per pull file, none for a trailing batch
    assert(inputRows.synchronized(inputRows.toList).map(_ > 0) === List(true, true, true))
    assert(spark.conf.getOption(key) === before)
  }

  test("a q191-shaped drain gives the same rows at the derived store count as at a pinned 8") {
    val agg = repullDrain(4)
    assert(EventStream.stateStores(agg) === 1)
    def drain(stores: Int) = EventStream.withStatePartitions(spark, stores)(
      EventStream.runToCompletion(spark, agg))
      .select($"w.start".as("day"), $"n_events").orderBy($"day").collect().toSeq
    val derived = drain(EventStream.stateStores(agg))
    assert(derived.nonEmpty)
    assert(derived === drain(8))
  }

  test("stream-stream interval join equals the batch interval join on the same files") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = s"/root/testdata/sf0.001/events.parquet"
    val streamed = EventStream.runAppendToMemory(spark, EventStream.intervalJoined(
      EventStream.source(spark, src), EventStream.source(spark, src), windowMinutes = 60))

    val ev = Tables.load(spark, sf, "events")
    val batch = ev.filter($"event_type" === "click").as("c")
      .join(ev.filter($"event_type" === "purchase").as("p"),
        $"c.user_id" === $"p.user_id" &&
          $"p.ts" >= $"c.ts" - expr("INTERVAL 60 MINUTES") && $"p.ts" <= $"c.ts")
      .select($"c.user_id", $"c.event_id".as("c_id"), $"p.event_id".as("p_id"),
        expr("(unix_micros(c.ts) - unix_micros(p.ts)) div 1000000").as("gap_sec"))

    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("watermarked dropDuplicates removes cross-batch duplicates (reference quirk fixed)") {
    val src = tmp("graft-dedup-src")
    val out = tmp("graft-dedup-out")
    val ck = tmp("graft-dedup-ck")
    val ev = Tables.load(spark, sf, "events").limit(100)
    // batch 1: rows; batch 2: the SAME rows again (a retried daily pull)
    ev.write.parquet(s"$src/b1")
    val stream = EventStream.dedupped(EventStream.source(spark, src))
    EventStream.runAppendToDir(stream, out, ck)
    ev.write.parquet(s"$src/b2")
    EventStream.runAppendToDir(stream, out, ck)

    val result = spark.read.parquet(out)
    assert(result.count() == result.select("event_id").distinct().count())
  }

  test("stream starts against an empty drop directory, then reads the first drop") {
    // daily-drop layout: the query is started BEFORE the first file
    // lands. No footers to sniff -> the canonical declared schema
    // takes over; the first drain emits nothing, the drop then lands
    // and the SAME checkpointed plan drains it.
    val src = tmp("graft-predrop-src")
    val out = tmp("graft-predrop-out")
    val ck = tmp("graft-predrop-ck")
    val stream = EventStream.dedupped(EventStream.source(spark, src))
    assert(stream.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    EventStream.runAppendToDir(stream, out, ck) // drains zero batches
    Tables.load(spark, sf, "events").limit(40).write.parquet(s"$src/day1")
    EventStream.runAppendToDir(stream, out, ck)
    assert(spark.read.parquet(out).count() == 40)
  }

  test("a drop directory with unreadable parquet fails source construction loudly") {
    // the empty-dir fallback must not swallow real errors: a present
    // but corrupt/junk .parquet file means the path is POPULATED and
    // the schema sniff's failure has to surface at construction, not
    // silently start an empty canonical-schema stream
    val src = tmp("graft-junk-src")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(src, "day1.parquet"),
      "this is not parquet".getBytes)
    val e = intercept[Exception] { EventStream.source(spark, src) }
    assert(e.getMessage != null)
  }

  test("foreachBatch drains deduped stream into a batch sink exactly once") {
    val src = tmp("graft-feb-src")
    val out = tmp("graft-feb-out") + "/tbl"
    val ck = tmp("graft-feb-ck")
    val ev = Tables.load(spark, sf, "events").limit(50)
    ev.write.parquet(s"$src/b1")
    val stream = EventStream.dedupped(EventStream.source(spark, src))
    EventStream.runForeachBatch(stream, ck) { (batch, _) =>
      batch.write.mode("append").parquet(out)
    }
    // re-drain with the same checkpoint: no new input -> no new writes
    EventStream.runForeachBatch(stream, ck) { (batch, _) =>
      batch.write.mode("append").parquet(out)
    }
    assert(spark.read.parquet(out).count() == 50)
  }

  test("incremental batch: second ingest of same data appends nothing (idempotent retry)") {
    val sink = tmp("graft-inc-sink") + "/t"
    val ev = Tables.load(spark, sf, "events")
    val n1 = IncrementalBatch.ingest(ev, sink)
    assert(n1 == ev.count())
    val n2 = IncrementalBatch.ingest(ev, sink) // the reference would double-append here
    assert(n2 == 0)
    assert(spark.read.parquet(sink).count() == n1)
  }

  test("incremental batch: an unreadable sink fails the run instead of resetting the cursor") {
    // a catch-all on the high-water probe would treat ANY failure as
    // "first run" and re-append everything — the double-append this
    // module exists to prevent. Only a genuinely missing path may.
    val sink = tmp("graft-inc3-sink") + "/t"
    val ev = Tables.load(spark, sf, "events")
    IncrementalBatch.ingest(ev, sink)
    // corrupt the sink: replace a data file's bytes with junk
    val part = new java.io.File(sink).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.write(part.toPath, "not a parquet file".getBytes)
    intercept[Exception] { IncrementalBatch.ingest(ev, sink) }
    // and the sink was NOT appended to by the failed attempt
    assert(new java.io.File(sink).listFiles().count(_.getName.endsWith(".parquet")) >= 1)
  }

  test("incremental batch: only rows past the high-water mark land") {
    val sink = tmp("graft-inc2-sink") + "/t"
    val ev = Tables.load(spark, sf, "events")
    val cut = ev.agg(expr("percentile_approx(unix_micros(ts), 0.5)")).head().getLong(0)
    val old = ev.filter(unix_micros($"ts") <= cut)
    val all = ev
    IncrementalBatch.ingest(old, sink)
    val n2 = IncrementalBatch.ingest(all, sink)
    assert(n2 == all.count() - old.count())
    assert(spark.read.parquet(sink).count() == all.count())
  }
}
