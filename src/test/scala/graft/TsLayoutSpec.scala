package graft

import java.nio.file.Files

import graft.streaming.EventStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Producer-agnostic `events.ts` loading (the round-8 lesson: the
  * driver's fixtures switched TIMESTAMP(NANOS) → naive micros and every
  * events query broke because the unit was assumed, not read). A lake
  * ingesting 100 TB from heterogeneous producers sees nanos-as-long,
  * naive-micros (TIMESTAMP_NTZ) and UTC-micros files side by side; the
  * loaders must yield identical frames for all three.
  */
class TsLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Stage the sf0.001 events in each of the three producer layouts. */
  private def staged(): (String, String, String) = {
    val base = Tables.load(spark, sf, "events")
    val nanosDir = tmp("graft-ts-nanos")
    // a REAL nanos footer: INT64 + TIMESTAMP(NANOS) annotation (Spark
    // can't write one; the hardened loader demands the annotation)
    TsTestFixtures.writeEventsNanos(base, s"$nanosDir/events.parquet")
    val ntzDir = tmp("graft-ts-ntz")
    base.withColumn("ts", $"ts".cast(TimestampNTZType)) // naive micros
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
    val utcDir = tmp("graft-ts-utc")
    base.write.mode("overwrite").parquet(s"$utcDir/events.parquet") // UTC micros
    (nanosDir, ntzDir, utcDir)
  }

  private def canon(df: DataFrame): DataFrame =
    df.select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")

  test("batch loader normalizes nanos-long, NTZ-micros and UTC-micros identically") {
    val (nanosDir, ntzDir, utcDir) = staged()
    val frames = Seq(nanosDir, ntzDir, utcDir).map(d => canon(Tables.load(spark, d, "events")))
    frames.foreach(f => assert(f.schema("ts").dataType === TimestampType))
    val ref = frames.head
    frames.tail.foreach { f =>
      assert(f.exceptAll(ref).isEmpty && ref.exceptAll(f).isEmpty)
    }
    // and all three agree with the live fixture layout
    val fixture = canon(Tables.load(spark, sf, "events"))
    assert(fixture.exceptAll(ref).isEmpty && ref.exceptAll(fixture).isEmpty)
  }

  test("streaming source sniffs the footer layout and agrees with the batch loader") {
    val (nanosDir, ntzDir, utcDir) = staged()
    val batch = canon(Tables.load(spark, sf, "events")).collect().toSet
    for (dir <- Seq(nanosDir, ntzDir, utcDir)) {
      val streamed = EventStream.runAppendToMemory(
        spark, EventStream.source(spark, s"$dir/events.parquet"))
      assert(streamed.schema("ts").dataType === TimestampType)
      assert(canon(streamed).collect().toSet === batch, s"layout at $dir diverged")
    }
  }

  test("normalizeTs rejects an unsupported ts storage type") {
    val bad = Seq((1L, "x")).toDF("event_id", "ts")
    assertThrows[IllegalArgumentException](Tables.normalizeTs(bad))
  }

  test("un-annotated BIGINT epoch-millis ts is rejected loudly, not mis-scaled") {
    // a producer writing raw epoch-millis longs: Spark stores plain
    // INT64, no TIMESTAMP annotation. Before the footer-driven branch
    // this loaded through the nanos path and silently mis-scaled every
    // timestamp by 10^6; now the loader refuses with a named error.
    val dir = tmp("graft-ts-millis")
    Tables.load(spark, sf, "events")
      .withColumn("ts", unix_millis($"ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](
      Tables.load(spark, dir, "events").collect())
    assert(e.getMessage.contains("TIMESTAMP(NANOS)"),
      s"expected the annotation-named error, got: ${e.getMessage}")
    // footer probe agrees: no nanos annotation present
    assert(!Tables.tsIsNanosAnnotated(spark, s"$dir/events.parquet"))
  }

  test("footer probe identifies the real nanos annotation and tolerates empty dirs") {
    val (nanosDir, _, utcDir) = staged()
    assert(Tables.tsIsNanosAnnotated(spark, s"$nanosDir/events.parquet"))
    assert(!Tables.tsIsNanosAnnotated(spark, s"$utcDir/events.parquet"))
    assert(!Tables.tsIsNanosAnnotated(spark, tmp("graft-ts-empty")))
    assert(!Tables.tsIsNanosAnnotated(spark, "/nonexistent/graft-ts-path"))
  }

  test("footer probe returns a file root itself, whatever its name") {
    val dir = Files.createTempDirectory("graft-file-root").toString
    Seq((1L, "x")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/t")
    val part = new java.io.File(s"$dir/t").listFiles().find(_.getName.endsWith(".parquet")).get
    val bare = new java.io.File(s"$dir/data.bin")
    assert(part.renameTo(bare))
    assert(Tables.firstParquetFile(spark, bare.getPath).map(_.getName) == Some("data.bin"))
    assert(Tables.firstParquetFile(spark, s"$dir/t").isEmpty)
    assert(Tables.firstParquetFile(spark, s"$dir/missing").isEmpty)
  }

  test("footer probe finds data under a hidden-prefixed ANCESTOR and a relative root") {
    // the hidden-segment walk must stop AT the given root: data living
    // under e.g. ~/.cache/... is legitimate, and a RELATIVE root
    // argument must terminate the walk just like a qualified one
    // (pre-fix, the unqualified comparison never matched the
    // fully-qualified listed paths, so the walk escaped the root and
    // the .cache ancestor marked every file hidden)
    val base = Files.createTempDirectory("graft-dotted").toString + "/.cache/data"
    Seq((1L, "x")).toDF("id", "v").write.parquet(base)
    assert(Tables.firstParquetFile(spark, base).isDefined)
    // relative form of the same root (cwd is the repo during tests)
    val relBase = "target/graft-hidden-walk-test/.cache/data"
    Seq((2L, "y")).toDF("id", "v").write.mode("overwrite").parquet(relBase)
    try assert(Tables.firstParquetFile(spark, relBase).isDefined)
    finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File("target/graft-hidden-walk-test"))
    }
  }
}
