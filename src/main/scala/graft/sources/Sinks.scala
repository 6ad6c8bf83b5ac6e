package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The reference's four sinks (SURVEY.md §2.2), Spark-native.
  *
  * K1 CSV: `df.to_csv(path, index=False)` → header'd CSV write; any
  *     Hadoop FS path works (s3a:// for the reference's S3 case).
  * K2 append table: `to_sql(..., if_exists="append")` → at scale the
  *     right analog is an append to a date-partitioned parquet table
  *     (each daily batch lands as new files, no table rewrite); JDBC
  *     remains available for actual RDBMS targets.
  * K3 console display: formatted show with the m:ss duration math
  *     (new.py:170).
  * K4 XCom summary: single-row aggregate → one JSON line on stdout,
  *     captured by whatever orchestrator submitted the job.
  */
object Sinks {

  /** K1 — header'd CSV (spotify_etl.py:170-194, new.py:178-208). */
  def csv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** K2 (scale path) — append a batch to a `timestamp`-partitioned
    * parquet table; the accumulating-append semantics of the SQLite
    * sink (spotify_etl2.py:220) with partition pruning for free.
    *
    * Empty-string partition values are rewritten to the visible
    * sentinel "unknown" BEFORE the write: Spark stores '' as
    * __HIVE_DEFAULT_PARTITION__, which reads back as NULL — silently
    * mutating the flatten's guaranteed non-null '' default (a missing
    * played_at) into a null downstream consumers and the validation
    * null-count would trip over. A named sentinel keeps the row
    * visible, non-null, and prunable. NOTE for post-read consumers:
    * after a sink round-trip the flatten/Validation '' default reads
    * back as "unknown" — match on the sentinel, not ''.
    *
    * The rewrite applies ONLY to string partition columns: on a
    * non-string column `col === ""` type-coerces, and under ANSI the
    * '' cast can throw at runtime for a value the plain write would
    * have stored fine.
    */
  /** The ''->sentinel guard shared by every partitioned sink format.
    * Column lookup is case-INSENSITIVE like Spark's own resolver —
    * `df.schema(name)` is exact-match and would reject a mixed-case
    * caller the write itself accepts. Returns the df AND the
    * authoritative spelling of the column: the EXISTING table's
    * `name=` directory prefix when the path already holds one
    * (appends from dataframes whose schemas case the column
    * differently must land in one directory family), else the df
    * schema's spelling. Writing a second casing into an existing
    * layout forks it (`Timestamp=...` beside `timestamp=...`) and
    * poisons partition discovery for every subsequent read.
    */
  private def withPartitionSentinel(df: DataFrame, partitionCol: String,
                                    path: String): (DataFrame, String) = {
    val field = df.schema.fields.find(_.name == partitionCol)
      .orElse(df.schema.fields.find(_.name.equalsIgnoreCase(partitionCol)))
    val schemaName = field.map(_.name).getOrElse(partitionCol)
    // an EXISTING table owns the spelling: two dataframes whose schemas
    // case the column differently must still land in one directory
    // family, so the authoritative name is whatever `<name>=` prefix
    // the table on disk already uses — df-schema spelling only seeds a
    // fresh table
    val resolved = existingPartitionSpelling(df, path, schemaName).getOrElse(schemaName)
    val isString = field.exists(_.dataType == org.apache.spark.sql.types.StringType)
    val out =
      if (resolved == schemaName && !isString) df
      else {
        val renamed = if (resolved == schemaName) df
          else df.withColumnRenamed(schemaName, resolved)
        if (isString) renamed.withColumn(resolved,
          when(col(s"`$resolved`") === "", lit("unknown")).otherwise(col(s"`$resolved`")))
        else renamed
      }
    (out, resolved)
  }

  /** The partition-column spelling an existing table at `path` already
    * uses, detected from its `name=value` directories (case-insensitive
    * match against the df's spelling); None for a fresh table or an
    * unpartitioned layout.
    */
  private def existingPartitionSpelling(df: DataFrame, path: String,
                                        name: String): Option[String] = {
    import org.apache.hadoop.fs.Path
    // a listing failure PROPAGATES and fails the write: silently
    // falling back to the df spelling on a transient FS error would
    // re-open the exact layout fork this guard exists to prevent —
    // the caller's retry (scheduler-level) re-lists on a healthy FS
    val p = new Path(path)
    val fs = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else fs.listStatus(p).iterator
      .filter(_.isDirectory).map(_.getPath.getName)
      .collectFirst { case n if n.contains("=") &&
        n.substring(0, n.indexOf('=')).equalsIgnoreCase(name) =>
        n.substring(0, n.indexOf('=')) }
  }

  def appendPartitioned(df: DataFrame, path: String, partitionCol: String = "timestamp"): Unit = {
    val (guarded, resolved) = withPartitionSentinel(df, partitionCol, path)
    guarded.write.mode(SaveMode.Append).partitionBy(resolved).parquet(path)
  }

  /** Format breadth beyond the reference: ORC sink (columnar sibling
    * of parquet, ships with Spark). Same append-partitioned shape AND
    * the same ''->"unknown" sentinel contract as [[appendPartitioned]]
    * — Hive's __HIVE_DEFAULT_PARTITION__ null-on-read trap is
    * format-independent.
    */
  def appendPartitionedOrc(df: DataFrame, path: String, partitionCol: String = "timestamp"): Unit = {
    val (guarded, resolved) = withPartitionSentinel(df, partitionCol, path)
    guarded.write.mode(SaveMode.Append).partitionBy(resolved).orc(path)
  }

  /** Sorted write for data skipping: repartition by range on
    * `sortCol` then sort within partitions before writing — every
    * parquet row group gets tight min/max bounds on `sortCol`, so at
    * 100 TB a point/range predicate prunes most row groups at scan
    * time (the poor man's Z-order, exact for one dimension). One
    * range shuffle at write time buys every subsequent read's skip.
    */
  def writeSorted(df: DataFrame, path: String, sortCol: String, partitions: Int): Unit =
    df.repartitionByRange(partitions, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Two-dimensional Z-order write — what [[writeSorted]] cannot do:
    * a layout where predicates on EITHER column skip most files.
    * A 1-D sort gives colA tight per-file bounds but lets colB span
    * the full domain in every file; interleaving the bits of both
    * columns' quantized values (the Morton/Z-value, the same layout
    * Delta's OPTIMIZE ZORDER produces) bounds both. Quantization is
    * linear between the observed min/max (one tiny agg job) at `bits`
    * resolution; the Z-value is pure codegen'd column bit-math (no
    * UDF), and the write is one range shuffle on z + an in-partition
    * sort — identical write cost to [[writeSorted]].
    *
    * At 100 TB the payoff is at scan time: each file's parquet
    * footer min/max covers a z-range, i.e. a RECTANGLE in (colA,
    * colB) space, so a point/range predicate on either dimension
    * prunes the files whose rectangle misses it — measured in
    * ZOrderSpec (each dimension's per-file span shrinks to well under
    * half the domain, where the 1-D layout leaves the unsorted
    * dimension at full span in every file). Skew note: linear
    * quantization assumes roughly uniform domains; for heavy skew use
    * [[writeZOrderedRank]], which quantizes by rank instead.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    partitions: Int, bits: Int = 16): Unit = {
    require(bits >= 1 && bits <= 21, s"bits must be in [1,21] (got $bits)")
    // ansi-ok: z-order keys are caller-declared numeric dimensions;
    // a junk string key must fail this write loudly, not sort garbage
    val Array(minA, maxA, minB, maxB) = df
      .agg(min(col(colA)).cast("double"), max(col(colA)).cast("double"), // ansi-ok
        min(col(colB)).cast("double"), max(col(colB)).cast("double")) // ansi-ok
      .head().toSeq.map(v => v.asInstanceOf[Double]).toArray
    val steps = (1L << bits) - 1
    def quant(c: String, lo: Double, hi: Double) =
      if (hi <= lo) lit(0L)
      else least(lit(steps), greatest(lit(0L),
        // ansi-ok: quant input already range-clamped doubles (see above)
        ((col(c).cast("double") - lit(lo)) * steps / (hi - lo)).cast("long")))
    writeMorton(df, path,
      quant(colA, minA, maxA), quant(colB, minB, maxB), partitions, bits)
  }

  /** Skew-mode Z-order: quantize each dimension by RANK (equi-depth
    * buckets) instead of linearly between min/max. Under a zipfian
    * key, linear quantization degenerates: the dense mass of the
    * domain collapses into one quantized cell, the z-value loses all
    * discrimination on that dimension, and a predicate inside the
    * dense region scans every file (measured in ZOrderSpec). Rank
    * quantization puts ~1/2^bits of the ROWS in each bucket by
    * construction, so file rectangles stay balanced however the
    * values are distributed.
    *
    * Scale shape: boundaries come from one `approxQuantile` pass (a
    * mergeable Greenwald-Khanna sketch — single scan, no sort, no
    * shuffle; the same primitive Delta's OPTIMIZE ZORDER rides for
    * its range-partition ids); the per-row bucket lookup is a fold
    * over the ≤2^bits broadcast boundary array at WRITE time only.
    * `bits` is capped lower than the linear variant because buckets
    * cost boundary-array entries, and 2^10 buckets per dimension
    * already far exceeds any realistic file count.
    */
  def writeZOrderedRank(df: DataFrame, path: String, colA: String, colB: String,
                        partitions: Int, bits: Int = 8): Unit = {
    require(bits >= 1 && bits <= 10, s"bits must be in [1,10] (got $bits)")
    val b = 1 << bits
    val probs = (1 until b).map(_.toDouble / b).toArray
    // ONE pass for both dimensions: the multi-column approxQuantile
    // overload sketches every column in the same scan — a second
    // full-table read is the dominant pre-write cost at scale
    val Array(bsA, bsB) = df
      // ansi-ok: same caller-declared-numeric contract as writeZOrdered
      .select(col(colA).cast("double").as("__qa_src"), col(colB).cast("double").as("__qb_src"))
      .stat.approxQuantile(Array("__qa_src", "__qb_src"), probs, 1.0 / (4 * b))
    def quant(c: String, bs: Array[Double]): Column =
      // bucket index = #boundaries <= value (duplicate boundaries from
      // heavy hitters just collapse those buckets; index stays < 2^bits)
      aggregate(typedLit(bs), lit(0L),
        (acc, bound) => acc + when(bound <= col(c).cast("double"), 1L).otherwise(0L)) // ansi-ok: numeric dim
    writeMorton(df, path, quant(colA, bsA), quant(colB, bsB), partitions, bits)
  }

  /** Shared Z-order tail: Morton-interleave the two quantized
    * dimensions (bit i of qa -> bit 2i, bit i of qb -> bit 2i+1 —
    * pure codegen'd column bit-math, no UDF), then one range shuffle
    * on z + in-partition sort — identical write cost to [[writeSorted]].
    */
  private def writeMorton(df: DataFrame, path: String, qa: Column, qb: Column,
                          partitions: Int, bits: Int): Unit = {
    val withQ = df.withColumn("__qa", qa).withColumn("__qb", qb)
    val z = (0 until bits).map { i =>
      (shiftleft(shiftright(col("__qa"), i).bitwiseAND(1), 2 * i))
        .bitwiseOR(shiftleft(shiftright(col("__qb"), i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    withQ.withColumn("__z", z)
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__qa", "__qb", "__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Bucketed lake table — the co-located-join layout. `bucketBy`
    * hash-partitions rows into a fixed number of files per partition
    * AND records that layout in the catalog, so every later join or
    * aggregation keyed on `key` reads the table ALREADY partitioned:
    * Spark plans no Exchange on the bucketed side (asserted in
    * BucketedJoinSpec). At 100 TB this is the difference between
    * shuffling the fact table on every query and shuffling it once at
    * write time — the join-heavy analytics answer to
    * [[writeZOrdered]]'s predicate-pruning layout. `sortCols` adds
    * within-bucket sort order (sort-merge joins skip their sort too).
    * Bucket count rule of thumb: total table size / bucket count ≈
    * a few hundred MB per bucket file at the target scale.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    key: String, sortCols: String*): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  /** K2 (RDBMS path) — JDBC append, any driver on the classpath
    * (reference spotify_etl2.py:220 `to_sql(..., if_exists="append")`).
    * Exercised end-to-end in JdbcSinkSpec against embedded Apache
    * Derby (the JDBC engine that ships in /opt/spark/jars); the
    * partitioned-parquet path above remains the lake-scale default.
    */
  def appendJdbc(df: DataFrame, url: String, table: String): Unit =
    df.write.mode(SaveMode.Append).format("jdbc")
      .option("url", url).option("dbtable", table).save()

  /** Lake maintenance: compact a parquet directory's small files into
    * ~`targetFileMb`-sized ones. Daily appends ([[appendPartitioned]],
    * streaming sinks, [[graft.operators.Similarity.appendToIvfIndex]])
    * accumulate one-file-per-batch layouts; at 100 TB the resulting
    * millions of small files dominate scan time with open/footer
    * overhead and planner memory. Rewrite = one job: coalesce-free
    * `repartition(n)` sized from the directory's actual byte count
    * (round-robin — preserves nothing, so do NOT compact layouts that
    * encode order, [[writeSorted]]/[[writeZOrdered]]; re-run those
    * writers instead, same cost). Writes to a temp sibling, then swaps
    * it in by two renames: a crash between them leaves the data at
    * `<path>_precompact` (recoverable, never lost), and the next
    * compact refuses to run until an operator recovers it.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileMb: Int = 256, partitionCols: Seq[String] = Nil): Unit = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a hive-partitioned layout (appendPartitioned's output — compact's
    // HEADLINE use case) rewritten flat would turn the partition column
    // into a data column: pruning gone, and the next append creates
    // key=value/ subdirs NEXT TO flat files — a mixed layout later
    // reads reject. Callers must name the partition columns so the
    // rewrite preserves the directory structure.
    val partitioned = fs.exists(hadoopPath) && fs.listStatus(hadoopPath)
      .exists(st => st.isDirectory && st.getPath.getName.contains("="))
    require(partitionCols.nonEmpty || !partitioned,
      s"$path is hive-partitioned; pass partitionCols so compaction preserves the layout")
    val bytes = fs.getContentSummary(hadoopPath).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / (targetFileMb * 1024.0 * 1024.0)).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "_compacting")
    val bak = new org.apache.hadoop.fs.Path(path + "_precompact")
    // refuse to run over a previous compaction's debris: a leftover
    // backup means the last swap died mid-way and an operator must
    // decide which copy wins — proceeding would let the renames below
    // fail-by-returning-false and cascade into data loss
    require(!fs.exists(bak),
      s"$bak exists — a previous compact was interrupted; recover it (rename back or delete) first")
    require(!fs.exists(tmp) || fs.delete(tmp, true), s"could not clear stale $tmp")
    // partitioned layouts cluster by the partition key (one task — and
    // so one compacted file — per live partition, the point of
    // compacting a daily-append table); flat layouts round-robin to
    // the byte-derived file count
    val reshaped =
      if (partitionCols.nonEmpty)
        spark.read.parquet(path).repartition(partitionCols.map(col): _*)
      else spark.read.parquet(path).repartition(n)
    val writer = reshaped.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(tmp.toString)
    // Hadoop rename reports failure as `false`, not an exception —
    // check both. The two-rename window is NOT atomic: a crash in
    // between leaves the data at `_precompact` (recoverable, never
    // lost). Persisted state tiers commit through
    // [[graft.sources.StateTable]] instead; this directory is read
    // directly by outside readers, so it keeps its plain name.
    require(fs.rename(hadoopPath, bak), s"rename $hadoopPath -> $bak failed")
    if (!fs.rename(tmp, hadoopPath)) {
      fs.rename(bak, hadoopPath) // roll back so readers keep working
      sys.error(s"rename $tmp -> $hadoopPath failed; original restored from $bak")
    }
    fs.delete(bak, true)
  }

  /** K3 — console display incl. m:ss duration formatting (new.py:170). */
  def display(df: DataFrame, n: Int = 20): Unit =
    df.withColumn("duration", graft.Ops.msToMinSec(col("duration_ms")))
      .show(n, truncate = false)

  /** K4 — one-row summary DataFrame → single JSON line for the
    * orchestrator (reference returns a dict to Airflow XCom).
    */
  def xcomJson(summary: DataFrame): String = summary.toJSON.head()
}
