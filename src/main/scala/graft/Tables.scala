package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All schemas are fixed by the parquet footers; we read them as-is
  * (parquet is self-describing — no inferSchema cost). At 100 TB these
  * would be partitioned directories; the API is path-based so the same
  * code serves `sfDir` fixtures and a production lake layout.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** True iff the `ts` column of the parquet at `path` (a file or a
    * directory; the FIRST footer found decides — parquet directories
    * are schema-homogeneous by contract) is annotated
    * `TIMESTAMP(NANOS)`. Driver-side metadata read only, no data
    * pages. `false` when no footer exists yet (empty stream-source
    * directory) or the column is absent / un-annotated — callers then
    * treat a long-surfaced `ts` as unidentifiable and raise, rather
    * than guessing an epoch unit.
    *
    * This is the footer-vs-Spark-type distinction that matters: under
    * `nanosAsLong=true` both TIMESTAMP(NANOS) and a producer's raw
    * BIGINT epoch-millis surface as `LongType`, and a `div 1000`
    * applied to the latter silently mis-scales by 10^6. Only the
    * logical-type annotation tells them apart.
    */
  def tsIsNanosAnnotated(spark: SparkSession, path: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    tsAnnotation(spark, path).exists {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
      case _ => false
    }
  }

  /** The first data file under `path` (a parquet file itself, or the
    * first `*.parquet` found by recursive listing — stream drops land
    * in nested date directories). None: path missing or no data files
    * yet. Driver-side listing only. Callers use this both to read
    * footer metadata and to distinguish "no footers yet" (declare a
    * schema) from "files present" (sniff them; real read errors must
    * propagate, not be mistaken for emptiness).
    */
  def firstParquetFile(spark: SparkSession, path: String)
      : Option[org.apache.hadoop.fs.Path] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val qualifiedRoot = root.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(root)
    dataFiles(spark, path).map(_.getPath)
      .find(p => p == qualifiedRoot || p.getName.endsWith(".parquet"))
  }

  /** The files under `path` that a Spark read would see (the path itself
    * when it is a file), by recursive driver-side listing; empty when
    * the path is missing. The hidden-prefix check applies to EVERY path
    * segment below the root, not just the leaf: a crashed write's
    * _temporary/.../part-*.parquet is possibly truncated, and Spark's
    * own file index prunes hidden directories at every level. The walk
    * stops at the root by Path equality on the QUALIFIED root:
    * listFiles returns fully-qualified paths, so comparing against a
    * relative caller argument would never terminate at the root and a
    * hidden-prefixed ANCESTOR of the data dir (e.g. data under
    * .../.cache/...) would mark every file hidden.
    */
  def dataFiles(spark: SparkSession, path: String): Iterator[org.apache.hadoop.fs.FileStatus] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Iterator.empty
    val rootStatus = fs.getFileStatus(root)
    if (rootStatus.isFile) return Iterator.single(rootStatus)
    val qualifiedRoot = fs.makeQualified(root)
    def hidden(p: Path): Boolean = {
      var cur = p
      while (cur != null && cur != qualifiedRoot) {
        val n = cur.getName
        if (n.startsWith("_") || n.startsWith(".")) return true
        cur = cur.getParent
      }
      false
    }
    val it = fs.listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(st => st.isFile && !hidden(st.getPath))
  }

  /** The `ts` column's logical-type annotation from the first footer
    * under `path` (None: no footer, no `ts` field, or un-annotated).
    */
  def tsAnnotation(spark: SparkSession, path: String)
      : Option[org.apache.parquet.schema.LogicalTypeAnnotation] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    firstParquetFile(spark, path).flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        if (!schema.containsField("ts")) None
        else {
          val field = schema.getType(Seq("ts"): _*)
          if (!field.isPrimitive) None
          else Option(field.asPrimitiveType().getLogicalTypeAnnotation)
        }
      } finally reader.close()
    }
  }

  /** Normalize an `events`-shaped frame so `ts` is a session-zone
    * TimestampType at micros precision, whatever the producer wrote:
    *
    *  - `LongType` — ONLY legal when the footer's logical-type
    *    annotation says TIMESTAMP(NANOS) (surfaced as raw nanos by
    *    `spark.sql.legacy.parquet.nanosAsLong`; Spark 4 has no nanos
    *    timestamp). Truncate to micros — the same truncation DuckDB
    *    applies on CAST(ts AS TIMESTAMP), so oracle comparisons agree.
    *    A long `ts` WITHOUT that annotation (e.g. a producer writing
    *    raw BIGINT epoch-millis) is rejected loudly: the epoch unit is
    *    not inferable from the type, and a wrong guess mis-scales every
    *    timestamp by 10^6 silently. Callers pass the footer verdict
    *    (`longIsNanos`, lazily evaluated — the footer is only consulted
    *    when the surfaced type actually is long).
    *  - `TimestampNTZType` — naive micros/millis (isAdjustedToUTC=false
    *    footers). Cast to TimestampType; value-preserving because every
    *    entrypoint pins `spark.sql.session.timeZone=UTC`.
    *  - `TimestampType` — UTC-adjusted micros; already canonical.
    *
    * A lake ingesting from heterogeneous producers sees all three, so
    * the unit is read from the footer metadata, never assumed.
    */
  def normalizeTs(df: DataFrame, longIsNanos: => Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType if longIsNanos =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case LongType => throw new IllegalArgumentException(
        "events.ts: stored as INT64 without a TIMESTAMP(NANOS) logical-type " +
          "annotation — the epoch unit (millis? micros? nanos?) cannot be " +
          "identified, and guessing mis-scales silently. Annotate the column " +
          "in the producer (parquet TIMESTAMP logical type) or normalize it " +
          "explicitly upstream of this loader.")
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported storage type $other")
    }
  }

  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    // Lets TIMESTAMP(NANOS) footers load at all (as long); harmless for
    // micros/millis footers, which still read as timestamps.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    normalizeTs(spark.read.parquet(path), tsIsNanosAnnotated(spark, path))
  }

  /** Register every table as a temp view (for spark.sql paths / tests). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
