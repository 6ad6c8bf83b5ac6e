package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — the optional tail
    // restricts the dump to named queries (dev iteration; the driver
    // always passes exactly two args and dumps everything)
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val cpus = Bench.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // 4 queries in flight: actions are thread-safe on one session, and
    // most catalog queries are too small to fill the 32 cores alone
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try {
            // Spark writes a directory; the contract wants a single
            // parquet FILE at outDir/<name>.parquet (readable by plain
            // duckdb read_parquet / pyarrow without globbing). Write a
            // temp dir, move the one part file into place, and ALSO
            // keep a directory alias at outDir/<name> for dir-globbing
            // consumers.
            val tmp = s"$outDir/.$name.tmp"
            fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(tmp)
            val tmpDir = new java.io.File(tmp)
            val part = tmpDir.listFiles().find(_.getName.endsWith(".parquet"))
              .getOrElse(sys.error(s"no part file for $name"))
            val fileOut = Paths.get(s"$outDir/$name.parquet")
            Files.deleteIfExists(fileOut)
            val aliasDir = new java.io.File(s"$outDir/$name")
            if (aliasDir.exists()) {
              // listFiles() is null for a non-directory (a leftover
              // regular file at this path): delete whatever is there
              Option(aliasDir.listFiles()).foreach(_.foreach(_.delete()))
              aliasDir.delete()
            }
            aliasDir.mkdirs()
            Files.copy(part.toPath, Paths.get(s"$outDir/$name/part-0.parquet"))
            Files.move(part.toPath, fileOut)
            tmpDir.listFiles().foreach(_.delete()); tmpDir.delete()
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
