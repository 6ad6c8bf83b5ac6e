package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with AQE partition coalescing off, so every exchange
    * keeps all `spark.sql.shuffle.partitions` partitions (4 here) —
    * how specs drive multi-partition paths on tiny inputs. */
  def withoutCoalescing[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

/** Every catalog query runs non-empty on sf0.001 and its schema is
  * stable (no accidental column renames — the oracle hash-compare is
  * column-name-sensitive).
  */
class QueriesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name runs and returns rows on sf0.001") {
      val df = fn(spark, sf)
      // the driver's oracle harness row-sorts result frames with
      // pandas, which cannot factorize array/map/struct columns
      // (r15's q183/q187 `err`: "unhashable type: numpy.ndarray") —
      // every catalog output column must be atomic; project nested
      // shapes through an injective string join (array_join/concat_ws)
      import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
      val nested = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType]
          || f.dataType.isInstanceOf[MapType]
          || f.dataType.isInstanceOf[StructType] => s"${f.name}: ${f.dataType.simpleString}"
      }
      assert(nested.isEmpty,
        s"$name emits non-atomic output columns the oracle harness cannot row-sort: ${nested.mkString(", ")}")
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("every oracle entry has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every query is oracle-checked — the catalog holds the 100% hash-compare standard") {
    // the driver contract permits rows-only checks for queries without
    // oracle SQL; this engine has never shipped one, and a new query
    // silently missing its oracle would weaken the gate unnoticed
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty, s"query without oracle: $unchecked")
  }
}
