package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The reference's data-quality contract (`check_if_valid_data`,
  * spotify_etl2.py:42-86), restated as one distributed validation pass.
  *
  * Reference behavior, preserved exactly:
  *  - empty frame        → "invalid", short-circuit (no exception);
  *  - duplicate `played_at` (when the column exists) → RAISE;
  *  - any null anywhere  → warn only;
  *  - `timestamp` older than 7 days → warn with a count.
  *
  * The pandas original makes four separate passes over the frame; here
  * the emptiness/null/dup/stale checks collapse into a single aggregate
  * job (one scan, map-side partial aggregation) — at 100 TB the
  * difference between one scan and four is the whole game. Emptiness is
  * the aggregate's own row count, not a separate `isEmpty` action. A
  * caller's own aggregates (a run summary) ride the same job.
  */
object Validation {

  /** `extra` holds the caller's extra aggregates, in order (empty when
    * the frame is). */
  final case class Report(
      empty: Boolean,
      duplicatePlayedAt: Long,
      nullValues: Long,
      staleRows: Long,
      extra: Row = Row.empty) {
    def valid: Boolean = !empty
  }

  class PrimaryKeyViolation(msg: String) extends RuntimeException(msg)

  /** Validate `df` against the contract; `asOf` pins "now" for the
    * 7-day staleness window so tests and backfills are deterministic
    * (the reference uses wall-clock `datetime.now()`). `extra`
    * aggregates are computed in the validation job and returned in
    * [[Report.extra]].
    */
  def check(df: DataFrame, asOf: java.sql.Date, extra: Seq[Column] = Nil): Report = {
    val cols = df.columns
    val hasPlayedAt = cols.contains("played_at")
    val hasTimestamp = cols.contains("timestamp")

    val anyNull = cols.map(c => col(c).isNull).reduce(_ || _)
    val aggs = Seq(
      count(lit(1)).as("rows"),
      sum(when(anyNull, 1L).otherwise(0L)).as("nulls"),
      // null-safe duplicate count, matching pandas Series.is_unique
      // (the reference's PK check, spotify_etl2.py:61): repeated NULL
      // keys ARE duplicates there, but count(col) and countDistinct
      // both ignore nulls, so N null rows slipped through as dups = 0.
      // distinct-including-null = countDistinct + (any null ? 1 : 0).
      (if (hasPlayedAt)
         count(lit(1)) - countDistinct(col("played_at")) -
           when(sum(when(col("played_at").isNull, 1L).otherwise(0L)) > 0, 1L).otherwise(0L)
       else lit(0L)).as("dups"),
      // try_to_date, NOT to_date: the flatten's missing-played_at
      // default is the empty string, and under ANSI (this repo's mode)
      // to_date('') would CRASH the warn-only staleness check for rows
      // the pipeline explicitly keeps; an unparseable date is simply
      // not stale
      (if (hasTimestamp)
         sum(when(try_to_date(col("timestamp")) < date_sub(lit(asOf), 7), 1L).otherwise(0L))
       else lit(0L)).as("stale")) ++ extra

    val r = df.agg(aggs.head, aggs.tail: _*).head()
    if (r.getAs[Long]("rows") == 0L) return Report(empty = true, 0L, 0L, 0L)
    val report = Report(
      empty = false,
      duplicatePlayedAt = r.getAs[Long]("dups"),
      nullValues = Option(r.getAs[Any]("nulls")).fold(0L)(_.asInstanceOf[Long]),
      staleRows = Option(r.getAs[Any]("stale")).fold(0L)(_.asInstanceOf[Long]),
      extra = Row.fromSeq(r.toSeq.takeRight(extra.size)))

    if (report.duplicatePlayedAt > 0)
      throw new PrimaryKeyViolation(
        s"Primary Key check is violated - ${report.duplicatePlayedAt} duplicate played_at timestamps found")
    report
  }
}
