package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-run XCom summary records of the three reference pipelines
  * (SURVEY.md K4), each as a single-row aggregate DataFrame — collected
  * once at the driver and emitted as JSON for the orchestrator.
  *
  * Rounding parity (SURVEY.md §7.5.1): the reference rounds
  * `avg_popularity` with Python `round`, which is banker's
  * (half-even) rounding — Spark's `bround`, not `round`.
  */
object RunSummaries {

  /** EP1 (spotify_etl.py:275-281): tracks_processed + avg_popularity. */
  def topTracksSummary(flat: DataFrame): DataFrame =
    flat.agg(
      count(lit(1)).as("tracks_processed"),
      avg(col("popularity")).as("avg_popularity"))

  /** EP2 (spotify_etl2.py:271-278): count, distinct artists,
    * "min to max" date-range string over the sliced `timestamp` column.
    */
  def recentlyPlayedSummary(flat: DataFrame): DataFrame =
    flat.agg(recentlyPlayedSummaryCols.head, recentlyPlayedSummaryCols.tail: _*)

  /** [[recentlyPlayedSummary]]'s aggregates, for a job that computes
    * them next to its own. */
  val recentlyPlayedSummaryCols: Seq[Column] = Seq(
    count(lit(1)).as("tracks_processed"),
    countDistinct(col("artist_name")).as("unique_artists"),
    concat_ws(" to ", min(col("timestamp")), max(col("timestamp"))).as("date_range"))

  /** EP3 (new.py:250-263): count, distinct artists, half-even-rounded
    * mean popularity, explicit count.
    */
  def analysisSummary(flat: DataFrame): DataFrame =
    flat.agg(
      count(lit(1)).as("tracks_processed"),
      countDistinct(col("artist_name")).as("unique_artists"),
      bround(avg(col("popularity")), 2).as("average_popularity"),
      sum(when(col("explicit"), 1L).otherwise(0L)).as("explicit_tracks"))

  /** Zero-extra-pass run metrics: the summaries above are separate
    * aggregate jobs — a SECOND full scan of the batch. At 100 TB the
    * right mechanism is `Dataset.observe`: the metrics accumulate
    * INSIDE the main job's tasks (Spark's observable-metrics
    * machinery, exactly what StreamingQueryProgress uses), so writing
    * the batch to its sink also produces the XCom record for free.
    * Returns the instrumented frame plus the [[Observation]] handle —
    * call `observation.get` after any action on the returned frame.
    * Metrics: row count, null-PK count, distinct-ish PK check is NOT
    * possible here (observe requires aggregates that merge without
    * state explosion), min/max of the event-time column.
    */
  def observedSummary(df: DataFrame, pkCol: String, tsCol: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("graft_run_summary")
    val instrumented = df.observe(obs,
      count(lit(1)).as("n_rows"),
      sum(when(col(pkCol).isNull, 1L).otherwise(0L)).as("null_pk"),
      min(col(tsCol)).as("min_ts"),
      max(col(tsCol)).as("max_ts"))
    (instrumented, obs)
  }
}
