package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The three nested-JSON → flat-table projections of the reference,
  * as pure `DataFrame => DataFrame` plan fragments (SURVEY.md §2.3).
  *
  * Null-default convention (SURVEY.md §7.5.3): after `from_json`, a
  * missing key and an explicit JSON null are both SQL NULL, so every
  * per-field fallback is `coalesce(col, lit(default))`. One documented
  * deviation: where the reference *raises and drops the whole row* on a
  * present-but-malformed inner field (e.g. `artists[0]` without a
  * `name`, spotify_etl.py:241), we default that field instead — at
  * scale, dropping a row because one of ten fields is bad loses data
  * the defaults machinery already knows how to patch.
  *
  * All three are pure column expressions — no UDFs — so the whole
  * flatten stays inside WholeStageCodegen and Catalyst can prune/push
  * through it.
  */
object SpotifyFlatten {

  /** EP1 10-column top-tracks flatten (spotify_etl.py:238-252).
    * Input: top-tracks payload rows (`tracks: array<struct>`).
    */
  def topTracks(payload: DataFrame): DataFrame =
    payload
      .filter(col("tracks").isNotNull)
      .select(explode(col("tracks")).as("t"))
      .filter(col("t").isNotNull)
      .select(
        coalesce(try_element_at(col("t.artists"), lit(1)).getField("name"), lit("Unknown")).as("artist_name"),
        coalesce(col("t.name"), lit("Unknown")).as("song_name"),
        coalesce(col("t.popularity"), lit(0)).as("popularity"),
        coalesce(col("t.duration_ms"), lit(0L)).as("duration_ms"),
        coalesce(col("t.explicit"), lit(false)).as("explicit"),
        coalesce(col("t.external_urls.spotify"), lit("")).as("external_url"),
        coalesce(col("t.preview_url"), lit("")).as("preview_url"),
        coalesce(col("t.album.name"), lit("Unknown")).as("album_name"),
        coalesce(col("t.album.release_date"), lit("")).as("release_date"),
        coalesce(col("t.id"), lit("")).as("track_id"))

  /** EP2 8-column recently-played flatten (spotify_etl2.py:155-195).
    * Reference semantics: `item.get("track", {})` — an item with a
    * missing track is KEPT as an all-defaults row, not dropped; and
    * `timestamp` is a raw string slice `played_at[:10]`, "" when
    * played_at is empty (spotify_etl2.py:170) — not a timezone
    * conversion.
    */
  def recentlyPlayed(payload: DataFrame): DataFrame =
    payload
      .filter(col("items").isNotNull)
      .select(explode(col("items")).as("i"))
      .filter(col("i").isNotNull)
      .select(
        coalesce(col("i.track.name"), lit("Unknown")).as("song_name"),
        coalesce(try_element_at(col("i.track.artists"), lit(1)).getField("name"), lit("Unknown")).as("artist_name"),
        coalesce(col("i.played_at"), lit("")).as("played_at"),
        when(length(coalesce(col("i.played_at"), lit(""))) > 0,
          substring(col("i.played_at"), 1, 10)).otherwise(lit("")).as("timestamp"),
        coalesce(col("i.track.id"), lit("")).as("track_id"),
        coalesce(col("i.track.album.name"), lit("Unknown")).as("album_name"),
        coalesce(col("i.track.duration_ms"), lit(0L)).as("duration_ms"),
        coalesce(col("i.track.popularity"), lit(0)).as("popularity"))

  /** EP3 13-column ranked projection (new.py:107-133).
    * Reference semantics: `item['track']` is a direct access — an item
    * without a track IS dropped (try/except-continue); rank is the
    * 1-based position in API response order, which is recency-descending,
    * so we anchor it on `played_at` desc (SURVEY.md W1: never trust
    * incoming row order) with track_id as deterministic tie-break.
    * The rank is global by spec, and the input is not bounded to one
    * API page (≤ 50 rows): `graft.Jobs ep3` ranks a whole day feed of
    * many pages. [[graft.plans.GlobalRank]] range-partitions the feed
    * on that order, so no task holds more than its range; a one-page
    * feed coalesces to one partition and stamps with no extra job.
    * The flattened rows are rebalanced first so the range exchange
    * samples its bounds from shuffle files: sampling the flatten itself
    * would read and parse the payloads a second time.
    */
  def rankedRecentlyPlayed(payload: DataFrame): DataFrame = {
    val flat = payload
      .filter(col("items").isNotNull)
      .select(explode(col("items")).as("i"))
      .filter(col("i.track").isNotNull)
      .select(
        coalesce(col("i.track.name"), lit("Unknown")).as("track_name"),
        coalesce(try_element_at(col("i.track.artists"), lit(1)).getField("name"), lit("Unknown")).as("artist_name"),
        coalesce(col("i.track.album.name"), lit("Unknown")).as("album_name"),
        coalesce(col("i.track.external_urls.spotify"), lit("")).as("spotify_url"),
        coalesce(col("i.track.preview_url"), lit("")).as("preview_url"),
        coalesce(col("i.track.duration_ms"), lit(0L)).as("duration_ms"),
        coalesce(col("i.track.popularity"), lit(0)).as("popularity"),
        coalesce(col("i.track.explicit"), lit(false)).as("explicit"),
        coalesce(col("i.played_at"), lit("")).as("played_at"),
        coalesce(col("i.track.id"), lit("")).as("track_id"),
        coalesce(try_element_at(col("i.track.artists"), lit(1)).getField("id"), lit("")).as("artist_id"),
        coalesce(col("i.track.album.id"), lit("")).as("album_id"))
    graft.plans.GlobalRank(flat.hint("rebalance"), Seq(col("played_at").desc, col("track_id")))
      .withColumnRenamed("rnk", "rank")
      // ansi-ok: a row number of one day's feed, far below Int.MaxValue
      .withColumn("rank", col("rank").cast("int"))
  }
}
