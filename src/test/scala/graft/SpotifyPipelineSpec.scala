package graft

import graft.operators.{RunSummaries, SpotifyFlatten, Validation}
import graft.sources.{Sinks, SpotifySchemas}
import org.scalatest.funsuite.AnyFunSuite

/** Reference-parity tests for the Spotify pipeline operators: exact
  * default values, malformed-row handling, string-slice dating, the
  * validation contract, and banker's rounding (SURVEY.md §5.2 items
  * 1-2, semantics from spotify_etl.py:238-255, spotify_etl2.py:42-86 /
  * 155-195, new.py:107-133 / 250-263).
  */
class SpotifyPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def recently(payloads: String*) =
    SpotifySchemas.parse(payloads.toDS(), SpotifySchemas.recentlyPlayedPayload)
  private def topTracks(payloads: String*) =
    SpotifySchemas.parse(payloads.toDS(), SpotifySchemas.topTracksPayload)

  private val fullItem =
    """{"played_at":"2024-01-10T12:00:00.000Z","track":{"id":"t1","name":"Song A",
      |"popularity":80,"duration_ms":185000,"explicit":true,"preview_url":"http://p/1",
      |"external_urls":{"spotify":"http://s/1"},
      |"album":{"id":"al1","name":"Album A","release_date":"2020-11-08"},
      |"artists":[{"id":"ar1","name":"Artist A"},{"id":"ar2","name":"Artist B"}]}}""".stripMargin.replaceAll("\n", "")

  private val sparseItem = // every optional field absent
    """{"played_at":"2024-01-09T08:30:00.000Z","track":{"id":"t2"}}"""

  private val noTrackItem = // EP2 keeps (defaults), EP3 drops
    """{"played_at":"2024-01-08T01:00:00.000Z"}"""

  test("EP2 flatten: full item, field order and values (spotify_etl2.py:184-193)") {
    val df = SpotifyFlatten.recentlyPlayed(recently(s"""{"items":[$fullItem]}"""))
    assert(df.columns.toSeq == Seq("song_name", "artist_name", "played_at", "timestamp",
      "track_id", "album_name", "duration_ms", "popularity"))
    val r = df.head()
    assert(r.toSeq == Seq("Song A", "Artist A", "2024-01-10T12:00:00.000Z",
      "2024-01-10", "t1", "Album A", 185000L, 80))
  }

  test("EP2 flatten: missing fields get reference defaults; timestamp is a string slice") {
    val r = SpotifyFlatten.recentlyPlayed(recently(s"""{"items":[$sparseItem]}""")).head()
    assert(r.toSeq == Seq("Unknown", "Unknown", "2024-01-09T08:30:00.000Z",
      "2024-01-09", "t2", "Unknown", 0L, 0))
  }

  test("EP2 flatten: item without track is KEPT as an all-defaults row (item.get('track', {}))") {
    val df = SpotifyFlatten.recentlyPlayed(recently(s"""{"items":[$noTrackItem]}"""))
    val r = df.head()
    assert(df.count() == 1)
    assert(r.getAs[String]("song_name") == "Unknown")
    assert(r.getAs[String]("played_at") == "2024-01-08T01:00:00.000Z")
  }

  test("EP2 flatten: empty played_at yields empty timestamp, not a slice error") {
    val df = SpotifyFlatten.recentlyPlayed(recently("""{"items":[{"track":{"id":"x"}}]}"""))
    assert(df.head().getAs[String]("timestamp") == "")
    assert(df.head().getAs[String]("played_at") == "")
  }

  test("EP2 flatten: unparseable payload and empty items contribute no rows") {
    val df = SpotifyFlatten.recentlyPlayed(recently(
      "this is not json", """{"items":[]}""", s"""{"items":[$fullItem]}"""))
    assert(df.count() == 1)
  }

  test("EP3 flatten: item without track IS dropped (new.py item['track'])") {
    val df = SpotifyFlatten.rankedRecentlyPlayed(recently(
      s"""{"items":[$fullItem,$noTrackItem,$sparseItem]}"""))
    assert(df.count() == 2)
  }

  test("EP3 flatten: rank is 1-based by recency (most recent first)") {
    val df = SpotifyFlatten.rankedRecentlyPlayed(recently(
      s"""{"items":[$sparseItem,$fullItem]}"""))
    val rows = df.orderBy("rank").collect()
    assert(rows.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2))
    assert(rows(0).getAs[String]("track_id") == "t1") // 2024-01-10 most recent
    assert(rows(0).getAs[String]("artist_id") == "ar1")
    assert(rows(0).getAs[String]("album_id") == "al1")
  }

  test("EP1 flatten: defaults per spotify_etl.py:240-251") {
    val df = SpotifyFlatten.topTracks(topTracks("""{"tracks":[{}]}"""))
    val r = df.head()
    assert(r.toSeq == Seq("Unknown", "Unknown", 0, 0L, false, "", "", "Unknown", "", ""))
  }

  test("EP1 flatten: full track flattens all 10 columns") {
    val df = SpotifyFlatten.topTracks(topTracks(
      """{"tracks":[{"id":"t9","name":"N","popularity":55,"duration_ms":100000,
        |"explicit":false,"preview_url":"pv","external_urls":{"spotify":"su"},
        |"album":{"name":"Al","release_date":"1999"},"artists":[{"name":"Ar"}]}]}""".stripMargin.replaceAll("\n", "")))
    assert(df.head().toSeq == Seq("Ar", "N", 55, 100000L, false, "su", "pv", "Al", "1999", "t9"))
  }

  test("validation: empty frame is invalid but does not raise (spotify_etl2.py:56-58)") {
    val empty = SpotifyFlatten.recentlyPlayed(recently("""{"items":[]}"""))
    val rep = Validation.check(empty, java.sql.Date.valueOf("2024-01-12"))
    assert(rep.empty && !rep.valid)
  }

  test("validation: duplicate played_at raises PrimaryKeyViolation (spotify_etl2.py:61-62)") {
    val dup = SpotifyFlatten.recentlyPlayed(recently(s"""{"items":[$fullItem,$fullItem]}"""))
    intercept[Validation.PrimaryKeyViolation] {
      Validation.check(dup, java.sql.Date.valueOf("2024-01-12"))
    }
  }

  test("EP1/EP2 flatten: PRESENT-but-EMPTY artists array defaults, no ANSI crash") {
    // [] is different from absent: element_at([], 1) THROWS under ANSI
    // (this repo's mode) where .get-style access must default — the
    // reference's loop does artists[0] inside try/except-continue, but
    // our contract is default-not-drop for this field
    val emptyArtists =
      """{"played_at":"2024-01-10T12:00:00.000Z","track":{"id":"t9","artists":[]}}"""
    val r2 = SpotifyFlatten.recentlyPlayed(recently(s"""{"items":[$emptyArtists]}""")).head()
    assert(r2.getAs[String]("artist_name") == "Unknown")
    val tt = """{"tracks":[{"id":"t9","artists":[]}]}"""
    val r1 = SpotifyFlatten.topTracks(topTracks(tt)).head()
    assert(r1.getAs[String]("artist_name") == "Unknown")
    val r3 = SpotifyFlatten.rankedRecentlyPlayed(recently(s"""{"items":[$emptyArtists]}""")).head()
    assert(r3.getAs[String]("artist_name") == "Unknown")
    assert(r3.getAs[String]("artist_id") == "")
  }

  test("validation: empty-string timestamp (the missing-played_at default) stays warn-only") {
    // to_date('') under ANSI would crash the staleness check for rows
    // the pipeline explicitly keeps — it must count as not-stale
    val kept = SpotifyFlatten.recentlyPlayed(recently(
      s"""{"items":[$noTrackItem,{"track":{"id":"t3"}}]}"""))
    assert(kept.filter($"timestamp" === "").count() == 1)
    val rep = Validation.check(kept, java.sql.Date.valueOf("2024-01-30"))
    assert(rep.staleRows == 1) // the dated row is stale; the ''-row is not counted
  }

  test("validation: repeated NULL played_at is a PK violation, single NULL is not") {
    // pandas Series.is_unique (the reference's check) counts repeated
    // NaN as duplicates; count/countDistinct both ignore nulls, so a
    // null-only duplicate used to slip through as dups = 0
    import org.apache.spark.sql.functions.{lit, to_timestamp}
    val base = SpotifyFlatten.recentlyPlayed(recently(s"""{"items":[$fullItem]}"""))
    val oneNull = base.withColumn("played_at", to_timestamp(lit(null).cast("string")))
    assert(Validation.check(oneNull, java.sql.Date.valueOf("2024-01-12")).duplicatePlayedAt == 0)
    val twoNulls = oneNull.unionByName(oneNull)
    intercept[Validation.PrimaryKeyViolation] {
      Validation.check(twoNulls, java.sql.Date.valueOf("2024-01-12"))
    }
  }

  test("validation: stale rows warn-count, nulls warn-count, no raise (spotify_etl2.py:65-84)") {
    val df = SpotifyFlatten.recentlyPlayed(recently(s"""{"items":[$fullItem,$sparseItem]}"""))
    val rep = Validation.check(df, java.sql.Date.valueOf("2024-01-30"))
    assert(rep.valid)
    assert(rep.staleRows == 2)     // both items older than 2024-01-23
    assert(rep.nullValues == 0)    // defaults patched every null
    assert(rep.duplicatePlayedAt == 0)
  }

  test("validation: extra aggregates come back as exactly the caller's, in order") {
    import org.apache.spark.sql.functions.{count, lit, max}
    val df = SpotifyFlatten.recentlyPlayed(recently(s"""{"items":[$fullItem,$sparseItem]}"""))
    val rep = Validation.check(df, java.sql.Date.valueOf("2024-01-30"),
      Seq(max($"timestamp"), count(lit(1))))
    assert(rep.extra.toSeq == Seq("2024-01-10", 2L))
    assert(Validation.check(df, java.sql.Date.valueOf("2024-01-30")).extra.size == 0)
  }

  test("summaries: EP2 count/nunique/date_range (spotify_etl2.py:271-278)") {
    val df = SpotifyFlatten.recentlyPlayed(recently(s"""{"items":[$fullItem,$sparseItem]}"""))
    val r = RunSummaries.recentlyPlayedSummary(df).head()
    assert(r.toSeq == Seq(2L, 2L, "2024-01-09 to 2024-01-10"))
  }

  test("summaries: EP3 average_popularity uses banker's rounding (new.py:258)") {
    // popularity 80 and 5 -> mean 42.5; Python round(42.5, 2) == 42.5 (exact)
    // construct a half case at 2dp: 0.125 -> banker's gives 0.12, half-up 0.13
    val df = Seq(("a", 0, false), ("b", 0, false)).toDF("artist_name", "x", "explicit")
      .withColumn("popularity", org.apache.spark.sql.functions.lit(0.125))
    val r = RunSummaries.analysisSummary(df).head()
    assert(r.getAs[Double]("average_popularity") == 0.12)
  }

  test("sinks: csv round-trip and partitioned append accumulate (K1/K2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val df = SpotifyFlatten.recentlyPlayed(recently(s"""{"items":[$fullItem]}"""))
    Sinks.csv(df, s"$dir/csv")
    val back = spark.read.option("header", "true").csv(s"$dir/csv")
    assert(back.count() == 1 && back.columns.length == 8)

    Sinks.appendPartitioned(df, s"$dir/tbl")
    Sinks.appendPartitioned(df, s"$dir/tbl")
    assert(spark.read.parquet(s"$dir/tbl").count() == 2) // append, not overwrite
  }

  test("sinks: xcom summary emits one JSON line (K4)") {
    val df = SpotifyFlatten.recentlyPlayed(recently(s"""{"items":[$fullItem]}"""))
    val json = Sinks.xcomJson(RunSummaries.recentlyPlayedSummary(df))
    assert(json.contains("\"tracks_processed\":1"))
  }
}
