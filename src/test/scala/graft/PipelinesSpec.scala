package graft

import java.nio.file.Files

import graft.operators.Validation
import graft.sources.StateTable
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end runs of the three composed pipelines (SURVEY.md §5.2
  * item 5): golden summaries, sink contents, validation ordering.
  */
class PipelinesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def member(root: String, m: String): String = StateTable(spark, root).path(m)
  import spark.implicits._

  private def tmp = Files.createTempDirectory("graft-pipe").toString

  private val item1 =
    """{"played_at":"2024-01-10T12:00:00.000Z","track":{"id":"t1","name":"A",
      |"popularity":80,"duration_ms":185000,"explicit":true,
      |"artists":[{"id":"ar1","name":"X"}]}}""".stripMargin.replaceAll("\n", "")
  private val item2 =
    """{"played_at":"2024-01-10T13:00:00.000Z","track":{"id":"t2","name":"B",
      |"popularity":41,"duration_ms":200000,"explicit":false,
      |"artists":[{"id":"ar2","name":"Y"}]}}""".stripMargin.replaceAll("\n", "")

  test("EP1 end-to-end: CSV written, summary has count and mean popularity") {
    val dir = tmp
    val payload = """{"tracks":[{"id":"t1","name":"A","popularity":80,"artists":[{"name":"X"}]},
                    |{"id":"t2","name":"B","popularity":40,"artists":[{"name":"X"}]}]}"""
      .stripMargin.replaceAll("\n", "")
    val json = Pipelines.topTracksEtl(spark, Seq(payload).toDS(), s"$dir/out")
    assert(json.contains("\"tracks_processed\":2") && json.contains("\"avg_popularity\":60.0"))
    assert(spark.read.option("header", "true").csv(s"$dir/out").count() == 2)
  }

  test("EP1 end-to-end: empty payload raises like the reference") {
    intercept[RuntimeException] {
      Pipelines.topTracksEtl(spark, Seq("""{"tracks":[]}""").toDS(), s"$tmp/out")
    }
  }

  test("EP2 end-to-end: validated, appended by date partition, summarized") {
    val dir = tmp
    val json = Pipelines.recentlyPlayedEtl(spark,
      Seq(s"""{"items":[$item1,$item2]}""").toDS(),
      s"$dir/tbl", java.sql.Date.valueOf("2024-01-12"))
    assert(json.contains("\"tracks_processed\":2"))
    assert(json.contains("\"date_range\":\"2024-01-10 to 2024-01-10\""))
    val back = spark.read.parquet(s"$dir/tbl")
    assert(back.count() == 2 && back.columns.contains("timestamp"))
  }

  /** `n` plays, one minute apart from `start`, in pages of 50. */
  private def plays(start: String, n: Int): Seq[String] = {
    val t0 = java.time.Instant.parse(start)
    (0 until n).map { i =>
      s"""{"played_at":"${t0.plusSeconds(60L * i)}","track":{"id":"t$i","name":"S$i",
         |"popularity":${i % 100},"duration_ms":${180000 + i},"explicit":${i % 2 == 0},
         |"artists":[{"id":"ar${i % 7}","name":"A${i % 7}"}]}}""".stripMargin.replaceAll("\n", "")
    }.grouped(50).map(items => s"""{"items":[${items.mkString(",")}]}""").toSeq
  }

  test("EP2 is exactly-once under retry: a re-run, a late page and a torn first run") {
    val table = s"$tmp/tbl"
    val asOf = java.sql.Date.valueOf("2024-01-12")
    // the feed straddles two days, so the retry reads two partitions
    val feed = plays("2024-01-10T22:00:00Z", 150)
    val first = Pipelines.recentlyPlayedEtl(spark, feed.toDS(), table, asOf)
    assert(first.contains("\"tracks_processed\":150") && first.contains("\"rows_appended\":150"))
    val retry = Pipelines.recentlyPlayedEtl(spark, feed.toDS(), table, asOf)
    assert(retry.contains("\"tracks_processed\":150") && retry.contains("\"rows_appended\":0"))
    assert(spark.read.parquet(table).count() === 150L, "a retry must append nothing")
    // a late page whose plays predate the newest stored one still lands
    val late = plays("2024-01-10T08:00:00Z", 20)
    assert(Pipelines.recentlyPlayedEtl(spark, late.toDS(), table, asOf)
      .contains("\"rows_appended\":20"))
    assert(spark.read.parquet(table).count() === 170L)
    // a first run that died after writing one page: the re-run lands
    // exactly the missing rows
    val torn = s"$tmp/tbl"
    graft.sources.Sinks.appendPartitioned(
      graft.operators.SpotifyFlatten.recentlyPlayed(graft.sources.SpotifySchemas.parse(
        feed.take(1).toDS(), graft.sources.SpotifySchemas.recentlyPlayedPayload)), torn)
    assert(Pipelines.recentlyPlayedEtl(spark, feed.toDS(), torn, asOf)
      .contains("\"rows_appended\":100"))
    val back = spark.read.parquet(torn)
    assert(back.count() === 150L && back.select("played_at").distinct().count() === 150L)
  }

  /** The CSV part files of `dir` concatenated in file-name order
    * (partition order), so two runs' outputs compare byte for byte. */
  private def csvText(dir: String): String =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).map(f => new String(Files.readAllBytes(f.toPath), "UTF-8"))
      .mkString

  test("EP1 and EP3 are retry-safe: a re-run into the same path rewrites the same CSV") {
    val ep1 = s"$tmp/ep1"
    val tracks = (0 until 30).map(i => s"""{"id":"t$i","name":"S$i","popularity":$i,"artists":[{"name":"X"}]}""")
    val ep1Feed = Seq(s"""{"tracks":[${tracks.mkString(",")}]}""").toDS()
    val ep1First = Pipelines.topTracksEtl(spark, ep1Feed, ep1)
    val ep1Csv = csvText(ep1)
    assert(Pipelines.topTracksEtl(spark, ep1Feed, ep1) === ep1First)
    assert(csvText(ep1) === ep1Csv)
    val ep1Rows = spark.read.option("header", "true").csv(ep1)
    assert(ep1Rows.count() === 30L && ep1Rows.select("track_id").distinct().count() === 30L)
    // EP3 over a three-page feed, ranked across the range exchange's
    // partitions (coalescing off), so the rank stitches partitions
    SparkTestSession.withoutCoalescing {
      val ep3 = s"$tmp/ep3"
      val feed = plays("2024-01-10T22:00:00Z", 150).toDS()
      val first = Pipelines.recentlyPlayedAnalysis(spark, feed, ep3)
      val firstCsv = csvText(ep3)
      assert(new java.io.File(ep3).listFiles().count(_.getName.startsWith("part-")) > 1)
      assert(Pipelines.recentlyPlayedAnalysis(spark, feed, ep3) === first)
      assert(csvText(ep3) === firstCsv)
      val ranked = spark.read.option("header", "true").csv(ep3)
        .select($"rank".cast("int"), $"played_at").as[(Int, String)].collect().sortBy(_._1)
      assert(ranked.map(_._1).toSeq === (1 to 150))
      assert(ranked.map(_._2).toSeq === ranked.map(_._2).toSeq.sorted.reverse,
        "rank 1 is the most recent play")
    }
  }

  test("EP2 on a fresh sink runs two job-launching SQL executions; the XCom line is unchanged") {
    val feed = plays("2024-01-10T22:00:00Z", 150).toDS()
    val executions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = j.properties
        executions.add(Option(p.getProperty("spark.sql.execution.root.id"))
          .getOrElse(p.getProperty("spark.sql.execution.id")))
        ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val json = try {
      val out = Pipelines.recentlyPlayedEtl(spark, feed, s"$tmp/tbl", java.sql.Date.valueOf("2024-01-12"))
      org.apache.spark.TestListenerBus.drain(sc)
      out
    } finally sc.removeSparkListener(listener)
    // the validation aggregate (which carries the emptiness count and the
    // summary), the append
    assert(executions.size === 2, s"SQL executions: $executions")
    // the line the separate summary action used to render, byte for byte
    val flat = graft.operators.SpotifyFlatten.recentlyPlayed(
      graft.sources.SpotifySchemas.parse(feed, graft.sources.SpotifySchemas.recentlyPlayedPayload))
    val before = graft.sources.Sinks.xcomJson(graft.operators.RunSummaries.recentlyPlayedSummary(flat)
      .withColumn("rows_appended", org.apache.spark.sql.functions.col("tracks_processed")))
    assert(json === before)
    assert(json.startsWith("""{"tracks_processed":150,"unique_artists":7,"date_range":"2024-01-10 to 2024-01-11""""))
  }

  test("EP2 end-to-end: duplicate PK raises BEFORE anything is written") {
    val dir = tmp
    intercept[Validation.PrimaryKeyViolation] {
      Pipelines.recentlyPlayedEtl(spark,
        Seq(s"""{"items":[$item1,$item1]}""").toDS(),
        s"$dir/tbl", java.sql.Date.valueOf("2024-01-12"))
    }
    assert(!new java.io.File(s"$dir/tbl").exists()) // sink untouched
  }

  test("EP2 end-to-end: empty input short-circuits with no_data status") {
    val dir = tmp
    val json = Pipelines.recentlyPlayedEtl(spark,
      Seq("""{"items":[]}""").toDS(), s"$dir/tbl", java.sql.Date.valueOf("2024-01-12"))
    assert(json === """{"tracks_processed":0,"status":"no_data"}""")
    assert(!new java.io.File(s"$dir/tbl").exists()) // sink untouched
  }

  test("EP3 end-to-end: csv + banker's-rounded summary from one cached frame") {
    val dir = tmp
    val json = Pipelines.recentlyPlayedAnalysis(spark,
      Seq(s"""{"items":[$item1,$item2]}""").toDS(), s"$dir/out")
    assert(json.contains("\"tracks_processed\":2"))
    assert(json.contains("\"average_popularity\":60.5"))
    assert(json.contains("\"explicit_tracks\":1"))
    val back = spark.read.option("header", "true").csv(s"$dir/out")
    assert(back.columns.contains("rank") && back.count() == 2)
  }

  test("observedSummary collects run metrics inside the sink job — no second scan") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val (instrumented, obs) = graft.operators.RunSummaries.observedSummary(ev, "event_id", "ts")
    // the ONLY action is the sink write; metrics ride its tasks
    instrumented.write.format("noop").mode("overwrite").save()
    val m = obs.get
    val expected = ev.agg(count(lit(1)), sum(when(col("event_id").isNull, 1L).otherwise(0L)),
      min($"ts"), max($"ts")).head()
    assert(m("n_rows") == expected.getLong(0))
    assert(m("null_pk") == expected.getLong(1))
    assert(m("min_ts") == expected.getTimestamp(2) && m("max_ts") == expected.getTimestamp(3))
  }

  test("EP4 shared pair table: every family consumer equals its standalone catalog form") {
    import graft.operators.{Dedup, Sampling}
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val family = Pipelines.nearDupFamily(spark, docs, tmp + "/pairs")
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    def standalonePairs = Dedup.jaccardPairsCapped(docs, 3, 0.5, 20)
    assert(same(family("clusters")(), Dedup.duplicateClusters(standalonePairs)))
    assert(same(family("clusters_star")(), Dedup.duplicateClustersStar(standalonePairs)))
    assert(same(family("keep_best")(), Dedup.keepBestPerCluster(docs, standalonePairs, "n_chars")))
    assert(same(family("leakfree_split")(), Sampling.leakFreeSplit(docs, standalonePairs, 80)))
  }

  test("EP5 daily incremental loop: day-2 state equals a full day-2 rebuild on the added-rows path") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Similarity, Snapshot}
    val dir = tmp
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // grow-only corpus: day 1 = 80%, day 2 adds the remaining 20%
    val day1Docs = docs.filter($"doc_id" % 5 =!= 0)
    // IVF centroids are the first nlist vec_ids — day 1 MUST contain
    // them (appendToIvfIndex's bit-identity precondition)
    val d1e = emb.filter($"vec_id" < 16 || $"vec_id" % 5 =!= 0)
    // day 0: full build of both state tiers from day 1
    Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, s"$dir/mh")
    Similarity.buildIvfIndex(d1e, nlist = 16, path = s"$dir/ivf")
    // the loop
    val out = Pipelines.dailyIncremental(spark, day1Docs, docs, d1e, emb,
      s"$dir/mh", s"$dir/ivf")
    // 1. diff routed exactly the added keys into the batch
    val added = out("doc_changes").filter($"status" === "added")
      .select($"doc_id").as[Long].collect().toSet
    assert(added === docs.filter($"doc_id" % 5 === 0).select($"doc_id").as[Long].collect().toSet)
    assert(out("doc_changes").filter($"status" =!= "added").isEmpty) // grow-only: nothing else
    // 2. signature state now equals a from-scratch day-2 build
    Dedup.persistMinhashSignatures(docs, 3, 16, 4, s"$dir/mh_full")
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(same(spark.read.parquet(member(s"$dir/mh", StateTable.Sigs)), spark.read.parquet(member(s"$dir/mh_full", StateTable.Sigs))),
      "incremental signature state must equal the full rebuild")
    // 3. the appended IVF index equals a full day-2 rebuild (same
    //    deterministic centroids: day 1 contained vec_id < 16)
    Similarity.buildIvfIndex(emb, nlist = 16, path = s"$dir/ivf_full")
    assert(same(spark.read.parquet(member(s"$dir/ivf", StateTable.Assignments)),
      spark.read.parquet(member(s"$dir/ivf_full", StateTable.Assignments))),
      "appended IVF assignments must equal the full rebuild")
    // 4. and the new pairs are the full day-2 estimator pairs that
    //    touch an added endpoint (old-old pairs never re-emitted)
    val fullPairs = Dedup.minhashLshEstimated(docs, 3, 16, 4, 0.5)
      .filter($"doc_a".isin(added.toSeq: _*) || $"doc_b".isin(added.toSeq: _*))
    assert(same(out("dedup_pairs"), fullPairs),
      "incremental pairs must equal the added-endpoint slice of the full run")
  }

  test("from-empty delta turn: change frames stay LAZY, emissions equal the diff form") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Similarity}
    val dir = tmp
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val day1Docs = docs.filter($"doc_id" % 5 =!= 0)
    val d1e = emb.filter($"vec_id" < 16 || $"vec_id" % 5 =!= 0)
    Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, s"$dir/mh")
    Similarity.buildIvfIndex(d1e, nlist = 16, path = s"$dir/ivf")
    val batch = docs.filter($"doc_id" % 5 === 0)
    // the stream fronts' delta-turn shape: LocalRelation empties as
    // "yesterday" (TurnStream builds exactly these)
    def emptyLike(df: org.apache.spark.sql.DataFrame) = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), df.schema)
    val out = Pipelines.dailyIncrementalDelta(spark,
      emptyLike(docs), batch, emptyLike(emb), emptyLike(emb),
      s"$dir/mh", s"$dir/ivf")
    // 1. the change frames must NOT be checkpoint-backed on this path:
    //    against an empty old side the diff is a pure projection of
    //    the batch, and re-pinning it would re-add two driver actions
    //    per micro-batch (the job-wave constant the drain queries pay
    //    per turn). A materialize() regression surfaces here as a
    //    LogicalRDD node backing the frame.
    for (name <- Seq("doc_changes", "emb_changes"))
      assert(out(name).queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l
      }.isEmpty, s"$name is checkpoint-backed — the from-empty turn re-pinned a pure batch projection")
    // 2. semantics identical to the diff form: every batch row is
    //    "added", and the pair emissions + signature appends match the
    //    added-endpoint slice of a full run (EP5's oracle, from-empty
    //    variant)
    val added = out("doc_changes").filter($"status" === "added")
      .select($"doc_id").as[Long].collect().toSet
    assert(added === batch.select($"doc_id").as[Long].collect().toSet)
    assert(out("doc_changes").filter($"status" =!= "added").isEmpty)
    val fullPairs = Dedup.minhashLshEstimated(docs, 3, 16, 4, 0.5)
      .filter($"doc_a".isin(added.toSeq: _*) || $"doc_b".isin(added.toSeq: _*))
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(same(out("dedup_pairs"), fullPairs),
      "from-empty pairs must equal the added-endpoint slice of the full run")
    Dedup.persistMinhashSignatures(docs, 3, 16, 4, s"$dir/mh_full")
    assert(same(spark.read.parquet(member(s"$dir/mh", StateTable.Sigs)), spark.read.parquet(member(s"$dir/mh_full", StateTable.Sigs))),
      "state after the from-empty turn must equal the full rebuild")
  }

  test("EP6 curated selection: every pick is a kept representative; lake pairs equal the self-contained form") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, TextAnalysis}
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val out = Pipelines.curatedSelection(docs, "src0", k = 10)
    val picks = out.select($"doc_id").as[Long].collect().toSet
    assert(picks.size == 10)
    // (a) every pick survived the near-dup collapse as its cluster's rep
    val reps = Dedup.keepBestPerCluster(
        docs, Dedup.jaccardPairsCapped(docs, 3, 0.5, 20), "n_chars")
      .select($"rep_doc_id".as("doc_id")).as[Long].collect().toSet
    assert(picks.subsetOf(reps), s"non-representative picked: ${picks -- reps}")
    // (b) every pick passes the quality gate, and none is a target doc
    val kept = TextAnalysis.qualityLogit(docs).filter($"keep" === 1)
      .select($"doc_id").as[Long].collect().toSet
    assert(picks.subsetOf(kept), s"quality-rejected doc picked: ${picks -- kept}")
    assert(docs.filter($"source" === "src0")
      .select($"doc_id").as[Long].collect().toSet.intersect(picks).isEmpty)
    // (c) a lake-persisted pair table yields the identical selection —
    // the amortization contract (pairs built once, consumers fan out)
    val pairsPath = tmp + "/ep6pairs"
    Dedup.jaccardPairsCapped(docs, 3, 0.5, 20).write.parquet(pairsPath)
    val viaLake = Pipelines.curatedSelection(docs, "src0", k = 10,
      pairs = Some(spark.read.parquet(pairsPath)))
    assert(out.exceptAll(viaLake).isEmpty && viaLake.exceptAll(out).isEmpty)
  }
}
