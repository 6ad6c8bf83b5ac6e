package graft

import graft.operators.{ApproxDistinct, Dedup, FreqSketch, RangeJoin, Retention, Sampling, Sessionize, Similarity, SkewAgg, SkewJoin, SpotifyFlatten, TextAnalysis}
import graft.sources.SpotifySchemas
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with matching DuckDB oracle SQL where the
  * semantics are ANSI-expressible.
  *
  * Determinism rules (SURVEY.md §7.5):
  *  - every query ends in ORDER BY on a unique key (row order is part
  *    of the hash compare);
  *  - double aggregates go through exact DECIMAL arithmetic (Ops.*) so
  *    Spark and DuckDB produce bit-identical doubles;
  *  - `events.ts` is ns in parquet — Spark truncates to micros, so the
  *    oracle SQL always works on CAST(ts AS TIMESTAMP);
  *  - every computed column is aliased identically in both engines.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Aggregation surface (SURVEY §2.5: A1-A8 + grouped extension) ----
    "q1_pricing_summary" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          Ops.decSum($"l_quantity").as("sum_qty"),
          Ops.decSum($"l_extendedprice").as("sum_base_price"),
          Ops.decRevenue($"l_extendedprice", $"l_discount").as("sum_disc_price"),
          Ops.decAvg($"l_quantity").as("avg_qty"),
          Ops.decAvg($"l_extendedprice").as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // ---- Global run-summary aggregates (reference spotify_etl2.py:271-278,
    // new.py:250-263: count, nunique, avg, conditional count, min-max range) ----
    "q2_events_summary" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events").agg(
        count(lit(1)).as("total_events"),
        countDistinct($"user_id").as("unique_users"),
        Ops.decAvg($"value").as("avg_value"),
        count(when($"event_type" === "error", lit(1))).as("error_events"),
        concat_ws(" to ",
          date_format(min($"ts"), "yyyy-MM-dd"),
          date_format(max($"ts"), "yyyy-MM-dd")).as("date_range"))
    }),

    // ---- Filter + projection + string-slice date + null-default
    // (reference P2/P4/P6: spotify_etl2.py:102-117,170) ----
    "q3_recent_events" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .filter($"ts" >= lit("2024-01-08 00:00:00").cast("timestamp"))
        .select(
          $"event_id", $"user_id", $"event_type",
          date_format($"ts", "yyyy-MM-dd").as("event_date"),
          coalesce($"value", lit(0.0)).as("value"))
        .orderBy($"event_id")
    }),

    // ---- Ranking window (reference W1: new.py:114), partitioned for scale ----
    "q4_rank_events" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      Tables.load(s, dir, "events")
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 3)
        .select($"user_id", $"rnk", $"event_id", $"event_type")
        .orderBy($"user_id", $"rnk")
    }),

    // ---- Top-k (reference L3: spotify_etl.py:146 top-tracks) →
    // TakeOrderedAndProject, no global sort ----
    "q5_top_parts" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "part")
        .select($"p_partkey", $"p_name", $"p_retailprice")
        .orderBy($"p_retailprice".desc, $"p_partkey")
        .limit(10)
    }),

    // ---- Broadcast equi-join chain (SURVEY §2.4) ----
    "q6_region_customers" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "customer")
        .join(broadcast(Tables.load(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.load(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n_customers"), Ops.decSum($"c_acctbal").as("total_acctbal"))
        .orderBy($"r_name")
    }),

    // ---- Large-side shuffle join + grouped agg (sort-merge at scale).
    // Lineitem revenue is pre-aggregated per order FIRST (one shuffle
    // with map-side combine), so the join is 1:1 and per-priority
    // counting is a plain count(*) — no countDistinct computed over a
    // ×lineitems join fan-out. Same result: every order with lineitems
    // contributes exactly one joined row. ----
    "q7_order_revenue" -> ((s, dir) => {
      import s.implicits._
      val perOrder = Tables.load(s, dir, "lineitem")
        .groupBy($"l_orderkey")
        .agg(Ops.decRevenuePartial($"l_extendedprice", $"l_discount").as("order_rev"))
      Tables.load(s, dir, "orders")
        .join(perOrder, $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          sum($"order_rev").cast("double").as("revenue"))
        .orderBy($"o_orderpriority")
    }),

    // ---- Anti join (NOT EXISTS) with pushed filter ----
    "q8_customers_without_orders" -> ((s, dir) => {
      import s.implicits._
      val bigOrders = Tables.load(s, dir, "orders").filter($"o_totalprice" > 450000.0)
      Tables.load(s, dir, "customer")
        .join(bigOrders, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    }),

    // ---- Semi join (EXISTS) with pushed filter ----
    "q9_big_spender_customers" -> ((s, dir) => {
      import s.implicits._
      val bigOrders = Tables.load(s, dir, "orders").filter($"o_totalprice" > 450000.0)
      Tables.load(s, dir, "customer")
        .join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    }),

    // ---- LLM-pipeline operators: deduplication tiers (operators.Dedup) ----
    "q10_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.load(s, dir, "documents"))),
    // The catalog pins the 100 TB form: stop-shingles with document
    // frequency > maxDf are dropped before the pair join, bounding
    // every join bucket at maxDf². The oracle mirrors the cap exactly,
    // and maxDf=20 is above the max shingle df at sf0.01 (7), so the
    // result there is identical to the uncapped baseline (which stays
    // exercised by DedupSpec + q12's exact-verify path).
    "q11_dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairsCapped(Tables.load(s, dir, "documents"), n = 3, minJ = 0.5, maxDf = 20)),
    "q12_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLsh(Tables.load(s, dir, "documents"), n = 3, numHashes = 16, bands = 4, minJ = 0.5)),
    // estimator-verified variant: the verification stage that stays
    // linear in candidates at 100x (no candidate x shingle explode)
    "q123_dedup_minhash_estver" -> ((s, dir) =>
      Dedup.minhashLshEstimated(Tables.load(s, dir, "documents"), n = 3, numHashes = 16, bands = 4, minJ = 0.5)),
    // daily-ingest near-dup loop: 80% of the corpus is "history" whose
    // SIGNATURES are persisted; the 20% "new" batch dedups against
    // history + itself without re-shingling any historical text
    "q126_incremental_minhash" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val bucket = graft.operators.Sampling.hashBucket(col("doc_id").cast("string"))
      val state = Scratch.dir("graft_mh_state") + "/mh"
      stagedMh("b80lt", dir, state)(docs.filter(bucket < 80))
      Dedup.incrementalMinhashEstimated(docs.filter(bucket >= 80), 3, 16, 4, 0.5, state)
    }),
    "q13_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.load(s, dir, "documents"), maxHamming = 2)),

    // ---- LLM-pipeline operators: text analysis (operators.TextAnalysis) ----
    "q14_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(Tables.load(s, dir, "documents"))),
    "q15_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables.load(s, dir, "documents"))),
    "q16_top_tokens" -> ((s, dir) =>
      TextAnalysis.topTokens(Tables.load(s, dir, "documents"), n = 50)),
    "q17_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Tables.load(s, dir, "documents"))),

    // ---- LLM-pipeline operators: similarity search (operators.Similarity) ----
    "q18_cosine_topk" -> ((s, dir) =>
      Similarity.cosineTopK(Tables.load(s, dir, "embeddings"), nQueries = 10, k = 5)),
    // q19/q32 are owned by the LSH forms at the CORPUS-DERIVED
    // operating point (Similarity.derivePlanes: enough hyperplanes
    // that the mean bucket holds ≤125 vectors — candidate volume stays
    // linear in n at any scale; at sf0.01's 500 vectors this reduces
    // to planes=2). q57/q58 keep an explicit planes=4 as the fixed
    // comparison point. The O(n²) brute baselines live in Similarity
    // and are equality-asserted against these in SimilarityLshSpec —
    // no all-pairs plan is reachable from the catalog.
    "q19_top_pairs" -> ((s, dir) =>
      Similarity.topPairsLshAuto(Tables.load(s, dir, "embeddings"), n = 20, dim = 64)),
    "q20_cosine_topk_lsh" -> ((s, dir) =>
      Similarity.cosineTopKLsh(Tables.load(s, dir, "embeddings"), nQueries = 10, k = 5, planes = 4, dim = 64)),
    // ---- Product-quantization ADC top-k: the 64x-memory-compression
    // ANN tier (8 subspaces x 16 codewords = 4-bit codes over the
    // int8 vectors; ADC shortlist of 40, exact int8 rerank; all i64
    // arithmetic, so train->encode->scan->rerank replays exactly) ----
    "q129_pq_topk" -> ((s, dir) =>
      Similarity.pqTopK(Tables.load(s, dir, "embeddings"), m = 8, ks = 16,
        nQueries = 5, k = 10, rerank = 40)),

    // ---- Set operations (SURVEY §2.8): retained/churned user cohorts ----
    "q21_user_cohorts" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val mid = lit("2024-01-08 00:00:00").cast("timestamp")
      val first = ev.filter($"ts" < mid).select($"user_id").distinct()
      val second = ev.filter($"ts" >= mid).select($"user_id").distinct()
      first.intersect(second).withColumn("cohort", lit("retained"))
        .unionAll(first.except(second).withColumn("cohort", lit("churned")))
        .select($"cohort", $"user_id")
        .orderBy($"cohort", $"user_id")
    }),

    // ---- Scalar-function battery (SURVEY §2.9: F1,F2,F7,F8,F9) ----
    "q22_scalar_funcs" -> ((s, dir) => {
      import s.implicits._
      val fakeMs = pmod($"event_id" * 7919L, lit(600000L))
      Tables.load(s, dir, "events")
        .filter($"event_id" < 100)
        .select(
          $"event_id",
          base64(concat_ws(":", $"user_id", $"event_type").cast("binary")).as("auth_token"),
          concat_ws("/", lit("users"), $"user_id", $"event_type").as("resource_path"),
          Ops.msToMinSec(fakeMs).as("duration"),
          lower($"event_type").as("event_type_lc"),
          regexp_replace($"event_type", "i", "1").as("leeted"))
        .orderBy($"event_id")
    }),

    // ---- JSON parse + null-default (SURVEY F10/P4) over events.props ----
    "q23_json_props" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .select($"event_id",
          coalesce(from_json($"props", org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"), lit(-1)).as("k"))
        .orderBy($"event_id")
    }),

    // ---- Uniqueness assertion as data (SURVEY A9): count vs distinct ----
    "q24_pk_check" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events").agg(
        count($"event_id").as("n_rows"),
        countDistinct($"event_id").as("n_keys"),
        when(count($"event_id") === countDistinct($"event_id"), lit("unique"))
          .otherwise(lit("violated")).as("pk_status"))
    }),

    // ---- Grouped stats + banker's rounding (SURVEY A2/F12 at scale) ----
    "q25_type_stats" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          bround(Ops.decAvg($"value"), 2).as("avg_value_2dp"))
        .orderBy($"event_type")
    }),

    // ---- Incremental cursor window (SURVEY P6/F5/F6): last 24h of the
    // feed, cursor = max(ts) - 1 day, reported in epoch-ms ----
    "q26_cursor_window" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val cursor = ev.agg((max($"ts") - expr("INTERVAL 1 DAY")).as("cursor"))
      ev.crossJoin(cursor)
        .filter($"ts" > $"cursor")
        .agg(
          count(lit(1)).as("recent_events"),
          min(unix_millis($"ts")).as("min_epoch_ms"),
          max(unix_millis($"ts")).as("max_epoch_ms"))
    }),

    // ---- Structured Streaming tier (SURVEY §2.10): tumbling daily agg
    // computed by draining the events feed as a stream; must equal the
    // batch answer ----
    "q27_stream_daily_counts" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val agg = EventStream.dailyAgg(EventStream.source(s, s"$dir/events.parquet"))
      EventStream.withStatePartitions(s, EventStream.stateStores(agg))(
        EventStream.runToCompletion(s, agg))
        .select($"w.start".as("day"), $"event_type", $"n_events", $"total_value")
        .orderBy($"day", $"event_type")
    }),

    // ---- Multimodal binary-column plumbing (operators.Multimodal):
    // opaque payload bytes + size/fingerprint metadata ----
    "q28_binary_meta" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select(
          $"doc_id",
          length($"text".cast("binary")).cast("long").as("n_bytes"),
          substring(hex($"text".cast("binary")), 1, 8).as("head_hex"),
          md5($"text").as("content_md5"))
        .orderBy($"doc_id")
    }),

    // ---- Shuffle-hash join (completes the join-strategy surface:
    // q6 broadcast, q7 sort-merge, q8 anti, q9 semi) — hinted, since
    // the optimizer would broadcast at this scale ----
    "q29_supplier_nation_shj" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "supplier")
        .join(Tables.load(s, dir, "nation").hint("shuffle_hash"),
          $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_suppliers"), Ops.decSum($"s_acctbal").as("total_acctbal"))
        .orderBy($"n_name")
    }),

    // ---- Skew-safe salted aggregation (operators.SkewAgg): two-stage
    // plan, result bit-identical to the direct groupBy ----
    "q30_salted_type_stats" -> ((s, dir) => {
      import s.implicits._
      SkewAgg.saltedCountSum(
        Tables.load(s, dir, "events"),
        keys = Seq("event_type"), saltSource = $"event_id", buckets = 16,
        valueCol = "value")
        .orderBy($"event_type")
    }),

    // ---- Gap sessionization via analytic windows (operators.Sessionize:
    // lag + running sum, per-user partitions — no global sort) ----
    "q31_user_sessions" -> ((s, dir) =>
      Sessionize.userSessionStats(Tables.load(s, dir, "events"), gapMinutes = 60)),

    // ---- Embedding-cosine near-dup tier (operators.Similarity) at
    // the corpus-derived plane count (see q19's comment) ----
    "q32_embedding_neardups" -> ((s, dir) =>
      Similarity.embeddingNearDupsLshAuto(Tables.load(s, dir, "embeddings"),
        minCos = 0.45, dim = 64)),

    // ---- IVF coarse-quantizer ANN (operators.Similarity) ----
    "q47_cosine_topk_ivf" -> ((s, dir) =>
      Similarity.cosineTopKIvf(Tables.load(s, dir, "embeddings"),
        nQueries = 10, k = 5, nlist = 16, nprobe = 4)),

    // Build-once/query-many: the IVF structure is persisted as a lake
    // table (assignments partitioned by cell) and the query runs off
    // the loaded index — same math as q47, different params, proving
    // the persisted path against the same oracle shape
    "q121_ivf_persisted" -> ((s, dir) => {
      val idx = Scratch.dir("graft_ivf_q121") + "/idx"
      stagedIvf("embfull", dir, idx)(Tables.load(s, dir, "embeddings"))
      Similarity.cosineTopKIvfIndexed(s, idx, nQueries = 12, k = 4, nprobe = 3)
    }),
    // Build-once/query-many for the PQ tier: codebooks + smallint code
    // table persisted as a lake index, query runs off the loaded index
    // — same math as q129 with different params, proving the persisted
    // path against the same oracle shape
    "q132_pq_persisted" -> ((s, dir) => {
      val idx = Scratch.dir("graft_pq_q132") + "/idx"
      stagedPq("embfull", dir, idx)(Tables.load(s, dir, "embeddings"))
      Similarity.pqTopKIndexed(Tables.load(s, dir, "embeddings"), s, idx,
        nQueries = 3, k = 8, rerank = 32)
    }),

    // ---- Bucketed scale twins of the pair operators: candidates from
    // a sign-LSH bucket equi-join, never all-pairs (the plans a 100 TB
    // corpus actually runs; q19/q32 remain the exact-recall baselines) ----
    "q57_top_pairs_lsh" -> ((s, dir) =>
      Similarity.topPairsLsh(Tables.load(s, dir, "embeddings"), n = 20, planes = 4, dim = 64)),
    "q58_embedding_neardups_lsh" -> ((s, dir) =>
      Similarity.embeddingNearDupsLsh(Tables.load(s, dir, "embeddings"),
        minCos = 0.45, planes = 4, dim = 64)),

    // ---- Incremental dedup: today's batch vs the historical corpus.
    // The catalog pins the Bloom-prefiltered 100 TB form (exact by
    // construction — false positives are verified by the anti-join);
    // the deterministic hash split carves batch/corpus from the same
    // table so the oracle can reproduce both sides ----
    "q61_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val bucket = Sampling.hashBucket(col("doc_id").cast("string"))
      Dedup.incrementalExactBloom(
        batch = docs.filter(bucket >= 80),
        corpus = docs.filter(bucket < 80),
        expectedItems = 100000L, fpp = 0.01)
    }),

    // ---- Gopher-style repetition / quality gate (TextAnalysis) ----
    "q62_repetition_stats" -> ((s, dir) =>
      TextAnalysis.repetitionStats(Tables.load(s, dir, "documents"))),

    // ---- Point-in-time as-of join: each click enriched with the
    // user's most recent preceding purchase (operators.AsOfJoin) ----
    "q63_asof_join" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      operators.AsOfJoin.asOf(
        left = ev.filter($"event_type" === "click")
          .select($"user_id", $"ts", $"event_id", $"value"),
        right = ev.filter($"event_type" === "purchase")
          .select($"user_id", $"ts", $"event_id", $"value"),
        keyCol = "user_id", tsCol = "ts", idCol = "event_id", valueCol = "value")
        .orderBy($"event_id")
    }),

    // ---- Duplicate-pair graph → connected components: cluster id =
    // min reachable doc through any chain of near-dup pairs. The
    // default dispatch (O(log d) large/small-star since r17) ----
    "q64_dup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(
        Dedup.jaccardPairsCappedUnordered(Tables.load(s, dir, "documents"), n = 3, minJ = 0.5, maxDf = 20))),
    // the star variant pinned EXPLICITLY (independent of the dispatch
    // default), oracle-checked against the SAME connected-components
    // semantics (component-min labels)
    "q124_dup_clusters_star" -> ((s, dir) =>
      Dedup.duplicateClustersStar(
        Dedup.jaccardPairsCappedUnordered(Tables.load(s, dir, "documents"), n = 3, minJ = 0.5, maxDf = 20))),
    // split AFTER clustering: every near-dup family lands whole in one
    // split, so no test doc's near-copy leaks into train (q52 is the
    // per-doc form; this is the leakage-free production form)
    "q127_leakfree_split" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.Sampling.leakFreeSplit(docs,
        Dedup.jaccardPairsCappedUnordered(docs, n = 3, minJ = 0.5, maxDf = 20), trainPct = 80)
    }),

    // ---- Benchmark decontamination: corpus docs sharing any 5-gram
    // with the (hash-split) held-out benchmark slice ----
    "q65_contamination" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val bucket = Sampling.hashBucket(col("doc_id").cast("string"))
      Dedup.contamination(
        corpus = docs.filter(bucket < 80),
        benchmark = docs.filter(bucket >= 80),
        n = 5, minShared = 1)
    }),

    // ---- Keyless temporal band join: errors within ±5 min of each
    // click, zero-preserving count (operators.RangeJoin) ----
    "q66_band_join" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      RangeJoin.bandCount(
        left = ev.filter($"event_type" === "click"),
        right = ev.filter($"event_type" === "error"),
        tsCol = "ts", idCol = "event_id", widthSec = 300L)
    }),

    // ---- BM25 retrieval scoring against a fixed query-term bag ----
    "q67_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(Tables.load(s, dir, "documents"),
        terms = Seq("merge", "window", "scan"), k1 = 1.2, b = 0.75, k = 100)),

    // ---- Stream-stream interval join: clicks joined to the same
    // user's purchases in the preceding hour, drained AvailableNow;
    // must equal the batch join answer ----
    "q68_stream_interval_join" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the interval join keeps 4 state stores per partition and
      // per-batch commit cost is store-count-linear, so the partition
      // count follows the bytes a micro-batch reads — see
      // EventStream.stateStores
      val joined = EventStream.intervalJoined(
        EventStream.source(s, s"$dir/events.parquet"),
        EventStream.source(s, s"$dir/events.parquet"),
        windowMinutes = 60)
      EventStream.withStatePartitions(s, EventStream.stateStores(joined))(
        EventStream.runAppendToMemory(s, joined))
        .orderBy($"c_id", $"p_id")
    }),

    // ---- Unigram LM score (perplexity proxy): decimal-accumulated,
    // order-independent per-doc sums ----
    "q69_unigram_logprob" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(Tables.load(s, dir, "documents"))),

    // ---- Int8-quantized ANN top-k: exact i64 scoring via the native
    // graft_dotl kernel (zero float accumulation) ----
    "q70_cosine_topk_int8" -> ((s, dir) =>
      Similarity.cosineTopKInt8(Tables.load(s, dir, "embeddings"), nQueries = 10, k = 5)),

    // ---- Salted skew-safe equi-join: events (5 hot keys) joined to a
    // per-type dim, result identical to the plain join ----
    "q71_salted_join" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val dim = ev.groupBy($"event_type")
        .agg((Ops.decSum($"value") / count($"value")).as("ta"))
      SkewJoin.saltedEquiJoin(ev, dim, "event_type", $"event_id", buckets = 16)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          count(when($"value" > $"ta", 1)).as("n_above"))
        .orderBy($"event_type")
    }),

    // ---- Greedy per-doc sequence packing of q54's chunks into
    // 100-token training sequences ----
    "q72_sequence_packing" -> ((s, dir) => {
      import s.implicits._
      operators.TextPrep.packSequences(
        operators.TextPrep.chunk(
          Tables.load(s, dir, "documents").filter($"doc_id" < 50),
          size = 40, overlap = 10),
        budget = 100)
    }),

    // ---- Temperature-scaled mixture rebalancing: per-lang keep rates
    // follow n^0.5 (flattened toward uniform), deterministic hash keep ----
    "q73_temperature_mixture" -> ((s, dir) => {
      import s.implicits._
      Sampling.temperatureMixture(Tables.load(s, dir, "documents"),
          groupCol = "lang", keyCol = "doc_id", alpha = 0.5, targetFrac = 0.5)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), max($"rate_pct").as("rate_pct"))
        .orderBy($"lang")
    }),

    // ---- Dedup with representative selection: each near-dup cluster
    // collapses to its longest member (singleton docs survive as-is) ----
    "q74_dedup_keep_best" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.keepBestPerCluster(docs,
        Dedup.jaccardPairsCappedUnordered(docs, n = 3, minJ = 0.5, maxDf = 20),
        scoreCol = "n_chars")
    }),

    // ---- Spherical k-means (2 Lloyd rounds, deterministic init and
    // integer-quantized centroid sums): semantic cluster assignment ----
    "q75_kmeans" -> ((s, dir) =>
      Similarity.kmeansAssign(Tables.load(s, dir, "embeddings"), k = 8, iters = 2)),

    // ---- Per-document TF-IDF top terms (smoothed idf, decimal-quantized) ----
    "q76_tfidf_top_terms" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.load(s, dir, "documents"), k = 3)),

    // ---- Zipf vocabulary profile: exact log2 df-buckets ----
    "q77_zipf_histogram" -> ((s, dir) =>
      TextAnalysis.zipfHistogram(Tables.load(s, dir, "documents"))),

    // ---- Per-source curation funnel: cumulative quality-gate survival ----
    "q78_quality_funnel" -> ((s, dir) =>
      TextAnalysis.qualityFunnel(Tables.load(s, dir, "documents"), groupCol = "source")),

    // ---- Interval-overlap join via time slabs: click windows (5 min)
    // overlapping error windows (1 min), emitted exactly once ----
    "q79_interval_overlap" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"ts".as("start"),
          ($"ts" + expr("INTERVAL 300 SECONDS")).as("end"))
      val errors = ev.filter($"event_type" === "error")
        .select($"event_id", $"ts".as("start"),
          ($"ts" + expr("INTERVAL 60 SECONDS")).as("end"))
      RangeJoin.intervalOverlapJoin(clicks, errors, "start", "end", "event_id",
          slabSec = 300L)
        .orderBy($"l_id", $"r_id")
    }),

    // ---- Fixed-point PageRank over the near-dup pair graph ----
    "q80_pagerank" -> ((s, dir) =>
      operators.Graph.pageRank(
        Dedup.jaccardPairsCappedUnordered(Tables.load(s, dir, "documents"),
          n = 3, minJ = 0.5, maxDf = 20), iters = 2)),

    // ---- Custom whole-operator plan: per-user top-3 events by value
    // (plans.TopKPerGroupExec — partial per-partition heaps, then a
    // grouped final pass after one hash exchange) ----
    "q81_custom_topk" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events").select($"user_id", $"event_id", $"value")
      plans.TopK.perGroup(ev, Seq($"user_id"), Seq($"value".desc, $"event_id".asc), k = 3)
        .orderBy($"user_id", $"value".desc, $"event_id")
    }),

    // ---- Bigram LM fluency score (add-1 smoothing, decimal sums) ----
    "q82_bigram_logprob" -> ((s, dir) =>
      TextAnalysis.bigramLogProb(Tables.load(s, dir, "documents"))),

    // ---- Quality-weighted deterministic sampling: survival ∝ score ----
    "q83_weighted_sample" -> ((s, dir) => {
      import s.implicits._
      Sampling.weightedSample(
          TextAnalysis.qualityScore(Tables.load(s, dir, "documents")),
          weightCol = "quality", keyCol = "doc_id")
        .select($"doc_id", $"rate_pct")
        .orderBy($"doc_id")
    }),

    // ---- Batch upsert merge: latest event per user across a base
    // slice and an updates slice (SCD-1 latest-wins) ----
    "q84_upsert_merge" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val bucket = Sampling.hashBucket(col("event_id").cast("string"))
      operators.Merge.latestWins(
          base = ev.filter(bucket < 80).select($"user_id", $"event_id", $"value", $"ts"),
          updates = ev.filter(bucket >= 80).select($"user_id", $"event_id", $"value", $"ts"),
          keyCol = "user_id", versionCol = "ts", idCol = "event_id")
        .select($"user_id", $"event_id", $"value", $"src")
        .orderBy($"user_id")
    }),

    // ---- One-pass ANALYZE-style numeric column profile ----
    "q85_table_profile" -> ((s, dir) =>
      operators.Profile.numericColumns(Tables.load(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // ---- Sliding event-time windows (2-day windows every 1 day):
    // the third window type next to q27's tumbling and the session
    // windows in SessionSkewSpec ----
    "q86_sliding_windows" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .groupBy(window($"ts", "2 days", "1 day"))
        .agg(count(lit(1)).as("n_events"),
          Ops.decSum($"value").cast("double").as("total_value"))
        .select($"window.start".as("win_start"), $"window.end".as("win_end"),
          $"n_events", $"total_value")
        .orderBy($"win_start")
    }),

    // ---- ANN evaluation harness: recall@5 of sign-LSH vs brute ----
    "q87_ann_recall" -> ((s, dir) =>
      Similarity.recallAtK(Tables.load(s, dir, "embeddings"),
        nQueries = 10, k = 5, planes = 4, dim = 64)),

    // ---- Recall@5 of the IVF coarse-quantizer path vs brute ----
    "q91_ann_recall_ivf" -> ((s, dir) =>
      Similarity.recallAtKIvf(Tables.load(s, dir, "embeddings"),
        nQueries = 10, k = 5, nlist = 16, nprobe = 4)),

    // ---- Recall@5 of the int8-quantized scan vs brute ----
    "q92_ann_recall_int8" -> ((s, dir) =>
      Similarity.recallAtKInt8(Tables.load(s, dir, "embeddings"),
        nQueries = 10, k = 5)),

    // ---- SemDeDup: k-means clusters as the candidate generator,
    // exact cosine only within a cluster. k is corpus-derived
    // (Similarity.deriveK: mean cluster ≤64 vectors, so intra-cluster
    // pair volume stays linear in n; 500 vectors → k=8) ----
    "q93_semantic_neardups" -> ((s, dir) =>
      Similarity.semanticNearDupsAuto(Tables.load(s, dir, "embeddings"),
        iters = 2, minCos = 0.45)),

    // ---- MinHash estimator accuracy on LSH candidates: estimated vs
    // exact Jaccard with absolute error ----
    "q94_minhash_estimate" -> ((s, dir) =>
      Dedup.minhashEstimateAccuracy(Tables.load(s, dir, "documents"),
        n = 3, numHashes = 16, bands = 4, minJ = 0.5)),

    // ---- N-gram novelty: share of a doc's distinct n-grams first
    // owned by that doc (min-doc_id window on one shingle exchange) ----
    "q95_ngram_novelty" -> ((s, dir) =>
      TextAnalysis.ngramNovelty(Tables.load(s, dir, "documents"), n = 3)),

    // ---- kNN majority-vote label classification: queries broadcast,
    // one pass over the labeled train corpus ----
    "q96_knn_classify" -> ((s, dir) =>
      Similarity.knnClassify(Tables.load(s, dir, "embeddings"),
        nQueries = 50, k = 5)),

    // ---- Embedding outlier scoring: fixed-point cosine to the
    // quantized-sum corpus centroid, 50 most outlying ----
    "q97_embedding_outliers" -> ((s, dir) =>
      Similarity.embeddingOutliers(Tables.load(s, dir, "embeddings"), n = 50)),

    // ---- Deterministic sharded epoch shuffle: seed-keyed hash order
    // within hash-assigned shards (trainer file layout) ----
    "q98_epoch_shuffle" -> ((s, dir) =>
      Sampling.epochShuffle(Tables.load(s, dir, "documents"),
        keyCol = "doc_id", seed = "epoch0", nShards = 8)),

    // ---- Cluster purity vs ground-truth labels over the q75 k-means
    // assignment (clustering acceptance check) ----
    "q99_cluster_purity" -> ((s, dir) =>
      Similarity.clusterPurity(Tables.load(s, dir, "embeddings"), k = 8, iters = 2)),

    // ---- Duplicated-span inventory: word 8-grams in >=2 docs with
    // df / occurrences / first owner (boilerplate detector) ----
    "q100_dup_spans" -> ((s, dir) =>
      Dedup.dupSpans(Tables.load(s, dir, "documents"), n = 8, minDf = 2)),

    // ---- IVF-accelerated kNN classification: probed-cell candidates,
    // identical vote logic to q96 (the swap-the-generator scale path) ----
    "q101_knn_classify_ivf" -> ((s, dir) =>
      Similarity.knnClassifyIvf(Tables.load(s, dir, "embeddings"),
        nQueries = 50, k = 5, nlist = 16, nprobe = 4)),

    // ---- Linear quality-classifier inference: integer fixed-point
    // features and logit, keep = logit >= 0 (model-based filter) ----
    "q102_quality_logit" -> ((s, dir) =>
      TextAnalysis.qualityLogit(Tables.load(s, dir, "documents"))),

    // ---- Cross-source duplication matrix over the capped-Jaccard
    // near-dup pairs (provenance diagnostic) ----
    "q103_cross_source_dups" -> ((s, dir) =>
      Dedup.crossSourceDups(Tables.load(s, dir, "documents"),
        n = 3, minJ = 0.5, maxDf = 20)),

    // ---- Grouped-CDF quantiles: the no-global-collection percentile
    // path (quantized counts + window over the distinct-cent domain;
    // q41's exact percentile() is the small-data baseline) ----
    "q104_cdf_quantiles" -> ((s, dir) =>
      operators.Profile.cdfQuantiles(Tables.load(s, dir, "events"),
        "event_type", "value", percents = Seq(50, 90, 99))),

    // ---- Inverted-index build: sorted postings per term, sharded
    // into 100-id chunks (row width bounded at ANY corpus size); DF
    // cap 4n/5 stop-lists terms present in >80% of docs ----
    "q105_inverted_index" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.invertedIndex(docs, maxDf = docs.count() * 4 / 5, shardSize = 100)
    }),

    // ---- Per-label embedding centroid drift vs the global centroid
    // (distribution-shift diagnostic, fixed-point i64) ----
    "q106_label_centroid_drift" -> ((s, dir) =>
      Similarity.labelCentroidDrift(Tables.load(s, dir, "embeddings"))),

    // ---- Sequence-example construction: previous-k context + label
    // per event (next-event-prediction training set) ----
    "q111_next_event_examples" -> ((s, dir) => {
      import s.implicits._
      Sessionize.nextEventExamples(
        Tables.load(s, dir, "events").filter($"user_id" < 20), k = 3)
    }),

    // ---- Distributed classifier TRAINING (the other half of q102's
    // inference): integer fixed-point batch GD with a hard sigmoid —
    // per iteration ONE map-side-combinable aggregate, 4 longs to the
    // driver, engine-exact to the bit (oracle replays all 3 steps) ----
    "q112_logit_fit_gd" -> ((s, dir) =>
      TextAnalysis.fitQualityLogitGd(Tables.load(s, dir, "documents"),
        iters = 3, lrNum = 1L, lrDen = 5L)),

    // ---- BPE merge training (tokenizer-vocab learning on the
    // dedup'd word-frequency vocab — corpus touched once; 4 greedy
    // merge rounds replayed exactly by the oracle's list_reduce) ----
    "q130_bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeTrainMerges(Tables.load(s, dir, "documents"), merges = 4)),
    // ---- BATCHED BPE training: up to 3 token-disjoint merges
    // committed per pair count — the vocab-scale variant (a 32k-merge
    // vocab at one Spark job wave per merge is the tokenizer tier's
    // scale killer; batching divides the wave count by ~batch). The
    // oracle replays the same rank/group-min selection and the same
    // folds, sub-stage by sub-stage ----
    "q185_bpe_batched" -> ((s, dir) =>
      TextAnalysis.bpeTrainMergesBatched(Tables.load(s, dir, "documents"),
        rounds = 4, batch = 3)),
    // ---- The tokenizer TIER under the batched trainer: the batched
    // vocab persisted in the standard artifact layout, documents
    // encoded FROM the artifact, the shared concat-cut pack on top —
    // the scale-variant trainer slots into the unchanged downstream
    // (within a round the committed merges are token-disjoint, so the
    // encoder's sequential merge-list application reproduces the
    // trainer's single-pass folds exactly) ----
    "q186_bpe_batched_pipeline" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val st = Scratch.dir("graft_bvocab_q186") + "/bpe"
      stagedBuild("bpe-batched4x3", dir, st)(p =>
        TextAnalysis.persistBpeVocabBatched(docs, rounds = 4, batch = 3, p))
      operators.TextPrep.packConcatCut(
        TextAnalysis.bpeEncodeIdsFromVocab(docs.filter(col("doc_id") < 50), s, st),
        budget = 100)
    }),
    // ---- BPE encoding (the trained merges APPLIED): corpus-wide
    // token histogram after 4 merges — train + encode still touch the
    // corpus once (everything after the word count runs on the
    // dedup'd vocab) ----
    "q131_bpe_encode" -> ((s, dir) =>
      TextAnalysis.bpeEncodeCounts(Tables.load(s, dir, "documents"), merges = 4)),
    // ---- Tokenizer fertility: tokens-per-char by language under the
    // trained vocab — the standard "does this vocab over-segment the
    // minority languages" evaluation table; one encode pass + a
    // map-side-combinable per-lang rollup ----
    "q190_tokenizer_fertility" -> ((s, dir) =>
      TextAnalysis.tokenizerFertility(Tables.load(s, dir, "documents"), merges = 4)),

    // ---- KMV distinct sketch (the engine-portable sketch tier next
    // to the HLL pair in ApproxDistinct): per-day k-min hashes +
    // merged-from-sketch 'ALL' row, estimator replayed exactly by the
    // oracle — the hash-checkable counterpart of approx_count_distinct ----
    "q113_kmv_distinct" -> ((s, dir) =>
      ApproxDistinct.kmvDaily(Tables.load(s, dir, "events"), "user_id", k = 64)),
    // running distinct-to-date from per-day sketch states only — the
    // mergeability payoff extended to every prefix
    "q125_kmv_cumulative" -> ((s, dir) =>
      ApproxDistinct.kmvCumulative(Tables.load(s, dir, "events"), "user_id", k = 64)),
    // ---- Count-Min frequency sketch (the mergeable heavy-hitters
    // tier next to KMV/HLL): per-day cell partials summed into one
    // sketch, top-20 exact keys verified against the min-over-rows
    // estimate — counters are pure sums, so the oracle replays the
    // sketch bit-for-bit ----
    "q128_cms_heavy_hitters" -> ((s, dir) =>
      FreqSketch.cmsHeavyHitters(Tables.load(s, dir, "events"), "user_id",
        depth = 4, width = 512, topN = 20)),

    // ---- DataSourceV2 connector end-to-end (S1-S3 as a batch
    // source): constant fixture payloads through format("spotify-api")
    // (one InputPartition per request, fixture fetcher, pagination,
    // missing request = 0 pages) -> declared-schema parse -> the real
    // 10-col flatten with its null-default battery. The oracle is the
    // literal expected table, so the whole connector path is
    // hash-checked, not just spec-asserted ----
    "q114_api_connector_flatten" -> ((s, _) => {
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_api_fixture")
      java.nio.file.Files.createDirectories(dir.resolve("top-tracks"))
      java.nio.file.Files.write(dir.resolve("top-tracks/a1.jsonl"),
        ("""{"tracks":[{"id":"t1","name":"Song One","popularity":90,"duration_ms":200000,"explicit":false,"preview_url":"https://p/t1","external_urls":{"spotify":"https://open/t1"},"album":{"id":"al1","name":"Album One","release_date":"2001-01-01"},"artists":[{"id":"ar1","name":"Artist One"}]},""" +
          """{"id":"t2","name":"Song Two","duration_ms":180000,"album":{"id":"al2","name":"Album Two","release_date":"2002-02-02"},"artists":[{"id":"ar1","name":"Artist One"}]}]}""" +
          "\n" +
          """{"tracks":[{"id":"t3","name":"Song Three","popularity":5,"duration_ms":1000,"artists":[{}]}]}""")
          .getBytes("UTF-8"))
      java.nio.file.Files.write(dir.resolve("top-tracks/a2.jsonl"),
        """{"tracks":[{"id":"t4","name":"Song Four","popularity":70,"duration_ms":240000,"explicit":true,"preview_url":"https://p/t4","external_urls":{"spotify":"https://open/t4"},"album":{"id":"al4","name":"Album Four","release_date":"2004-04-04"},"artists":[{"id":"ar2","name":"Artist Two"}]}]}"""
          .getBytes("UTF-8"))
      val pages = s.read.format("spotify-api")
        .option("endpoint", "top-tracks")
        .option("requests", "a1,a2,amissing")
        .option("fetcher", classOf[graft.sources.spotify.FixturePageFetcher].getName)
        .option("fixtureDir", dir.toString)
        .load()
      SpotifyFlatten.topTracks(
        SpotifySchemas.parse(pages.select($"payload").as[String], SpotifySchemas.topTracksPayload))
        .orderBy($"track_id")
    }),

    // ---- The connector's MICROBATCH tier end-to-end: the same q114
    // fixture pulled as a stream, one request-cursor per micro-batch
    // (offset = cursor index, checkpointed), drained with AvailableNow
    // and flattened — proving the incremental daily-pull semantics
    // produce byte-identical rows to the batch scan ----
    "q122_api_connector_stream" -> ((s, _) => {
      import s.implicits._
      val dir = java.nio.file.Paths.get(Scratch.dir("graft_api_stream_fixture"))
      java.nio.file.Files.createDirectories(dir.resolve("top-tracks"))
      java.nio.file.Files.write(dir.resolve("top-tracks/a1.jsonl"),
        ("""{"tracks":[{"id":"t1","name":"Song One","popularity":90,"duration_ms":200000,"explicit":false,"preview_url":"https://p/t1","external_urls":{"spotify":"https://open/t1"},"album":{"id":"al1","name":"Album One","release_date":"2001-01-01"},"artists":[{"id":"ar1","name":"Artist One"}]},""" +
          """{"id":"t2","name":"Song Two","duration_ms":180000,"album":{"id":"al2","name":"Album Two","release_date":"2002-02-02"},"artists":[{"id":"ar1","name":"Artist One"}]}]}""" +
          "\n" +
          """{"tracks":[{"id":"t3","name":"Song Three","popularity":5,"duration_ms":1000,"artists":[{}]}]}""")
          .getBytes("UTF-8"))
      java.nio.file.Files.write(dir.resolve("top-tracks/a2.jsonl"),
        """{"tracks":[{"id":"t4","name":"Song Four","popularity":70,"duration_ms":240000,"explicit":true,"preview_url":"https://p/t4","external_urls":{"spotify":"https://open/t4"},"album":{"id":"al4","name":"Album Four","release_date":"2004-04-04"},"artists":[{"id":"ar2","name":"Artist Two"}]}]}"""
          .getBytes("UTF-8"))
      val pages = s.readStream.format("spotify-api")
        .option("endpoint", "top-tracks")
        .option("requests", "a1,a2,amissing")
        .option("maxRequestsPerBatch", "1")
        .option("fetcher", classOf[graft.sources.spotify.FixturePageFetcher].getName)
        .option("fixtureDir", dir.toString)
        .load()
      val drained = graft.streaming.EventStream.runAppendToMemory(s, pages)
      SpotifyFlatten.topTracks(
        SpotifySchemas.parse(drained.select($"payload").as[String], SpotifySchemas.topTracksPayload))
        .orderBy($"track_id")
    }),

    // ---- Multimodal decode hash-checked: constant solid-color PNGs
    // (deterministic ImageIO bytes built in-query) through asMedia ->
    // decodeImages — REAL JDK codec, true dimensions + component count
    // + Rec.601 mean luma; solid colors make the luma an exact
    // constant, so the oracle is the literal expected table ----
    "q115_multimodal_decode" -> ((s, _) => {
      import s.implicits._
      def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val media = graft.operators.Multimodal.asMedia(
        Seq((1L, png(4, 3, 0xffffff)), // white: luma 1.0
          (2L, png(5, 2, 0xff0000)),   // red:   luma 0.299
          (3L, png(2, 2, 0x0000ff)))   // blue:  luma 0.114
          .toDF("id", "bytes"),
        "id", "bytes", "image", "image/png")
      graft.operators.Multimodal.decodeImages(media).toDF()
        .select($"media_id", $"width".cast("long").as("width"),
          $"height".cast("long").as("height"),
          $"channels".cast("long").as("channels"),
          bround($"brightness", 6).as("brightness"))
        .orderBy($"media_id")
    }),

    // ---- Audio decode hash-checked (same pattern as q115): constant
    // 16-bit PCM WAVs whose RMS is an exact dyadic constant (samples
    // ±2^k / 32768 square exactly in binary), through the REAL
    // javax.sound decode — sample rate, frames, duration, RMS ----
    "q116_multimodal_audio" -> ((s, _) => {
      import s.implicits._
      def wav(rate: Float, frames: Int, sample: Short): Array[Byte] = {
        import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
        val fmt = new AudioFormat(rate, 16, 1, true, false)
        val bb = java.nio.ByteBuffer.allocate(frames * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until frames).foreach { i =>
          bb.putShort(if (sample == Short.MaxValue) // alternating mode marker
            (if (i % 2 == 0) 8192 else -8192).toShort else sample)
        }
        val in = new AudioInputStream(
          new java.io.ByteArrayInputStream(bb.array()), fmt, frames)
        val bos = new java.io.ByteArrayOutputStream()
        AudioSystem.write(in, AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      }
      val media = graft.operators.Multimodal.asMedia(
        Seq((1L, wav(8000f, 80, 16384)),          // constant +0.5 -> RMS 0.5
          (2L, wav(16000f, 320, 0)),              // silence -> RMS 0.0
          (3L, wav(8000f, 160, Short.MaxValue)))  // alternating ±0.25 -> RMS 0.25
          .toDF("id", "bytes"),
        "id", "bytes", "audio", "audio/wav")
      graft.operators.Multimodal.decodeAudios(media).toDF()
        .select($"media_id", $"sample_rate", $"channels".cast("long").as("channels"),
          $"n_frames", $"duration_ms", bround($"rms", 9).as("rms"))
        .orderBy($"media_id")
    }),

    // ---- Video frame-sampling hash-checked (completing the
    // multimodal trio with q115/q116): a deterministic two-frame
    // animated GIF (solid red then solid blue, 100 ms each) through
    // the REAL GIF frame walk + display-time sampling, each sampled
    // frame re-decoded to its exact constant luma ----
    "q117_multimodal_frames" -> ((s, _) => {
      import s.implicits._
      import java.awt.image.BufferedImage
      import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
      import javax.imageio.metadata.IIOMetadataNode
      def solid(rgb: Int) = {
        val img = new BufferedImage(4, 4, BufferedImage.TYPE_INT_RGB)
        for (x <- 0 until 4; y <- 0 until 4) img.setRGB(x, y, rgb)
        img
      }
      val bos = new java.io.ByteArrayOutputStream()
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for (img <- Seq(solid(0xff0000), solid(0x0000ff))) {
        val meta = writer.getDefaultImageMetadata(
          new ImageTypeSpecifier(img), writer.getDefaultWriteParam)
        val fmt = "javax_imageio_gif_image_1.0"
        val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        val gce = new IIOMetadataNode("GraphicControlExtension")
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", "10")
        gce.setAttribute("transparentColorIndex", "0")
        root.appendChild(gce)
        meta.setFromTree(fmt, root)
        writer.writeToSequence(new IIOImage(img, null, meta), null)
      }
      writer.endWriteSequence()
      ios.close()
      val m = graft.operators.Multimodal.asMedia(
        Seq((7L, bos.toByteArray)).toDF("id", "bytes"),
        "id", "bytes", "video", "image/gif")
      val frames = graft.operators.Multimodal.sampleFrames(m, durationMs = 200, everyMs = 100).toDF()
      val dec = graft.operators.Multimodal.decodeImages(
        graft.operators.Multimodal.asMedia(
          frames.select($"frame_idx".as("id"), $"frame"), "id", "frame", "image", "image/png")).toDF()
      frames.select($"frame_idx".cast("long").as("frame_idx"), $"ts_ms")
        .join(dec.select($"media_id".as("frame_idx"),
          $"width".cast("long").as("width"), $"height".cast("long").as("height"),
          bround($"brightness", 6).as("brightness")), Seq("frame_idx"))
        .orderBy($"frame_idx")
    }),

    // ---- Raw text-log source hash-checked: constant log lines
    // written in-query through the real file source + regexp lift,
    // including the malformed-line quarantine contract (P5's analog
    // for line-oriented input) ----
    "q120_textlog_parse" -> ((s, _) => {
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_textlog")
      java.nio.file.Files.write(dir.resolve("app.log"),
        ("2026-01-02T03:04:05 ERROR disk full on /data\n" +
          "2026-01-02T03:04:06 INFO retrying write\n" +
          "this line is garbage\n" +
          "2026-01-02T03:05:00 WARN slow response 2.3s\n").getBytes("UTF-8"))
      val parsed = graft.sources.TextLog.read(s, dir.toString, keepMalformed = false)
        .select(unix_micros($"ts").as("ts_us"), $"level", $"message")
      val report = graft.sources.TextLog.parseReport(s, dir.toString)
      parsed.join(report)
        .select($"ts_us", $"level", $"message", $"n_lines", $"n_parsed", $"n_malformed")
        .orderBy($"ts_us")
    }),

    // ---- Resize path hash-checked: solid colors survive bilinear
    // scaling exactly, so downscaled dimensions AND luma are exact
    // constants; a no-upscale case pins the never-upscale contract ----
    "q119_multimodal_resize" -> ((s, _) => {
      import s.implicits._
      def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val media = graft.operators.Multimodal.asMedia(
        Seq((1L, png(4, 4, 0xff0000)),  // 4x4 red   -> 2x2 at maxDim 2
          (2L, png(8, 4, 0xffffff)),    // 8x4 white -> 2x1 at maxDim 2 (aspect kept)
          (3L, png(2, 2, 0x0000ff)))    // 2x2 blue  -> untouched (never upscales)
          .toDF("id", "bytes"),
        "id", "bytes", "image", "image/png")
      val resized = graft.operators.Multimodal.resize(media, maxDim = 2)
      graft.operators.Multimodal.decodeImages(resized).toDF()
        .select($"media_id", $"width".cast("long").as("width"),
          $"height".cast("long").as("height"),
          bround($"brightness", 6).as("brightness"))
        .orderBy($"media_id")
    }),

    // ---- MJPEG-in-AVI frame walk hash-checked (the second video
    // container next to q117's GIF): a hand-built RIFF/AVI with two
    // JPEG frames at 40 ms/frame through the real RIFF chunk walk;
    // JPEG is lossy so the oracle pins the exact METADATA (index,
    // display time, dimensions), not pixel values ----
    "q118_multimodal_avi" -> ((s, _) => {
      import s.implicits._
      import java.awt.image.BufferedImage
      import javax.imageio.ImageIO
      def solid(rgb: Int) = {
        val img = new BufferedImage(4, 4, BufferedImage.TYPE_INT_RGB)
        for (x <- 0 until 4; y <- 0 until 4) img.setRGB(x, y, rgb)
        img
      }
      def jpeg(img: BufferedImage) = {
        val bos = new java.io.ByteArrayOutputStream()
        ImageIO.write(img, "jpg", bos)
        bos.toByteArray
      }
      def le32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def chunk(id: String, body: Array[Byte]) =
        id.getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body ++
          (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
      def lst(typ: String, body: Array[Byte]) =
        chunk("LIST", typ.getBytes("US-ASCII") ++ body)
      val hdrl = lst("hdrl", chunk("avih", le32(40000L) ++ Array.fill[Byte](52)(0)))
      val movi = lst("movi",
        chunk("00dc", jpeg(solid(0xff0000))) ++ chunk("00dc", jpeg(solid(0x0000ff))))
      val payload = hdrl ++ movi
      val avi = "RIFF".getBytes("US-ASCII") ++ le32(4L + payload.length) ++
        "AVI ".getBytes("US-ASCII") ++ payload
      val m = graft.operators.Multimodal.asMedia(
        Seq((11L, avi)).toDF("id", "bytes"), "id", "bytes", "video", "video/x-msvideo")
      val frames = graft.operators.Multimodal.sampleFrames(m, durationMs = 80, everyMs = 40).toDF()
      val dec = graft.operators.Multimodal.decodeImages(
        graft.operators.Multimodal.asMedia(
          frames.select($"frame_idx".as("id"), $"frame"), "id", "frame", "image", "image/png")).toDF()
      frames.select($"frame_idx".cast("long").as("frame_idx"), $"ts_ms")
        .join(dec.select($"media_id".as("frame_idx"),
          $"width".cast("long").as("width"), $"height".cast("long").as("height")), Seq("frame_idx"))
        .orderBy($"frame_idx")
    }),

    // ---- FULL OUTER join (completes the join surface: q6 broadcast,
    // q7 SMJ, q8 anti, q9 semi, q29 SHJ): daily error-vs-purchase
    // reconciliation with coalesced key and zero-fill ----
    "q108_full_outer_daily" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      def daily(t: String, minV: Double, out: String) = ev
        .filter($"event_type" === t && $"value" > minV)
        .groupBy(to_date($"ts").as("day"))
        .agg(count(lit(1)).as(out))
      daily("error", 150.0, "n_errors")
        .join(daily("purchase", 200.0, "n_purchases"), Seq("day"), "full_outer")
        .select($"day",
          coalesce($"n_errors", lit(0L)).as("n_errors"),
          coalesce($"n_purchases", lit(0L)).as("n_purchases"),
          when($"n_errors".isNull, "purchase_only")
            .when($"n_purchases".isNull, "error_only")
            .otherwise("both").as("presence"))
        .orderBy($"day")
    }),

    // ---- RANGE window frame over event time (q34 is the ROWS form):
    // exact 7-day trailing aggregate per user on the micros axis ----
    "q109_range_window_7d" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"))
        .rangeBetween(-604800000000L, 0L) // 7 days of micros, peers included
      Tables.load(s, dir, "events")
        .filter($"user_id" < 30)
        .select($"user_id", $"event_id",
          count(lit(1)).over(w).as("trailing_n"),
          sum($"value".cast("decimal(12,2)")).over(w).cast("double").as("trailing_sum"))
        .orderBy($"user_id", $"event_id")
    }),

    // ---- Streaming exactly-once dedup (ST3, oracle-checked): the
    // stream unioned with itself (every event delivered twice) then
    // watermarked dropDuplicates — daily counts must equal the clean
    // batch answer, proving duplicate delivery is fully absorbed ----
    "q110_stream_dedup_daily" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val src = EventStream.source(s, s"$dir/events.parquet")
      val doubled = src.union(EventStream.source(s, s"$dir/events.parquet"))
      val agg = doubled
        .withWatermark("ts", "7 days")
        .dropDuplicates("event_id")
        .groupBy(window($"ts", "1 day").as("w"))
        .agg(count(lit(1)).as("n_events"))
      EventStream.withStatePartitions(s, EventStream.stateStores(agg))(
        EventStream.runToCompletion(s, agg))
        .select($"w.start".as("day"), $"n_events")
        .orderBy($"day")
    }),

    // ---- The reference's daily-cadence overlap quirk at EP2 fidelity
    // (VERDICT r17 item 8): each daily pull re-fetches the previous
    // 24 hours (the reference's after-cursor is now() − 24h, so
    // consecutive pulls OVERLAP by a day), and the watermarked
    // cross-batch dropDuplicates heals the re-pulled rows exactly —
    // daily counts equal the clean batch answer. Pure composition of
    // existing operators: staged per-day pull files (one micro-batch
    // each), EventStream.source, the q110 watermark+dedup+window agg.
    // Capped to the first 8 event days so the drain is 8 micro-batches,
    // not one per corpus day ----
    "q191_overlap_repull_dedup" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"user_id", $"event_type", $"ts", $"value")
      val t0 = ev.agg(min($"ts")).head().getTimestamp(0)
      def plusDays(d: Int) = new java.sql.Timestamp(t0.getTime + d.toLong * 86400000L)
      // pin the capped window ONCE: the 8 pull writes below filter the
      // pinned rows instead of re-scanning the events table per pull.
      // NOT staged (unlike the other feeds): the drain's watermark
      // trajectory depends on the pulls arriving in pull order, which
      // the file stream derives from the part files' mtimes — an
      // appended build preserves that order, a staged deep-copy's
      // near-identical copy timestamps would not.
      val capped = operators.Dedup.materialize(ev.filter($"ts" < lit(plusDays(8))))
      val feed = Scratch.dir("graft_overlap_q191") + "/feed"
      // pull d covers [day d−1, day d+1) ∩ [t0, t0+8d): every interior
      // day's rows arrive TWICE, in consecutive pulls — the reference's
      // overlap shape, deterministic instead of wall-clock-dependent
      for (d <- 0 until 8)
        capped.filter($"ts" >= lit(plusDays(d - 1)) && $"ts" < lit(plusDays(d + 1)))
          .coalesce(1).write.mode(if (d == 0) "overwrite" else "append")
          .parquet(feed)
      val src = s.readStream.schema(s.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", 1).parquet(feed)
      val agg = src
        .withWatermark("ts", "7 days")
        .dropDuplicates("event_id")
        .groupBy(window($"ts", "1 day").as("w"))
        .agg(count(lit(1)).as("n_events"))
      EventStream.withStatePartitions(s, EventStream.stateStores(agg))(
        EventStream.runToCompletion(s, agg))
        .select($"w.start".as("day"), $"n_events")
        .orderBy($"day")
    }),

    // ---- Streaming session windows (built-in session_window, the
    // third ST6 window type in the catalog next to tumbling q27 and
    // sliding q86): AvailableNow drain equals gap-based islands SQL ----
    "q107_stream_session_windows" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val agg = EventStream.sessionAgg(
        EventStream.source(s, s"$dir/events.parquet"), gapMinutes = 30)
      EventStream.withStatePartitions(s, EventStream.stateStores(agg))(
        EventStream.runToCompletion(s, agg))
        .select($"user_id", $"sw.start".as("session_start"),
          $"sw.end".as("session_end"), $"n_events")
        .orderBy($"user_id", $"session_start")
    }),

    // ---- CUBE: every aggregate grain over (event_type, weekday) ----
    "q88_cube" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .cube($"event_type", dayofweek(to_date($"ts")).cast("long").as("weekday"))
        .agg(count(lit(1)).as("n"),
          grouping($"event_type").cast("long").as("g_type"))
        .orderBy($"event_type".asc_nulls_first, $"weekday".asc_nulls_first)
    }),

    // ---- Per-group z-score normalization (feature engineering):
    // decimal-exact sums make mean/variance order-independent; the
    // final z is emitted as micro-unit fixed-point i64 (floor(z*1e6
    // + 0.5)) because a double→decimal cast of sqrt-derived values is
    // ulp-fragile across engines ----
    "q89_zscore" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val dec = $"value".cast("decimal(12,2)")
      val stats = ev.groupBy($"event_type").agg(
        count($"value").as("n"),
        sum(dec).cast("double").as("sv"),
        sum(dec * dec).cast("double").as("svv"))
        .select($"event_type", ($"sv" / $"n").as("mu"),
          sqrt(($"svv" - $"sv" * $"sv" / $"n") / ($"n" - 1)).as("sd"))
      ev.join(broadcast(stats), Seq("event_type"))
        .filter($"event_id" < 200)
        .select($"event_id", $"event_type",
          floor((($"value" - $"mu") / $"sd") * 1e6 + 0.5).cast("long").as("z"))
        .orderBy($"event_id")
    }),

    // ---- Equi-width value histogram per event type ----
    "q90_value_histogram" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .select($"event_type", floor($"value" / 10.0).cast("long").as("bucket"))
        .groupBy($"event_type", $"bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy($"event_type", $"bucket")
    }),

    // ---- Array-function battery over token arrays ----
    "q48_array_ops" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .filter($"doc_id" < 50)
        .select($"doc_id", split(lower(trim($"text")), "\\s+").as("w"))
        .select(
          $"doc_id",
          array_join(sort_array(slice($"w", 1, 5)), ",").as("first5_sorted"),
          array_contains($"w", "the").cast("boolean").as("has_the"),
          array_position($"w", "data").cast("long").as("data_pos"),
          size(array_distinct($"w")).cast("long").as("n_distinct"))
        .orderBy($"doc_id")
    }),

    // ---- String-function battery ----
    "q49_string_ops" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .filter($"event_id" < 100)
        .select(
          $"event_id",
          lpad($"user_id".cast("string"), 6, "0").as("padded_uid"),
          rpad($"event_type", 10, ".").as("padded_type"),
          reverse($"event_type").as("rev_type"),
          translate($"event_type", "aeiou", "AEIOU").as("caps_vowels"),
          upper($"event_type").as("upper_type"))
        .orderBy($"event_id")
    }),

    // ---- Unpivot: the daily type-pivot back to long form (stack) ----
    "q50_unpivot_daily" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .groupBy(to_date($"ts").as("day"))
        .agg(
          count(when($"event_type" === "click", 1)).as("clicks"),
          count(when($"event_type" === "view", 1)).as("views"))
        .select($"day", expr(
          "stack(2, 'clicks', clicks, 'views', views) AS (metric, n)"))
        .orderBy($"day", $"metric")
    }),

    // ---- Deterministic hash split + per-group sampling (Sampling) ----
    "q52_train_test_split" -> ((s, dir) => {
      import s.implicits._
      Sampling.trainTestSplit(Tables.load(s, dir, "documents"), "doc_id", trainPct = 80)
        .groupBy($"lang", $"split")
        .agg(count(lit(1)).as("n_docs"), Ops.decSum($"n_chars".cast("double")).as("total_chars"))
        .orderBy($"lang", $"split")
    }),
    "q53_per_lang_sample" -> ((s, dir) => {
      import s.implicits._
      Sampling.samplePerGroup(Tables.load(s, dir, "documents"), "lang", "doc_id", k = 5)
        .select($"lang", $"doc_id")
        .orderBy($"lang", $"doc_id")
    }),

    // ---- Corpus prep: chunking, redaction, mixture (TextPrep) ----
    "q54_chunking" -> ((s, dir) => {
      import s.implicits._
      operators.TextPrep.chunk(Tables.load(s, dir, "documents").filter($"doc_id" < 50),
        size = 40, overlap = 10)
    }),
    "q55_redaction" -> ((s, dir) =>
      operators.TextPrep.redact(Tables.load(s, dir, "documents"))),
    "q56_source_mixture" -> ((s, dir) => {
      import s.implicits._
      operators.TextPrep.sourceMixture(Tables.load(s, dir, "documents"),
        weights = Map("src0" -> 100, "src1" -> 50), defaultPct = 10)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy($"source")
    }),

    // ---- spark.sql entry path + correlated scalar subquery ----
    "q51_sql_correlated" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_custkey, c_name,
          |  (SELECT MAX(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS max_order
          |FROM customer
          |WHERE c_custkey < 200
          |ORDER BY c_custkey""".stripMargin)
    }),

    // ---- ROLLUP hierarchy totals (subtotal + grand total rows) ----
    "q33_rollup_totals" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), Ops.decSum($"l_quantity").as("sum_qty"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    }),

    // ---- Frame-based analytics: per-user 3-row moving average
    // (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), exact arithmetic ----
    "q34_moving_avg" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(-2, Window.currentRow)
      Tables.load(s, dir, "events")
        .filter($"user_id" < 10)
        .select($"user_id", $"event_id",
          (sum($"value".cast("decimal(12,2)")).over(w).cast("double")
            / count($"value").over(w)).as("mov_avg"))
        .orderBy($"user_id", $"event_id")
    }),

    // ---- Pivot-style conditional aggregation: events per type per day ----
    "q35_daily_type_pivot" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .groupBy(to_date($"ts").as("day"))
        .agg(
          count(when($"event_type" === "click", 1)).as("clicks"),
          count(when($"event_type" === "view", 1)).as("views"),
          count(when($"event_type" === "purchase", 1)).as("purchases"),
          count(when($"event_type" === "signup", 1)).as("signups"),
          count(when($"event_type" === "error", 1)).as("errors"),
          count(lit(1)).as("total"))
        .orderBy($"day")
    }),

    // ---- Array-function battery over the vector column ----
    "q36_vector_stats" -> ((s, dir) => {
      import s.implicits._
      graft.functions.VectorExprs.register(s)
      Tables.load(s, dir, "embeddings")
        .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .select(
          $"vec_id",
          size($"v").cast("long").as("dim"),
          expr("sqrt(graft_dot(v, v))").as("l2norm"),
          array_min($"v").as("vmin"),
          array_max($"v").as("vmax"))
        .orderBy($"vec_id")
    }),

    // ---- Edit-distance pair matrix (fuzzy text matching) ----
    "q37_editdist_pairs" -> ((s, dir) => {
      import s.implicits._
      val heads = Tables.load(s, dir, "documents")
        .filter($"doc_id" < 20)
        .select($"doc_id", substring($"text", 1, 30).as("h"))
      heads.as("a").join(heads.as("b"), $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
          levenshtein($"a.h", $"b.h").as("edit_dist"))
        .orderBy($"doc_a", $"doc_b")
    }),

    // ---- Calendar truncation + extraction (week/month grains) ----
    "q38_weekly_summary" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .groupBy(
          to_date(date_trunc("week", $"ts")).as("week"),
          month($"ts").cast("long").as("month"))
        .agg(count(lit(1)).as("n"), Ops.decSum($"value").as("total_value"))
        .orderBy($"week", $"month")
    }),

    // ---- Token counting: whitespace + BPE-ish regex (TextAnalysis) ----
    "q39_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(Tables.load(s, dir, "documents"))),

    // ---- GROUPING SETS with grouping() marker ----
    "q40_grouping_sets" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .groupingSets(Seq(Seq($"event_type"), Seq()), $"event_type")
        .agg(count(lit(1)).as("n"), grouping($"event_type").cast("long").as("is_total"))
        .orderBy($"event_type".asc_nulls_first)
    }),

    // ---- Exact interpolated percentiles per group ----
    "q41_value_quantiles" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .groupBy($"event_type")
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"))
        .orderBy($"event_type")
    }),

    // ---- Positional explode (LATERAL VIEW posexplode analog) ----
    "q42_doc_word_positions" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .filter($"doc_id" < 5)
        .select($"doc_id", posexplode(split(lower(trim($"text")), "\\s+")).as(Seq("pos", "word")))
        .select($"doc_id", $"pos".cast("long").as("pos"), $"word")
        .orderBy($"doc_id", $"pos")
    }),

    // ---- first_value / last_value analytics per user ----
    "q43_user_first_last" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "events")
        .select($"user_id",
          first($"event_type").over(w).as("first_type"),
          last($"event_type").over(w).as("last_type"))
        .distinct()
        .orderBy($"user_id")
    }),

    // ---- lag/lead analytics: inter-event gaps and next-event type ----
    "q44_event_gaps" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.load(s, dir, "events")
        .filter($"user_id" < 10)
        .select($"user_id", $"event_id",
          (unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w)).as("gap_us"),
          lead($"event_type", 1).over(w).as("next_type"))
        .orderBy($"user_id", $"event_id")
    }),

    // ---- JSON round-trip flatten (P2 machinery on testdata): build a
    // recently-played-shaped payload from events, parse it back with a
    // declared schema, flatten with null-defaults + string-slice date.
    // The oracle is the equivalent direct projection — validating that
    // to_json/from_json/coalesce preserve semantics exactly ----
    "q46_json_roundtrip_flatten" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val payloadSchema = StructType(Seq(
        StructField("played_at", StringType),
        StructField("track", StructType(Seq(
          StructField("id", StringType),
          StructField("name", StringType),
          StructField("value", DoubleType))))))
      Tables.load(s, dir, "events")
        .select($"event_id", to_json(struct(
          date_format($"ts", "yyyy-MM-dd'T'HH:mm:ss").as("played_at"),
          struct(
            $"event_id".cast("string").as("id"),
            $"event_type".as("name"),
            $"value").as("track"))).as("payload"))
        .select($"event_id", from_json($"payload", payloadSchema).as("p"))
        .select(
          $"event_id",
          coalesce($"p.track.name", lit("Unknown")).as("song_name"),
          coalesce($"p.played_at", lit("")).as("played_at"),
          substring($"p.played_at", 1, 10).as("day"),
          coalesce($"p.track.value", lit(0.0)).as("value"))
        .orderBy($"event_id")
    }),

    // ---- EP1 10-col top-tracks flatten (P1) on testdata: build a
    // top-tracks-shaped JSON payload from events (nulls injected via
    // untaken WHENs to exercise every coalesce default), parse it with
    // the declared schema, and run the REAL SpotifyFlatten.topTracks.
    // Oracle = the equivalent direct projection. ----
    "q59_toptracks_flatten" -> ((s, dir) => {
      import s.implicits._
      flattenedTopTracks(s, dir).orderBy($"track_id")
    }),

    // ---- EP1 grouped-by-artist catalog stats (SURVEY §2.5's natural
    // extension — the per-artist aggregation the reference's flat CSV
    // never computes): top-tracks flatten → per-artist track count +
    // exact avg popularity, joined to each artist's top-2 tracks by
    // duration via the custom TopKPerGroup physical operator (q81's
    // plan: partial per-partition heaps, one hash exchange). The
    // stats side is one row per artist, so the planner broadcasts it
    // into the join. ----
    "q192_artist_track_stats" -> ((s, dir) => {
      import s.implicits._
      val flat = flattenedTopTracks(s, dir)
      val stats = flat.groupBy($"artist_name")
        .agg(count(lit(1)).as("n_tracks"),
          (sum($"popularity").cast("double") / count($"popularity")).as("avg_popularity"))
      val top = plans.TopK.perGroup(
        flat.select($"artist_name", $"duration_ms", $"track_id"),
        Seq($"artist_name"), Seq($"duration_ms".desc, $"track_id".asc), k = 2)
      top.join(stats, Seq("artist_name"))
        .select($"artist_name", $"n_tracks", $"avg_popularity",
          $"track_id", $"duration_ms")
        .orderBy($"artist_name", $"duration_ms".desc, $"track_id")
    }),

    // ---- EP3 13-col ranked projection (P3) on testdata: recently-
    // played-shaped payloads (one item each; error events get a NULL
    // track, which the flatten drops per reference semantics), ranked
    // by the REAL SpotifyFlatten.rankedRecentlyPlayed. Input bounded to
    // <1000 rows. Rows come out in rank order: ordering by the rank's
    // own keys reuses the rank's range partitioning and sort, where
    // ordering by `rank` would exchange the frame again ----
    "q60_ranked_flatten" -> ((s, dir) => {
      import s.implicits._
      SpotifyFlatten.rankedRecentlyPlayed(parsedRecentlyPlayed(s, dir))
        .withColumn("rank", $"rank".cast("long"))
        .orderBy($"played_at".desc, $"track_id")
    }),

    // ---- EP2 grouped-by-artist listening report (SURVEY §2.5's
    // grouped extension over the recently-played flatten): plays per
    // artist, total listening time rendered m:ss by the same exact
    // formatter as the reference's console display (Ops.msToMinSec,
    // new.py:170), and the most recent played_at. P2 semantics ride
    // through: an item with a missing track is KEPT as an
    // all-defaults row (artist "Unknown", duration 0), so the
    // 'Unknown' group aggregates the malformed tail instead of
    // silently dropping it. ----
    "q193_artist_listening" -> ((s, dir) => {
      import s.implicits._
      SpotifyFlatten.recentlyPlayed(parsedRecentlyPlayed(s, dir))
        .groupBy($"artist_name")
        .agg(count(lit(1)).as("n_plays"),
          sum($"duration_ms").as("total_ms"),
          max($"played_at").as("last_played"))
        .select($"artist_name", $"n_plays",
          Ops.msToMinSec($"total_ms").as("listen_time"),
          $"total_ms", $"last_played")
        .orderBy($"artist_name")
    }),

    // ---- EP1 END-TO-END in ONE plan (SURVEY §3's last trace as a
    // single catalog entry — VERDICT r19 item 7): artist SEARCH
    // payloads (every 7th candidate's query hits; the rest return
    // empty items and drop at firstArtistMatch, the reference's
    // items[0] miss path, spotify_etl.py:117-121) → matched-artist
    // tracks via the broadcast FK chain
    // (SpotifySearch.tracksForMatchedArtists — the reference's two
    // sequential HTTP calls as one plan) → q192's grouped stats +
    // top-2-by-duration via the custom TopKPerGroup physical
    // operator, over exactly the matched slice. No new operator code;
    // the oracle recomposes the existing CTE fragments. ----
    "q194_search_chain_stats" -> ((s, dir) => {
      import s.implicits._
      val flat = flattenedTopTracks(s, dir)
      val raw = Tables.load(s, dir, "events").filter($"event_id" < 2000)
        .select($"user_id").distinct()
        .select(to_json(struct(struct(
          when($"user_id" % 7 === 0, array(struct(
            concat(lit("ar"), $"user_id").as("id"),
            concat(lit("Artist "), $"user_id").as("name"))))
            .as("items")).as("artists"))).as("json"))
      val matched = operators.SpotifySearch.firstArtistMatch(
        SpotifySchemas.parse(raw.as[String], SpotifySchemas.artistSearchPayload))
        .select($"artist_name")
      val sel = operators.SpotifySearch.tracksForMatchedArtists(flat, matched)
      val stats = sel.groupBy($"artist_name")
        .agg(count(lit(1)).as("n_tracks"),
          (sum($"popularity").cast("double") / count($"popularity")).as("avg_popularity"))
      val top = plans.TopK.perGroup(
        sel.select($"artist_name", $"duration_ms", $"track_id"),
        Seq($"artist_name"), Seq($"duration_ms".desc, $"track_id".asc), k = 2)
      top.join(stats, Seq("artist_name"))
        .select($"artist_name", $"n_tracks", $"avg_popularity",
          $"track_id", $"duration_ms")
        .orderBy($"artist_name", $"duration_ms".desc, $"track_id")
    }),

    // ---- Ranking-function family over one window ----
    "q45_price_ranks" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"p_brand").orderBy($"p_retailprice".desc, $"p_partkey")
      Tables.load(s, dir, "part")
        .select($"p_brand", $"p_partkey", $"p_retailprice",
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("prank"))
        .orderBy($"p_brand", $"p_partkey")
    }),

    // ---- Rolling DAU/WAU (operators.Retention): trailing-7-day
    // DISTINCT per day — no window engine supports a moving
    // COUNT(DISTINCT), so the exact path explodes the ALREADY-REDUCED
    // (day,user) pair set into its 7 target days ----
    "q133_rolling_dau_wau" -> ((s, dir) =>
      Retention.rollingActiveUsers(Tables.load(s, dir, "events"), windowDays = 7)),

    // ---- Sketch path for the same rolling distinct: per-day KMV
    // partials rolling-merged (k longs per day of state, corpus never
    // rescanned) — the 100 TB route when even the pair set is hot ----
    "q134_rolling_wau_kmv" -> ((s, dir) =>
      Retention.rollingActiveUsersKmv(Tables.load(s, dir, "events"),
        windowDays = 7, k = 64)),

    // ---- Ordered-step session funnel over q31's gap-sessions:
    // first-occurrence times per step, in-order flags, one global
    // aggregate; conversion in exact integer basis points ----
    "q135_session_funnel" -> ((s, dir) =>
      Sessionize.sessionFunnel(Tables.load(s, dir, "events"), gapMinutes = 60,
        steps = Seq("view", "click", "purchase"))),

    // ---- Cohort retention matrix (operators.Retention): first-day
    // cohorts x weekly offsets, all on the reduced (day,user) pair
    // set; the user-keyed dim join is the bucketing candidate ----
    "q136_cohort_retention" -> ((s, dir) =>
      Retention.cohortRetention(Tables.load(s, dir, "events"), bucketDays = 7)),

    // ---- Time-to-convert percentiles over q135's converting
    // sessions (exact percentile baseline; q104's quantized CDF is
    // the no-global-collection form of the same question) ----
    "q137_funnel_latency" -> ((s, dir) =>
      Sessionize.funnelLatency(Tables.load(s, dir, "events"), gapMinutes = 60,
        steps = Seq("view", "click", "purchase"))),

    // ---- Power-user curve: users by count of distinct active days
    // (two combinable aggregates on the reduced pair set) ----
    "q138_activity_histogram" -> ((s, dir) =>
      Retention.activityHistogram(Tables.load(s, dir, "events"))),

    // ---- Rolling WAU from PERSISTED sketch state (the q121/q132
    // build-once pattern applied to the sketch tier): per-day KMV
    // partials land in a lake table; the WAU backfill reads k longs
    // per day from it and never rescans events ----
    "q139_rolling_wau_persisted" -> ((s, dir) => {
      val state = Scratch.dir("graft_kmv_q139") + "/state"
      Retention.persistDailyKmv(Tables.load(s, dir, "events"), k = 64, path = state)
      Retention.rollingWauFromState(s, state, windowDays = 7, k = 64)
        .orderBy(col("day"))
    }),

    // ---- q137's scale form: per-conversion-day latency quantiles via
    // the quantized-count CDF (q104's path) — no global exact-
    // percentile buffer, and it reports the daily latency trend.
    // Two-step funnel: the synthetic feed has zero full three-step
    // conversions (q137 reports that honestly), while view→click
    // converts at every SF ----
    "q140_funnel_latency_cdf" -> ((s, dir) =>
      Sessionize.funnelLatencyCdf(Tables.load(s, dir, "events"), gapMinutes = 60,
        steps = Seq("view", "click"), percents = Seq(50, 90, 99))),

    // ---- First-order within-session transition matrix ("END" on
    // session close): lead rides the session window's own sort; output
    // |types|^2 rows at any corpus size ----
    "q141_transition_matrix" -> ((s, dir) =>
      Sessionize.transitionMatrix(Tables.load(s, dir, "events"), gapMinutes = 60)),

    // ---- Revenue concentration by user decile (exact bp shares; the
    // decile sort runs on per-user rows, not events) ----
    "q142_ltv_deciles" -> ((s, dir) =>
      Retention.ltvDeciles(Tables.load(s, dir, "events"),
        eventType = "purchase", valueCol = "value")),

    // ---- Streaming-maintained KMV state (transformWithState +
    // RocksDB): the live-ingest form of q139 — per-day k-min arrays
    // as typed state, emissions re-sketched on read; exact under any
    // batching, so it shares q139's oracle ----
    "q143_stream_rolling_wau" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val src = EventStream.source(s, s"$dir/events.parquet")
      EventStream.withStatePartitions(s, EventStream.stateStores(src)) {
        Retention.mergeRollingKmv(
          streaming.KmvStream.drainedPartials(s, src, k = 64),
          windowDays = 7, k = 64)
      }.orderBy(col("day"))
    }),

    // ---- q135/q137 with SEEDED conversion chains: the synthetic feed
    // produces zero full view→click→purchase sessions, so the ordered-
    // chain logic (reachedFlags' t_i <= t_{i+1} conjunction) matched
    // only an empty aggregate. These union four deterministic users —
    // two in-order converters, one out-of-order, one whose purchase
    // falls past the session gap — so step-3 counts and latency
    // percentiles are oracle-checked with rows > 0 ----
    "q144_session_funnel_seeded" -> ((s, dir) =>
      Sessionize.sessionFunnel(seededFunnelFeed(s, dir), gapMinutes = 60,
        steps = Seq("view", "click", "purchase"))),

    "q145_funnel_latency_seeded" -> ((s, dir) =>
      Sessionize.funnelLatency(seededFunnelFeed(s, dir), gapMinutes = 60,
        steps = Seq("view", "click", "purchase"))),

    // ---- Timer-based session close (transformWithState + event-time
    // timers + RocksDB): q107's live-ingest twin — a session emits
    // exactly when the WATERMARK proves it closed (a successor drags
    // the watermark past the close; a quiet user's timer fires as it
    // passes — the only sound rule under out-of-order arrival). State
    // is the open-session list per ACTIVE user, evicted on close. A
    // sentinel event past max(ts)+gap (filtered back out) lets the
    // closing no-data batch fire every remaining timer, so the result
    // shares q107's batch oracle verbatim. max(ts) is a bounded
    // driver probe (one row) for staging the sentinel ----
    "q146_stream_session_close" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts")).filter(col("user_id").isNotNull)
      val staging = Scratch.dir("graft_sess_q146")
      streaming.SessionStream.stageWithSentinel(ev, s"$staging/feed", gapMinutes = 30)
      val src = EventStream.source(s, s"$staging/feed")
      EventStream.withStatePartitions(s, EventStream.stateStores(src)) {
        streaming.SessionStream.drainClosed(s, src, gapMinutes = 30)
      }.filter(col("user_id") =!= streaming.SessionStream.SentinelUser)
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ---- Streaming-maintained CMS cells (transformWithState +
    // RocksDB): the live-ingest form of q128 — per-day depth·width
    // counter arrays as typed state, emissions reduced by max on read
    // (counters are monotone, so the largest emission of a cell is its
    // final value); shares q128's oracle because the drained cells
    // equal the batch partial exactly ----
    "q147_stream_heavy_hitters" -> ((s, dir) => {
      val src = EventStream.source(s, s"$dir/events.parquet")
      val cells = EventStream.withStatePartitions(s, EventStream.stateStores(src)) {
        streaming.CmsStream.drainedCells(s, src, keyCol = "user_id", depth = 4, width = 512)
      }
      FreqSketch.heavyHittersFromCells(Tables.load(s, dir, "events"),
        FreqSketch.cmsMerge(cells), keyCol = "user_id", depth = 4, width = 512, topN = 20)
    }),

    // ---- Rolling purchase-value percentiles from PERSISTED quantile
    // state (the q139 pattern applied to the quantized-CDF tier):
    // per-(day, cent) counts land in a lake table — cell-wise additive,
    // so the 7-day p50/p90 backfill sums windowed cells and walks the
    // CDF without ever rescanning events; exact type-1 quantiles in
    // pure i64 arithmetic ----
    "q148_rolling_value_quantiles" -> ((s, dir) => {
      val state = Scratch.dir("graft_cents_q148") + "/state"
      operators.Profile.persistDailyCents(Tables.load(s, dir, "events"),
        eventType = "purchase", valueCol = "value", path = state)
      operators.Profile.rollingQuantilesFromState(s, state,
        windowDays = 7, percents = Seq(50, 90))
    }),

    // ---- Snapshot change capture: diff two versions of the documents
    // table into added/removed/changed rows — the incremental-
    // processing primitive deciding what re-enters dedup/index-append
    // on a daily run. Staged versions: old = doc_id < 400, new =
    // doc_id >= 100 with every 10th text amended, so all three
    // statuses appear; the unchanged mass never leaves the join ----
    "q149_snapshot_diff" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val oldSnap = docs.filter($"doc_id" < 400)
      val newSnap = docs.filter($"doc_id" >= 100)
        .withColumn("text",
          when($"doc_id" % 10 === 0, concat($"text", lit(" v2"))).otherwise($"text"))
      operators.Snapshot.diffRows(oldSnap, newSnap, "doc_id", Seq("text", "lang"))
    }),

    // ---- Persisted near-dup pair table (the q121/q132/q139 build-
    // once pattern applied to the dedup family): the capped Jaccard
    // pairs are built ONCE as a lake table and every family consumer
    // reads that table instead of re-deriving pairs (measured 0.41x
    // over 4 consumers, tools/scaleprobe_r10_family.jsonl). The
    // catalog checks the keep-best consumer off the PERSISTED pairs
    // against q74's standalone oracle verbatim — build+read equals
    // the standalone form, hash-for-hash. The remaining consumers'
    // equality is spec-proven (PipelinesSpec EP4).
    "q150_neardup_family_persisted" -> ((s, dir) => {
      val pairs = Scratch.dir("graft_pairs_q150") + "/pairs"
      stagedBuild("jpairs3-j50-c20", dir, pairs)(p =>
        Dedup.jaccardPairsCapped(Tables.load(s, dir, "documents"),
          n = 3, minJ = 0.5, maxDf = 20).write.mode("overwrite").parquet(p))
      Pipelines.nearDupFamilyFromPairs(s, Tables.load(s, dir, "documents"),
        pairs)("keep_best")()
    }),

    // ---- The EP5 daily incremental loop end-to-end as a catalog
    // query: day-0 full build (signatures + IVF) from the 80% day-1
    // snapshot, then ONE loop turn — snapshot diff routes the added
    // 20% into incremental dedup + index append — returning the new
    // near-dup pairs. The oracle replays the full-corpus estimator
    // restricted to pairs touching an added doc: exactly what the
    // loop must emit if the incremental path loses nothing. State
    // rebuilds per call (overwrite day-0 then one append), so the
    // query is idempotent for the bench's repeated runs. ----
    "q151_daily_incremental" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
      val d1e = emb.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
      val st = Scratch.dir("graft_daily_q151")
      stagedMh("day1mod5", dir, st + "/mh")(day1Docs)
      stagedIvf("d1emod5", dir, st + "/ivf")(d1e)
      Pipelines.dailyIncremental(s, day1Docs, docs, d1e, emb,
        st + "/mh", st + "/ivf")("dedup_pairs")
    }),

    // ---- DSIR importance weights + resampling (Xie et al. 2023):
    // hashed-unigram log-likelihood ratios vs a target domain —
    // broadcast 64-row ratio table, decimal-accumulated sums ----
    "q152_dsir_weights" -> ((s, dir) =>
      TextAnalysis.dsirWeights(Tables.load(s, dir, "documents"), "src0")),
    "q153_dsir_resample" -> ((s, dir) =>
      TextAnalysis.dsirResample(Tables.load(s, dir, "documents"), "src0", k = 40)),

    // ---- EP6 end-to-end curation run: near-dup keep-best -> quality
    // logit gate -> DSIR steering, in production order (deliberately
    // self-contained like q74/q127; real pipelines pass the persisted
    // pair table) ----
    "q154_curated_selection" -> ((s, dir) =>
      Pipelines.curatedSelection(Tables.load(s, dir, "documents"), "src0", k = 40)),

    // ---- DSIR persisted distribution state: bucket counts appended
    // per batch (cell-additive, the q139/q147/q148 contract), scoring
    // reads state sums — equals q152 exactly after all batches append
    // (oracle shared verbatim) ----
    "q155_dsir_persisted" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val st = Scratch.dir("graft_dsir_q155")
      // two ingest batches append their counts independently
      stagedBuild("dsir-twohalves-ng1", dir, st) { p =>
        TextAnalysis.persistDsirState(docs.filter(col("doc_id") % 2 === 0), "src0", p)
        TextAnalysis.persistDsirState(docs.filter(col("doc_id") % 2 =!= 0), "src0", p)
      }
      TextAnalysis.dsirWeightsFromState(docs, s, st, "src0")
    }),

    // ---- Hashed-BIGRAM DSIR (Xie et al.'s reported-best feature
    // set): same kernel as q152, feature order 2 — and the persisted
    // form, whose state rows carry the (nb, ng) param stamp so
    // unigram state can never silently score bigram features ----
    "q158_dsir_bigram_weights" -> ((s, dir) =>
      TextAnalysis.dsirWeights(Tables.load(s, dir, "documents"), "src0", ngram = 2)),
    "q159_dsir_bigram_persisted" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val st = Scratch.dir("graft_dsir_q159")
      stagedBuild("dsir-twohalves-ng2", dir, st) { p =>
        TextAnalysis.persistDsirState(docs.filter(col("doc_id") % 2 === 0), "src0", p, ngram = 2)
        TextAnalysis.persistDsirState(docs.filter(col("doc_id") % 2 =!= 0), "src0", p, ngram = 2)
      }
      TextAnalysis.dsirWeightsFromState(docs, s, st, "src0", ngram = 2)
    }),

    // ---- DSIR state RETRACTION: the cell-additive counts make edits
    // a retract(old rows) + persist(new rows) pair — no rewrite, no
    // compaction. Day-0 state is built over the same tampered corpus
    // shape as q156 (stale drafts + ghosts); after the retract/persist
    // cycle, scoring must equal the inline full-corpus weights, so the
    // oracle is q152's verbatim ----
    "q160_dsir_retracted" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val st = Scratch.dir("graft_dsir_q160")
      val changed = docs.filter(col("doc_id") % 7 === 0)
      val stale = changed.withColumn("text", concat(col("text"), lit(" stale draft")))
      val ghosts = docs.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 1000000)
      stagedDsir("day0tamp7", dir, st)(
        docs.filter(col("doc_id") % 7 =!= 0).unionByName(stale).unionByName(ghosts))
      // the edit lands: cancel the superseded rows, append the current
      TextAnalysis.retractDsirState(stale.unionByName(ghosts), "src0", st)
      TextAnalysis.persistDsirState(changed, "src0", st)
      TextAnalysis.dsirWeightsFromState(docs, s, st, "src0")
    }),

    // ---- Stale-key state compaction (the maintenance path the EP5
    // loop's worklist feeds): day-0 signature state is built over a
    // TAMPERED corpus — docs ≡0 mod 7 carry a stale draft text, and
    // 30 ghost docs are later deleted — then ONE edit+compact cycle
    // must heal both, leaving state identical to a fresh full build
    // over the current corpus (the oracle computes exactly that,
    // never seeing the tampered day-0 at all) ----
    "q156_compact_signatures" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val changed = docs.filter(col("doc_id") % 7 === 0)
      val day0 = docs.filter(col("doc_id") % 7 =!= 0)
        .unionByName(changed.withColumn("text", concat(col("text"), lit(" stale draft"))))
        .unionByName(docs.filter(col("doc_id") < 30)
          .withColumn("doc_id", col("doc_id") + 1000000))
      val st = Scratch.dir("graft_compact_q156")
      stagedMh("day0tamp7", dir, st)(day0)
      // worklist = CHANGED keys only; the removed ghosts must fall out
      // of the corpus-key semi-join without being named
      Dedup.compactSignatures(docs, 3, 16, 4, st, changed.select("doc_id"))
      Dedup.loadSignatures(s, st).orderBy(col("doc_id"))
    }),
    // Same cycle for the IVF tier: stale embeddings (reversed arrays,
    // ids past the centroid block so the centroids stay valid) and
    // ghost vectors enter the day-0 build; compaction drops their
    // rows, the current versions re-enter via the DAILY APPEND path,
    // and the probe result must equal a fresh build — so the oracle
    // is the plain inline-IVF shape over the current corpus
    "q157_compact_ivf" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val stale = emb.filter(col("vec_id") >= 16 && col("vec_id") % 9 === 0)
      val ghosts = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 1000000)
      val day0 = emb.join(stale.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(stale.withColumn("embedding", reverse(col("embedding"))))
        .unionByName(ghosts)
      val st = Scratch.dir("graft_compact_q157") + "/idx"
      stagedIvf("day0tamp9", dir, st)(day0)
      Similarity.compactIvfIndex(s, st,
        stale.select("vec_id").unionByName(ghosts.select("vec_id")))
      Similarity.appendToIvfIndex(stale, s, st)
      Similarity.cosineTopKIvfIndexed(s, st, nQueries = 8, k = 6, nprobe = 3)
    }),
    // PQ tier: a deprecated batch (ghost duplicates) lands via the
    // daily append and is rolled back by compaction — codebooks are
    // untouched (they trained on the REAL corpus, which never
    // changed), so the healed index must answer probes exactly like
    // the pristine build: q129/q132's oracle shape at new params
    "q161_compact_pq" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val st = Scratch.dir("graft_compact_q161") + "/idx"
      stagedPq("embfull", dir, st)(emb)
      val ghosts = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 1000000)
      Similarity.appendToPqIndex(ghosts, s, st)
      Similarity.compactPqIndex(s, st, ghosts.select("vec_id"))
      Similarity.pqTopKIndexed(emb, s, st, nQueries = 4, k = 6, rerank = 24)
    }),

    // ---- EP5 loop WITH EDITS, end-to-end healed: yesterday's corpus
    // carried stale drafts (doc_id % 35 = 7) and since-deleted ghost
    // docs (same for the vector side); today's turn diffs, compacts
    // the changed/removed state rows, re-signs from current text, and
    // runs the added batch through incremental dedup. Healing must be
    // INVISIBLE: the emitted pairs share q151's grow-only oracle
    // verbatim (current corpus, mod-5 added split) ----
    "q162_daily_edit_loop" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val changedDocs = docs.filter(col("doc_id") % 35 === 7)
      val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
        .unionByName(changedDocs.withColumn("text", concat(col("text"), lit(" stale draft"))))
        .unionByName(docs.filter(col("doc_id") < 30)
          .withColumn("doc_id", col("doc_id") + 1000000))
      // vector side: stale versions (reversed) of changed ids that are
      // NOT in today's added batch and NOT centroids, plus ghosts
      val changedVec = emb.filter(
        col("vec_id") >= 16 && col("vec_id") % 9 === 0 && col("vec_id") % 5 =!= 0)
      val d1e = emb.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
      val day1Emb = d1e.join(changedVec.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(changedVec.withColumn("embedding", reverse(col("embedding"))))
        .unionByName(emb.filter(col("vec_id") < 20)
          .withColumn("vec_id", col("vec_id") + 1000000))
      val st = Scratch.dir("graft_daily_q162")
      stagedMh("day1tamp", dir, st + "/mh")(day1Docs)
      stagedIvf("day1emb", dir, st + "/ivf")(day1Emb)
      Pipelines.dailyIncremental(s, day1Docs, docs, day1Emb, emb,
        st + "/mh", st + "/ivf", healEdits = true)("dedup_pairs")
    }),

    // ---- EP5 loop carrying the DSIR tier: the sum-shaped state rides
    // the same healed turn (adds append; edits retract old text +
    // persist current — never a compaction), with (nb, ng) read off
    // the state's own stamp. Same tampered staging as q162 on the doc
    // side (stale drafts + ghosts), vectors unchanged; after ONE turn,
    // scoring the current corpus from state must equal the inline
    // full-corpus weights — q152's oracle verbatim ----
    "q163_daily_dsir_loop" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val changedDocs = docs.filter(col("doc_id") % 35 === 7)
      val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
        .unionByName(changedDocs.withColumn("text", concat(col("text"), lit(" stale draft"))))
        .unionByName(docs.filter(col("doc_id") < 30)
          .withColumn("doc_id", col("doc_id") + 1000000))
      val st = Scratch.dir("graft_daily_q163")
      stagedMh("day1tamp", dir, st + "/mh")(day1Docs)
      stagedIvf("embfull", dir, st + "/ivf")(emb)
      stagedDsir("day1tamp", dir, st + "/dsir")(day1Docs)
      Pipelines.dailyIncremental(s, day1Docs, docs, emb, emb,
        st + "/mh", st + "/ivf", healEdits = true,
        dsirStatePath = Some(st + "/dsir"), healVia = "tombstone")
      TextAnalysis.dsirWeightsFromState(docs, s, st + "/dsir", "src0")
    }),

    // ---- q162's staging healed the TOMBSTONE way: O(|edits|)
    // content-addressed tombstones + fresh re-signs instead of a
    // state rewrite — the daily-cadence mode at 100 TB. The
    // merge-on-read view must make healing exactly as invisible as
    // the rewrite did: same grow-only oracle (q151's) verbatim ----
    "q164_daily_tombstone_loop" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val changedDocs = docs.filter(col("doc_id") % 35 === 7)
      val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
        .unionByName(changedDocs.withColumn("text", concat(col("text"), lit(" stale draft"))))
        .unionByName(docs.filter(col("doc_id") < 30)
          .withColumn("doc_id", col("doc_id") + 1000000))
      val changedVec = emb.filter(
        col("vec_id") >= 16 && col("vec_id") % 9 === 0 && col("vec_id") % 5 =!= 0)
      val d1e = emb.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
      val day1Emb = d1e.join(changedVec.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(changedVec.withColumn("embedding", reverse(col("embedding"))))
        .unionByName(emb.filter(col("vec_id") < 20)
          .withColumn("vec_id", col("vec_id") + 1000000))
      val st = Scratch.dir("graft_daily_q164")
      stagedMh("day1tamp", dir, st + "/mh")(day1Docs)
      stagedIvf("day1emb", dir, st + "/ivf")(day1Emb)
      Pipelines.dailyIncremental(s, day1Docs, docs, day1Emb, emb,
        st + "/mh", st + "/ivf", healEdits = true,
        healVia = "tombstone")("dedup_pairs")
    }),

    // ---- q126's daily-ingest near-dup loop as a STREAM: the added
    // batch arrives as a file stream in 1-file micro-batches, each
    // near-dupping against persisted signatures + itself and appending
    // its own — the EP5 ingest under arrival-order partitioning. The
    // union over micro-batches must equal the one-shot run (pair
    // emission partitions cleanly across batches), so the oracle is
    // q126's verbatim ----
    "q165_stream_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val bucket = graft.operators.Sampling.hashBucket(col("doc_id").cast("string"))
      val st = Scratch.dir("graft_stream_dedup_q165")
      stagedMh("b80lt", dir, st + "/mh")(docs.filter(bucket < 80))
      stagedFeed("docs-b80", dir, 4, st + "/feed")(docs.filter(bucket >= 80))
      streaming.DedupStream.incrementalPairs(s, st + "/feed",
        n = 3, numHashes = 16, bands = 4, minJ = 0.5,
        sigPath = st + "/mh", outDir = st + "/pairs", checkpoint = st + "/ckpt")
    }),

    // ---- IVF re-centering from state: the one edit the incremental
    // tiers can't heal is a CENTROID vector's own change — the
    // tombstone updates its assignment row but the centroid table
    // keeps routing probes against the old vector. Day-0 here carries
    // exactly that (vec_id 3 reversed) plus stale non-centroid
    // vectors and ghosts; after the tombstone heal, recenterIvfIndex
    // rebuilds centroids + assignments FROM STATE (no corpus re-read)
    // and the probes must answer like a fresh inline build over the
    // current corpus — q157's oracle verbatim ----
    "q166_recenter_ivf" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val changed = emb.filter(
        col("vec_id") === 3 || (col("vec_id") >= 16 && col("vec_id") % 9 === 0))
      val ghosts = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 1000000)
      val day0 = emb.join(changed.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(changed.withColumn("embedding", reverse(col("embedding"))))
        .unionByName(ghosts)
      val st = Scratch.dir("graft_recenter_q166") + "/idx"
      stagedIvf("day0tamp9v3", dir, st)(day0)
      Similarity.tombstoneIvfIndex(changed, s, st, ghosts.select("vec_id"))
      Similarity.recenterIvfIndex(s, st)
      Similarity.cosineTopKIvfIndexed(s, st, nQueries = 8, k = 6, nprobe = 3)
    }),

    // ---- The RETRIED daily turn: q163's healed loop runs TWICE with
    // the same snapshots and runId — the orchestrator retry that makes
    // the reference double-append (spotify_dag.py retries=2, no
    // idempotence). The duplicate must change NOTHING: signatures
    // content-cancel, IVF appends key-filter, and the DSIR sums (no
    // per-doc identity to cancel on) skip via the runId batch stamp —
    // a double-count would shift every weight and hash-mismatch
    // q152's oracle ----
    "q167_daily_retry_idempotent" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val changedDocs = docs.filter(col("doc_id") % 35 === 7)
      val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
        .unionByName(changedDocs.withColumn("text", concat(col("text"), lit(" stale draft"))))
        .unionByName(docs.filter(col("doc_id") < 30)
          .withColumn("doc_id", col("doc_id") + 1000000))
      val st = Scratch.dir("graft_daily_q167")
      stagedMh("day1tamp", dir, st + "/mh")(day1Docs)
      stagedIvf("embfull", dir, st + "/ivf")(emb)
      stagedDsir("day1tamp", dir, st + "/dsir")(day1Docs)
      def turn() = Pipelines.dailyIncremental(s, day1Docs, docs, emb, emb,
        st + "/mh", st + "/ivf", healEdits = true,
        dsirStatePath = Some(st + "/dsir"), healVia = "tombstone",
        runId = Some("2026-08-14"))
      turn() // first attempt commits everything
      turn() // the retry: must be a complete state no-op
      TextAnalysis.dsirWeightsFromState(docs, s, st + "/dsir", "src0")
    }),

    // ---- The PQ tier riding the daily loop: day-0 codebooks trained
    // on the real corpus (the versioned artifact — q161's discipline),
    // day-0 codes encode yesterday's tampered corpus; one healed
    // tombstone turn routes added vectors through the loop's PQ append
    // and heals stale/ghost codes, so probes must answer exactly like
    // a one-shot encode of the current corpus against those codebooks:
    // the pristine pqOracleSql shape at fresh params ----
    "q168_daily_pq_loop" -> ((s, dir) => {
      // the doc side is inert here (no doc changes — q162/q164 cover
      // it); a small slice keeps the entry's cost on the PQ tier
      val docs = Tables.load(s, dir, "documents").filter(col("doc_id") < 50)
      val emb = Tables.load(s, dir, "embeddings")
      val changedVec = emb.filter(
        col("vec_id") >= 16 && col("vec_id") % 9 === 0 && col("vec_id") % 5 =!= 0)
      val d1e = emb.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
      val day1Emb = d1e.join(changedVec.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(changedVec.withColumn("embedding", reverse(col("embedding"))))
        .unionByName(emb.filter(col("vec_id") < 20)
          .withColumn("vec_id", col("vec_id") + 1000000))
      val st = Scratch.dir("graft_daily_q168")
      stagedMh("docs-lt50", dir, st + "/mh")(docs)
      stagedIvf("day1emb", dir, st + "/ivf")(day1Emb)
      // codebooks trained on the real corpus, codes emptied, then the
      // deterministic day-1 codes appended — staged as ONE recipe (the
      // whole thing is day-0 state, a pure function of the inputs; the
      // TURN below, the query's subject, stays fully timed per sample)
      stagedBuild("pq-day1", dir, st + "/pq") { p =>
        Similarity.buildPqIndex(emb, m = 8, ks = 16, path = p)
        Similarity.compactPqIndex(s, p, emb.select("vec_id")) // empty the codes
        Similarity.appendToPqIndex(day1Emb, s, p)
      }
      Pipelines.dailyIncremental(s, docs, docs, day1Emb, emb,
        st + "/mh", st + "/ivf", healEdits = true, healVia = "tombstone",
        pqPath = Some(st + "/pq"))
      Similarity.pqTopKIndexed(emb, s, st + "/pq", nQueries = 5, k = 5, rerank = 20)
    }),

    // ---- Tokenized-sequence materialization: the q130 trained
    // merges APPLIED per document as token-ID arrays (reference id
    // layout: base alphabet then merges in learning order), chunked
    // to 40-id windows and greedily packed into <=100-token training
    // sequences with per-chunk sequence offsets — the corpus a
    // trainer actually reads, boundaries included. Train + encode
    // touch the corpus twice total; packing is per-doc parallel ----
    "q169_tokenize_pack" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      operators.TextPrep.packTokenIds(
        TextAnalysis.bpeEncodeIds(docs, merges = 4,
          // train on the full corpus (ids must not shift), assemble only
          // the docs the downstream consumer keeps
          encodeDocs = Some(docs.filter(col("doc_id") < 50))),
        size = 40, budget = 100)
    }),

    // ---- The tokenizer as a PERSISTED lake artifact (q121/q132's
    // build-once discipline): train once -> merges + vocab + meta on
    // disk; encode every batch against the FROZEN artifact (same
    // fold, corpus never re-trained; novel characters -> the meta
    // unk id). Over the training corpus this must equal the inline
    // q169 path bit-for-bit — oracle shared verbatim ----
    "q171_tokenize_from_vocab" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val st = Scratch.dir("graft_bpe_vocab_q171") + "/bpe"
      stagedBuild("bpe4", dir, st)(p =>
        TextAnalysis.persistBpeVocab(docs, merges = 4, p))
      operators.TextPrep.packTokenIds(
        TextAnalysis.bpeEncodeIdsFromVocab(
          // per-doc independent under the frozen artifact: encoding the
          // subset equals filtering the full encode, minus the assembly
          // pass over the 99% a downstream filter would drop
          docs.filter(col("doc_id") < 50), s, st),
        size = 40, budget = 100)
    }),

    // ---- CROSS-document concat-and-cut packing: the ids stream cut
    // every 100 tokens into exactly-full sequences, emitting the
    // (sequence, document-fragment) boundary table a trainer needs
    // for attention masking + provenance. Global prefix sum computed
    // WITHOUT a global window (GlobalRank: range partitions + per-
    // partition carries) ----
    "q172_concat_cut_pack" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      operators.TextPrep.packConcatCut(
        TextAnalysis.bpeEncodeIds(docs, merges = 4,
          // train on the full corpus (ids must not shift), assemble only
          // the docs the downstream consumer keeps
          encodeDocs = Some(docs.filter(col("doc_id") < 50))),
        budget = 100)
    }),

    // ---- The ENCODED CORPUS riding the daily loop: day-0 encodings
    // under the frozen vocab artifact cover yesterday's tampered
    // corpus (stale drafts + ghosts, q162's doc staging); one healed
    // tombstone turn routes added docs through the loop's encode
    // append and heals stale/ghost rows, so the merge-on-read view
    // over the CURRENT corpus must equal a one-shot encode — and
    // therefore packs to exactly q169's oracle, verbatim ----
    "q173_daily_tokenize_loop" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val changedDocs = docs.filter(col("doc_id") % 35 === 7)
      val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
        .unionByName(changedDocs.withColumn("text",
          concat(lit("totally different stale draft for doc "), col("doc_id").cast("string"))))
        .unionByName(docs.filter(col("doc_id") < 30)
          .withColumn("doc_id", col("doc_id") + 1000000))
      val st = Scratch.dir("graft_daily_q173")
      // the vocab is the day-0 versioned artifact, trained on the
      // real corpus (q161's codebook discipline)
      stagedBuild("bpe4", dir, st + "/bpe")(p =>
        TextAnalysis.persistBpeVocab(docs, merges = 4, p))
      stagedBuild("enc-day1tamp2", dir, st + "/enc")(p =>
        TextAnalysis.persistEncodedCorpus(day1Docs, s, st + "/bpe", p))
      stagedMh("day1tamp2", dir, st + "/mh")(day1Docs)
      stagedIvf("embfull", dir, st + "/ivf")(emb)
      Pipelines.dailyIncremental(s, day1Docs, docs, emb, emb,
        st + "/mh", st + "/ivf", healEdits = true, healVia = "tombstone",
        bpeVocabPath = Some(st + "/bpe"), encodedPath = Some(st + "/enc"))
      operators.TextPrep.packTokenIds(
        TextAnalysis.loadEncodedCorpus(s, st + "/enc")
          .filter(col("doc_id") < 50).drop("fp"),
        size = 40, budget = 100)
    }),

    // ---- The daily turn's RUN MANIFEST: one appended audit row per
    // turn (run id, per-tier change counts, post-maintenance
    // live/tombstone state, which tiers compacted) — the
    // after-the-fact audit trail retry-idempotence alone doesn't
    // give. Staging is the q162 shape with FULLY-rewritten stale
    // drafts (so every edit provably tombstones) and a sub-threshold
    // tombstone fraction (45/500), so the recorded row is exactly
    // derivable: counts from the diff arithmetic, liveness = current
    // corpus, no compaction fired ----
    "q170_run_manifest" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val changedDocs = docs.filter(col("doc_id") % 35 === 7)
      val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
        .unionByName(changedDocs.withColumn("text",
          concat(lit("totally different stale draft for doc "), col("doc_id").cast("string"))))
        .unionByName(docs.filter(col("doc_id") < 30)
          .withColumn("doc_id", col("doc_id") + 1000000))
      val st = Scratch.dir("graft_manifest_q170")
      stagedMh("day1tamp2", dir, st + "/mh")(day1Docs)
      stagedIvf("embfull", dir, st + "/ivf")(emb)
      Pipelines.dailyIncremental(s, day1Docs, docs, emb, emb,
        st + "/mh", st + "/ivf", healEdits = true, healVia = "tombstone",
        runId = Some("day-1"), manifestPath = Some(st + "/manifest"))
      s.read.parquet(st + "/manifest").orderBy(col("turn_seq"))
    }),

    // ---- EP7 end-to-end, the full final mile: the curated top-k
    // selection (near-dup collapse -> quality gate -> DSIR steering,
    // q154's chain) TOKENIZED under a vocab trained on the FULL
    // corpus (the tokenizer is a corpus-level artifact; selection
    // must not shift ids) and concat-cut packed into exactly-full
    // training sequences with the boundary table. What a user ships
    // to a trainer: curation decides WHAT, the frozen tokenizer
    // decides HOW it spells, the packer decides WHERE it sits ----
    "q174_curated_sequences" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val picked = Pipelines.curatedSelection(docs, "src0", k = 40).select("doc_id")
      // k rows by construction — never let the post-agg size estimate
      // talk the planner out of broadcasting the semi-join side. The
      // join sits BELOW the encode's per-doc assembly (encodeDocs):
      // the vocab still trains on the full corpus (ids must not
      // shift with the selection), but only the picked ~k documents
      // pay the posexplode → word-join → regroup, instead of
      // assembling the whole corpus and keeping k rows of it
      // (VERDICT r20 item 4).
      operators.TextPrep.packConcatCut(
        TextAnalysis.bpeEncodeIds(docs, merges = 4,
          encodeDocs = Some(docs.join(broadcast(picked), Seq("doc_id")))),
        budget = 100)
    }),

    // ---- The ENCODED-CORPUS tier's streaming ingest front (q165's
    // discipline on the tokenizer tier): the added batch arrives as a
    // file stream in 1-file micro-batches, each encoding against the
    // frozen vocab artifact and appending key+content-filtered rows.
    // Documents encode independently under a frozen vocab, so the
    // union over any arrival partitioning equals the one-shot encode
    // — the state packs to exactly q169's oracle, verbatim ----
    // ---- Separator-terminated concat-and-cut: each document closed
    // by a reserved EOS id before the stream cuts — the shard shape
    // trainers actually read; the boundary table's document-closing
    // fragments carry the separator (last_id = sep) so attention
    // masks and provenance stay consistent with the token stream ----
    "q182_concat_cut_sep" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      operators.TextPrep.packConcatCutSep(
        TextAnalysis.bpeEncodeIds(docs, merges = 4,
          // train on the full corpus (ids must not shift), assemble only
          // the docs the downstream consumer keeps
          encodeDocs = Some(docs.filter(col("doc_id") < 50))),
        budget = 100, sepId = 1000000)
    }),

    // ---- The STREAM-FED daily turn: the per-tier stream fronts and
    // the delta-fed turn composed into the actual CDC deployment —
    // doc/embedding arrivals drain as micro-batch delta turns against
    // the persisted state, each turn's pairs landing in a content-
    // addressed batch directory. N micro-batch turns must be
    // indistinguishable from one batch turn: q151's grow-only oracle
    // verbatim ----
    "q184_stream_daily_turn" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
      val d1e = emb.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
      val st = Scratch.dir("graft_stream_daily_q184")
      stagedMh("day1mod5", dir, st + "/mh")(day1Docs)
      stagedIvf("d1emod5", dir, st + "/ivf")(d1e)
      stagedFeed("docs-mod5", dir, 4, st + "/docfeed")(
        docs.filter(col("doc_id") % 5 === 0))
      stagedFeed("emb-mod5", dir, 2, st + "/embfeed")(
        emb.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 0))
      streaming.TurnStream.dailyTurns(s, st + "/docfeed", st + "/embfeed",
        st + "/mh", st + "/ivf", st + "/pairs", st + "/ckpt")
      streaming.TurnStream.emittedPairs(s, st + "/pairs")
    }),

    // ---- q184's drain with the pairs sink COMPACTED afterwards: the
    // per-batch directories fold into one base table, the replay-skip
    // digests move into the manifest, and the emissions must be
    // byte-identical — q151's grow-only oracle a third time, now
    // proving compaction is invisible to readers ----
    "q189_compact_pairs" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
      val d1e = emb.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
      val st = Scratch.dir("graft_stream_daily_q189")
      stagedMh("day1mod5", dir, st + "/mh")(day1Docs)
      stagedIvf("d1emod5", dir, st + "/ivf")(d1e)
      stagedFeed("docs-mod5", dir, 4, st + "/docfeed")(
        docs.filter(col("doc_id") % 5 === 0))
      stagedFeed("emb-mod5", dir, 2, st + "/embfeed")(
        emb.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 0))
      streaming.TurnStream.dailyTurns(s, st + "/docfeed", st + "/embfeed",
        st + "/mh", st + "/ivf", st + "/pairs", st + "/ckpt")
      streaming.TurnStream.compactPairs(s, st + "/pairs")
      streaming.TurnStream.emittedPairs(s, st + "/pairs")
    }),

    // ---- The stream-fed daily turn with the DSIR tier RIDING it:
    // each doc micro-batch turn stamps its content digest as the run
    // identity, so the sum-shaped state is exactly-once under any
    // re-delivery — after the drain, state-fed weights over the
    // current corpus equal the inline weights: q152's oracle verbatim
    // (q163/q167's proof shape under streaming delivery) ----
    "q188_stream_daily_dsir" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
      val d1e = emb.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
      val st = Scratch.dir("graft_stream_daily_q188")
      stagedMh("day1mod5", dir, st + "/mh")(day1Docs)
      stagedIvf("d1emod5", dir, st + "/ivf")(d1e)
      stagedDsir("day1mod5", dir, st + "/dsir")(day1Docs)
      stagedFeed("docs-mod5", dir, 4, st + "/docfeed")(
        docs.filter(col("doc_id") % 5 === 0))
      stagedFeed("emb-mod5", dir, 2, st + "/embfeed")(
        emb.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 0))
      streaming.TurnStream.dailyTurns(s, st + "/docfeed", st + "/embfeed",
        st + "/mh", st + "/ivf", st + "/pairs", st + "/ckpt",
        dsirStatePath = Some(st + "/dsir"))
      TextAnalysis.dsirWeightsFromState(docs, s, st + "/dsir", "src0")
    }),

    // ---- The MATERIALIZED training shards: the concat-cut fragments
    // assembled into full per-sequence array<bigint> token rows,
    // written range-sharded by seq_idx next to the boundary table and
    // read back — the last mile between the boundary table and "a
    // trainer reads this". The readback's arrays must equal the
    // oracle's own assembly from the shared cut CTEs, token by token.
    // CATALOG projection joins the array to a ','-CSV string — the
    // harness row-sorts result frames and cannot sort raw array
    // columns; the join is injective over array<bigint>, so token-
    // level fidelity is still fully hash-compared ----
    "q183_packed_shards" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val st = Scratch.dir("graft_shards_q183")
      operators.TextPrep.writeTrainingShards(
        TextAnalysis.bpeEncodeIds(docs, merges = 4,
          // train on the full corpus (ids must not shift), assemble only
          // the docs the downstream consumer keeps
          encodeDocs = Some(docs.filter(col("doc_id") < 50))),
        budget = 100, basePath = st)
      operators.TextPrep.readTrainingShards(s, st)
        .select(col("seq_idx"), col("n_tokens"),
          array_join(col("ids"), ",").as("ids_csv"))
    }),

    // ---- SELF-CONTAINED shards: the q183 token rows with each
    // sequence's document spans inline (off/doc_id/len structs in
    // seq_off order) — the attention-mask shape a trainer reads
    // without joining the boundary table. Same harness-comparable
    // projection: ids as CSV, spans as ';'-joined off:doc_id:len
    // triples (injective over both the values and the order) ----
    "q187_shards_spans" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      operators.TextPrep.packShardsWithSpans(
        TextAnalysis.bpeEncodeIds(docs, merges = 4,
          // train on the full corpus (ids must not shift), assemble only
          // the docs the downstream consumer keeps
          encodeDocs = Some(docs.filter(col("doc_id") < 50))),
        budget = 100)
        .select(col("seq_idx"), col("n_tokens"),
          array_join(col("ids"), ",").as("ids_csv"),
          array_join(expr(
            "transform(doc_spans, s -> concat_ws(':', s.off, s.doc_id, s.len))"),
            ";").as("spans_str"))
    }),

    // ---- The DELTA-FED daily turn: q164's scenario with the turn
    // consuming the delta DIRECTLY (as-persisted old rows of
    // changed/removed, current rows of added/changed) instead of
    // diffing two corpus snapshots — the arrival-queue/CDC deployment
    // shape that skips the turn's one O(corpus) term. The healed
    // result must be indistinguishable from the snapshot-fed turn:
    // q151's grow-only oracle verbatim ----
    "q181_daily_delta_turn" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val changedDocs = docs.filter(col("doc_id") % 35 === 7)
      val changedOld = changedDocs.withColumn("text", concat(col("text"), lit(" stale draft")))
      val ghosts = docs.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 1000000)
      val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
        .unionByName(changedOld).unionByName(ghosts)
      val changedVec = emb.filter(
        col("vec_id") >= 16 && col("vec_id") % 9 === 0 && col("vec_id") % 5 =!= 0)
      val changedVecOld = changedVec.withColumn("embedding", reverse(col("embedding")))
      val embGhosts = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 1000000)
      val d1e = emb.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
      val day1Emb = d1e.join(changedVec.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(changedVecOld).unionByName(embGhosts)
      val st = Scratch.dir("graft_daily_q181")
      stagedMh("day1tamp", dir, st + "/mh")(day1Docs)
      stagedIvf("day1emb", dir, st + "/ivf")(day1Emb)
      // the turn sees ONLY the delta
      Pipelines.dailyIncrementalDelta(s,
        changedOld.unionByName(ghosts),
        docs.filter(col("doc_id") % 5 === 0).unionByName(changedDocs),
        changedVecOld.unionByName(embGhosts),
        emb.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 0)
          .unionByName(changedVec),
        st + "/mh", st + "/ivf", healEdits = true)("dedup_pairs")
    }),

    // ---- The DSIR distribution state's streaming ingest front: the
    // sum-shaped tier completes the per-tier stream story (signatures
    // q165, encoded q175). Cell-additive sums are order-independent,
    // so the drained state scores the full corpus exactly like the
    // inline weights — q152's oracle verbatim; replayed micro-batches
    // skip via their deterministic foreachBatch-id stamp ----
    "q178_stream_dsir_ingest" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val bucket = graft.operators.Sampling.hashBucket(col("doc_id").cast("string"))
      val st = Scratch.dir("graft_stream_dsir_q178")
      stagedDsir("b80lt", dir, st + "/dsir")(docs.filter(bucket < 80))
      stagedFeed("docs-b80", dir, 4, st + "/feed")(docs.filter(bucket >= 80))
      streaming.DsirStream.incrementalCounts(s, st + "/feed", "src0",
        st + "/dsir", st + "/ckpt")
      TextAnalysis.dsirWeightsFromState(docs, s, st + "/dsir", "src0")
    }),

    // ---- The IVF tier's streaming ingest front: centroids are the
    // VERSIONED corpus-level artifact (q121's build); assignment rows
    // arrive by stream, each micro-batch assigning against the frozen
    // centroids with the loop's key-filter replay guard. Staging
    // removes the batch's assignment rows from the full build
    // (compactIvfIndex — centroids untouched), so the drained index
    // must answer probes bit-identically to the full build: q121's
    // oracle verbatim ----
    "q179_stream_ivf_ingest" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val bucket = graft.operators.Sampling.hashBucket(col("vec_id").cast("string"))
      val st = Scratch.dir("graft_stream_ivf_q179")
      val batch = emb.filter(bucket >= 80)
      stagedBuild("ivf16-b80compact", dir, st + "/idx") { p =>
        Similarity.buildIvfIndex(emb, nlist = 16, path = p)
        Similarity.compactIvfIndex(s, p, batch.select("vec_id"))
      }
      stagedFeed("emb-b80", dir, 4, st + "/feed")(batch)
      streaming.VectorStream.incrementalIvf(s, st + "/feed", st + "/idx", st + "/ckpt")
      Similarity.cosineTopKIvfIndexed(s, st + "/idx", nQueries = 12, k = 4, nprobe = 3)
    }),

    // ---- The PQ twin: codebooks versioned, codes streamed — the
    // drained index reranks bit-identically to the full build (q132's
    // oracle verbatim) ----
    "q180_stream_pq_ingest" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val bucket = graft.operators.Sampling.hashBucket(col("vec_id").cast("string"))
      val st = Scratch.dir("graft_stream_pq_q180")
      val batch = emb.filter(bucket >= 80)
      stagedBuild("pq8x16-b80compact", dir, st + "/idx") { p =>
        Similarity.buildPqIndex(emb, m = 8, ks = 16, path = p)
        Similarity.compactPqIndex(s, p, batch.select("vec_id"))
      }
      stagedFeed("emb-b80", dir, 4, st + "/feed")(batch)
      streaming.VectorStream.incrementalPq(s, st + "/feed", st + "/idx", st + "/ckpt")
      Similarity.pqTopKIndexed(emb, s, st + "/idx", nQueries = 3, k = 8, rerank = 32)
    }),

    // ---- BUDGET-constrained DSIR selection: the training-mix form —
    // most-target-like docs until the token budget fills (prefix-start
    // rule: kept iff tokens-before < budget, so the boundary doc may
    // overshoot by its own length). Global score-ordered prefix sum
    // by GlobalRank (range partitions + per-partition carries) —
    // q172's operator on the selection axis; no global window ----
    "q176_dsir_token_budget" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.dsirResampleBudget(docs, "src0", tokenBudget = 4000L)
    }),

    // ---- PER-SOURCE budget mixture: tomorrow's training mix as
    // (source -> token budget), each slice filled most-target-like
    // first under the prefix-start rule — q176's GlobalRank with
    // `source` as its group key, the carries stitching sources that
    // span partitions ----
    "q177_dsir_mixture_budget" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.dsirMixtureBudget(docs, "src0",
        Map("src1" -> 600L, "src7" -> 900L, "src19" -> 300L))
    }),

    "q175_stream_encoded_ingest" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val bucket = graft.operators.Sampling.hashBucket(col("doc_id").cast("string"))
      val st = Scratch.dir("graft_stream_encode_q175")
      stagedBuild("bpe4", dir, st + "/bpe")(p =>
        TextAnalysis.persistBpeVocab(docs, merges = 4, p))
      stagedBuild("enc-b80lt", dir, st + "/enc")(p =>
        TextAnalysis.persistEncodedCorpus(docs.filter(bucket < 80), s,
          st + "/bpe", p))
      stagedFeed("docs-b80", dir, 4, st + "/feed")(docs.filter(bucket >= 80))
      streaming.EncodeStream.incrementalEncode(s, st + "/feed",
        vocabPath = st + "/bpe", encPath = st + "/enc", checkpoint = st + "/ckpt")
      operators.TextPrep.packTokenIds(
        TextAnalysis.loadEncodedCorpus(s, st + "/enc")
          .filter(col("doc_id") < 50).drop("fp"),
        size = 40, budget = 100)
    }),
  )

  /** Guaranteed funnel chains appended to the real feed for q144/q145
    * (user ids far outside the fixture range, 2030 dates):
    * 9000001 converts in-order within one session (latency 1200 s);
    * 9000002 has all three steps but out of order (reaches view only);
    * 9000003's purchase lands past the 60-min gap (new session — the
    * view→click prefix converts, the chain does not);
    * 9000004 converts in-order (latency 1800 s).
    */
  /** q59's synthesized EP1 top-tracks payload (events → JSON → parse →
    * SpotifyFlatten.topTracks) — shared by the flatten query and the
    * grouped-by-artist composition (q192).
    */
  // ================================================================
  // Shared day-0 staging (VERDICT r19 items 2/6): the daily-loop tier
  // stages DETERMINISTIC day-0 state — signature tables, IVF/PQ
  // indexes, DSIR distribution state, stream feed files — and up to
  // four catalog entries build byte-identical artifacts (q162/q163/
  // q164/q167/q181 share one tampered-corpus signature build;
  // q151/q184/q188/q189 another; six entries build the same
  // full-corpus IVF index), while Bench samples every entry 2-3 times
  // per sweep. [[Scratch.stageInto]] builds each key once per JVM and
  // deep-FILE-COPIES the tree into every caller's private dir, so
  // turn mutations stay per-query and each entry's semantics (and
  // oracle) are unchanged while the repeated multi-job Spark builds
  // collapse to a millisecond copy. Sound because every build here is
  // deterministic in its inputs (seeded hashes, seeded kmeans) — the
  // DuckDB oracles already hash-match these queries across
  // independent runs, which is the same property. Keys carry the data
  // dir + recipe tag + params: two call sites may share a tag ONLY if
  // their staged inputs are defined identically.
  // ================================================================
  private def stagedMh(tag: String, dir: String, dst: String)(docs: => DataFrame): Unit =
    Scratch.stageInto(s"$dir#mh3x16x4#$tag", dst)(p =>
      Dedup.persistMinhashSignatures(docs, 3, 16, 4, p))
  private def stagedIvf(tag: String, dir: String, dst: String)(emb: => DataFrame): Unit =
    Scratch.stageInto(s"$dir#ivf16#$tag", dst)(p =>
      Similarity.buildIvfIndex(emb, nlist = 16, path = p))
  private def stagedPq(tag: String, dir: String, dst: String)(emb: => DataFrame): Unit =
    Scratch.stageInto(s"$dir#pq8x16#$tag", dst)(p =>
      Similarity.buildPqIndex(emb, m = 8, ks = 16, path = p))
  private def stagedDsir(tag: String, dir: String, dst: String, ngram: Int = 1)(docs: => DataFrame): Unit =
    Scratch.stageInto(s"$dir#dsir64ng$ngram#$tag", dst)(p =>
      TextAnalysis.persistDsirState(docs, "src0", p, ngram = ngram))
  private def stagedFeed(tag: String, dir: String, parts: Int, dst: String)(df: => DataFrame): Unit =
    Scratch.stageInto(s"$dir#feed$parts#$tag", dst)(p =>
      df.repartition(parts).write.mode("overwrite").parquet(p))
  /** Multi-step or bespoke stagings (two-batch DSIR state, build+
    * compact composites, BPE vocab artifacts) — same contract, caller
    * owns the whole recipe under one tag. */
  private def stagedBuild(tag: String, dir: String, dst: String)(build: String => Unit): Unit =
    Scratch.stageInto(s"$dir#$tag", dst)(build)

  private def flattenedTopTracks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = Tables.load(s, dir, "events")
      .filter($"event_id" < 2000)
      .select(to_json(struct(array(struct(
        lpad($"event_id".cast("string"), 6, "0").as("id"),
        when($"event_type" =!= "error", $"event_type").as("name"),
        $"user_id".cast("int").as("popularity"),
        pmod($"event_id" * 7919L, lit(400000L)).as("duration_ms"),
        ($"event_id" % 2 === 0).as("explicit"),
        when($"value".isNotNull,
          concat(lit("https://p/"), lpad($"event_id".cast("string"), 6, "0"))).as("preview_url"),
        struct(concat(lit("https://open/"),
          lpad($"event_id".cast("string"), 6, "0")).as("spotify")).as("external_urls"),
        struct(
          concat(lit("al"), $"user_id").as("id"),
          concat(lit("Album "), $"user_id").as("name"),
          date_format($"ts", "yyyy-MM-dd").as("release_date")).as("album"),
        array(struct(
          concat(lit("ar"), $"user_id").as("id"),
          when($"event_type" =!= "signup", concat(lit("Artist "), $"user_id")).as("name"))).as("artists")
      )).as("tracks"))).as("json"))
    SpotifyFlatten.topTracks(
      SpotifySchemas.parse(raw.as[String], SpotifySchemas.topTracksPayload))
  }

  /** q60's synthesized EP2 recently-played payload (events → JSON →
    * parse) — shared by the ranked flatten (q60) and the
    * grouped-by-artist listening report (q193). Error events carry a
    * NULL track (the reference's malformed-item shape); played_at is
    * present at item level for every row.
    */
  private def parsedRecentlyPlayed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val id6 = lpad($"event_id".cast("string"), 6, "0")
    val raw = Tables.load(s, dir, "events")
      .filter($"event_id" < 1000)
      .select(to_json(struct(array(struct(
        date_format($"ts", "yyyy-MM-dd'T'HH:mm:ss").as("played_at"),
        when($"event_type" =!= "error", struct(
          id6.as("id"),
          when($"event_type" =!= "view", $"event_type").as("name"),
          $"user_id".cast("int").as("popularity"),
          pmod($"event_id" * 7919L, lit(400000L)).as("duration_ms"),
          ($"event_id" % 3 === 0).as("explicit"),
          when($"value".isNotNull, concat(lit("https://p/"), id6)).as("preview_url"),
          struct(concat(lit("https://open/"), id6).as("spotify")).as("external_urls"),
          struct(
            concat(lit("al"), $"user_id").as("id"),
            concat(lit("Album "), $"user_id").as("name"),
            date_format($"ts", "yyyy-MM-dd").as("release_date")).as("album"),
          array(struct(
            concat(lit("ar"), $"user_id").as("id"),
            concat(lit("Artist "), $"user_id").as("name"))).as("artists")
        )).as("track")
      )).as("items"))).as("json"))
    SpotifySchemas.parse(raw.as[String], SpotifySchemas.recentlyPlayedPayload)
  }

  private val funnelSeedRows: Seq[(Long, Long, String, String)] = Seq(
    (9000001L, 9100001L, "view", "2030-01-01 10:00:00"),
    (9000001L, 9100002L, "click", "2030-01-01 10:05:00"),
    (9000001L, 9100003L, "purchase", "2030-01-01 10:20:00"),
    (9000002L, 9100004L, "purchase", "2030-01-01 10:00:00"),
    (9000002L, 9100005L, "click", "2030-01-01 10:05:00"),
    (9000002L, 9100006L, "view", "2030-01-01 10:10:00"),
    (9000003L, 9100007L, "view", "2030-01-01 10:00:00"),
    (9000003L, 9100008L, "click", "2030-01-01 10:30:00"),
    (9000003L, 9100009L, "purchase", "2030-01-01 12:00:00"),
    (9000004L, 9100010L, "view", "2030-01-01 10:00:00"),
    (9000004L, 9100011L, "click", "2030-01-01 10:10:00"),
    (9000004L, 9100012L, "purchase", "2030-01-01 10:30:00"))

  private def seededFunnelFeed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seeds = funnelSeedRows.toDF("user_id", "event_id", "event_type", "ts")
      .withColumn("ts", to_timestamp(col("ts")))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .unionByName(seeds)
  }

  /** The same rows as a DuckDB VALUES list (user_id, event_id,
    * event_type, t) — keeps the q144/q145 oracles in sync with the
    * Spark-side seeds by construction.
    */
  private def funnelSeedValuesSql: String = funnelSeedRows
    .map { case (u, e, t, ts) => s"($u, $e, '$t', TIMESTAMP '$ts')" }
    .mkString(", ")

  /** DuckDB CTEs mirroring Dedup.shingles / the portable hash — kept as
    * helpers so q11/q12 stay in sync. `n`-gram shingles over
    * whitespace-tokenized lowercased text, distinct per doc.
    */
  private def shinglesCte(n: Int): String =
    s"""toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
       |idx AS (SELECT doc_id, w, unnest(range(0, len(w)-${n - 1})) AS i FROM toks WHERE len(w) >= $n),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i+1:i+$n], ' ') AS shingle FROM idx),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** [[shinglesCte]] with the Dedup.jaccardPairsCapped document-
    * frequency cap mirrored: shingles with df > maxDf are dropped
    * before `sh`/`cnt`, exactly as the Spark plan does.
    */
  /** The capped-Jaccard → reachability-CC → keep-best CTE chain over
    * `sh`/`cnt` (from [[cappedShinglesCte]]), ending at
    * `rk(cluster_id, doc_id, n_chars, rn, n_members)` with rn = 1 the
    * representative. ONE definition shared by q74 and q154 so the
    * cap, tie-break, and singleton-COALESCE rules can never drift
    * between the standalone and composed oracles. Requires
    * WITH RECURSIVE in the enclosing query (the `reach` CTE).
    */
  private val keepBestCtes: String =
    """inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM inter
      |  JOIN cnt ca ON doc_a = ca.doc_id
      |  JOIN cnt cb ON doc_b = cb.doc_id
      |  WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs),
      |reach(src, node) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a),
      |comp AS (SELECT src AS doc_id, min(node) AS cluster_id
      |         FROM reach GROUP BY src),
      |lab AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
      |               d.n_chars
      |        FROM documents d LEFT JOIN comp c USING (doc_id)),
      |rk AS (SELECT cluster_id, doc_id, n_chars,
      |         row_number() OVER (PARTITION BY cluster_id
      |                            ORDER BY n_chars DESC, doc_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      |       FROM lab)""".stripMargin

  private def cappedShinglesCte(n: Int, maxDf: Int): String =
    s"""toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
       |idx AS (SELECT doc_id, w, unnest(range(0, len(w)-${n - 1})) AS i FROM toks WHERE len(w) >= $n),
       |sh0 AS (SELECT DISTINCT doc_id, array_to_string(w[i+1:i+$n], ' ') AS shingle FROM idx),
       |rare AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= $maxDf),
       |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** The EP6 curation chain up to `kept` (the deduped, quality-kept
    * corpus): capped shingles (n=3, df<=20) → keep-best reps → the
    * q102 integer logit gate. ONE definition shared by q154's
    * resample tail and q174's tokenize+pack tail. Requires
    * WITH RECURSIVE in the enclosing query (keepBestCtes' `reach`).
    */
  private lazy val curationKeptCtes: String =
    s"""${cappedShinglesCte(3, 20)},
       |$keepBestCtes,
       |reps AS (SELECT doc_id FROM rk WHERE rn = 1),
       |lt AS (SELECT d.doc_id, string_split_regex(lower(trim(d.text)), '\\s+') AS w,
       |              CAST(length(d.text) AS BIGINT) AS nc
       |       FROM documents d JOIN reps USING (doc_id)),
       |lf AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
       |              CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq, nc
       |       FROM lt WHERE len(w) >= 1),
       |lg AS (SELECT doc_id, n_uniq * 1000000 // n_tok AS ttr_fp,
       |              nc * 1000000 // n_tok AS len_fp, n_tok FROM lf),
       |keptids AS (SELECT doc_id FROM lg
       |            WHERE (2 * ttr_fp) // 1000 + (1 * len_fp) // 1000
       |                    + 10 * n_tok - 7000 >= 0),
       |kept AS (SELECT d.* FROM documents d JOIN keptids USING (doc_id))""".stripMargin

  private def hash32Sql(x: String): String =
    s"CAST('0x' || substr(md5($x),1,8) AS BIGINT)"

  /** Oracle for q128 AND its streaming twin q147: the CMS cell table
    * is a pure sum per (row-hash, bucket) — order-independent, so
    * DuckDB rebuilds the identical sketch whichever side (one-shot
    * batch or drained transformWithState state) accumulated it, and
    * the min-over-rows estimate matches to the bit.
    */
  private def cmsHeavyHittersSql(depth: Int, width: Int, topN: Int): String = {
    val params = graft.functions.PortableHash.minhashParams(depth)
      .map { case (j, a, b) => s"($j, $a, $b)" }.mkString(", ")
    s"""WITH params(j, a, b) AS (VALUES $params),
       |eh AS (SELECT h FROM (
       |    SELECT ${hash32Sql("CAST(user_id AS VARCHAR)")} AS h FROM events)
       |  WHERE h IS NOT NULL),
       |cells AS (SELECT p.j, ((p.a * eh.h + p.b) % 2147483647) % $width AS bucket,
       |            count(*) AS c
       |          FROM eh CROSS JOIN params p GROUP BY 1, 2),
       |exact AS (SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS exact_cnt
       |          FROM events WHERE user_id IS NOT NULL
       |          GROUP BY 1 ORDER BY exact_cnt DESC, key LIMIT $topN),
       |probes AS (SELECT x.key, x.exact_cnt, p.j,
       |             ((p.a * ${hash32Sql("x.key")} + p.b) % 2147483647) % $width AS bucket
       |           FROM exact x CROSS JOIN params p),
       |est AS (SELECT pr.key, pr.exact_cnt, min(c.c) AS cms_est
       |        FROM probes pr JOIN cells c ON c.j = pr.j AND c.bucket = pr.bucket
       |        GROUP BY 1, 2)
       |SELECT key, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
       |FROM est ORDER BY exact_cnt DESC, key""".stripMargin
  }

  /** Oracle for q112: replays TextAnalysis.fitQualityLogitGd's integer
    * GD step by step — one gradient-aggregate CTE + one weight-update
    * CTE per iteration, weights carried as a 1-row frame. All i64
    * arithmetic with the same sign-tricked truncating division the
    * Spark side uses (DuckDB `//` floors, Spark `div` truncates; they
    * agree only on non-negative operands).
    */
  private def logitGdOracleSql(iters: Int, lrNum: Long, lrDen: Long): String = {
    val feats = Seq("bias", "ttr", "len", "tok")
    val z = feats.map(f => s"w_$f * x_$f").mkString(" + ")
    val sig = s"""greatest(CAST(0 AS BIGINT), least(CAST(1000000 AS BIGINT),
                 |    500000 + (CASE WHEN ($z) >= 0 THEN ($z) // 4000000
                 |                   ELSE -((-($z)) // 4000000) END)))""".stripMargin
    val steps = (1 to iters).map { i =>
      val gAggs = feats.map(f =>
        s"CAST(SUM((y * 1000000 - $sig) * x_$f) AS BIGINT) AS g_$f").mkString(",\n    ")
      val wUpds = feats.map(f =>
        s"""w_$f + (CASE WHEN g_$f >= 0 THEN (g_$f * $lrNum) // (n * $lrDen * 1000000)
           |         ELSE -(((-g_$f) * $lrNum) // (n * $lrDen * 1000000)) END) AS w_$f""".stripMargin)
        .mkString(",\n    ")
      s"""grad$i AS (
         |  SELECT count(*) AS n,
         |    $gAggs
         |  FROM feat CROSS JOIN w${i - 1}),
         |w$i AS (
         |  SELECT
         |    $wUpds
         |  FROM w${i - 1} CROSS JOIN grad$i)""".stripMargin
    }.mkString(",\n")
    val out = feats.map(f =>
      s"SELECT '$f' AS feature, w_$f AS weight_fp FROM w$iters").mkString("\nUNION ALL ")
    s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w,
       |             CAST(length(text) AS BIGINT) AS nc FROM documents),
       |f AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
       |             CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq, nc
       |      FROM t WHERE len(w) >= 1),
       |g AS (SELECT doc_id, n_uniq * 1000000 // n_tok AS ttr_fp,
       |             nc * 1000000 // n_tok AS len_fp, n_tok FROM f),
       |feat AS (SELECT doc_id,
       |        CAST(1000000 AS BIGINT) AS x_bias,
       |        ttr_fp AS x_ttr,
       |        least(len_fp, 10000000) // 10 AS x_len,
       |        least(n_tok, 1000) * 1000 AS x_tok,
       |        CAST(CASE WHEN (2 * ttr_fp) // 1000 + (1 * len_fp) // 1000 + 10 * n_tok - 7000 >= 0
       |             THEN 1 ELSE 0 END AS BIGINT) AS y
       |      FROM g),
       |w0 AS (SELECT CAST(0 AS BIGINT) AS w_bias, CAST(0 AS BIGINT) AS w_ttr,
       |              CAST(0 AS BIGINT) AS w_len, CAST(0 AS BIGINT) AS w_tok),
       |$steps
       |$out
       |ORDER BY feature""".stripMargin
  }

  /** DuckDB mirror of Similarity's normalize-once kernel.
    * `list_dot_product` folds sequentially, bit-matching Spark's
    * `aggregate(zip_with(a, b, (p,q) -> p*q), 0D, (acc,z) -> acc+z)`
    * (verified empirically on the testdata vectors); cosine is then a
    * single dot of the two unit vectors.
    */
  /** DuckDB mirror of Similarity's zero-norm guard contract: an
    * all-zero vector normalizes to itself, never to `0/0 = NaN`.
    */
  private def unitSql(v: String): String =
    s"CASE WHEN list_dot_product($v, $v) = 0 THEN $v " +
      s"ELSE list_transform($v, x -> x / sqrt(list_dot_product($v, $v))) END"

  private val normalizedCte: String =
    s"""e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |e AS (SELECT vec_id, ${unitSql("v")} AS u FROM e0)""".stripMargin

  /** DuckDB mirror of Similarity.signLshBuckets' deterministic
    * hyperplane bucket id over double-list expression `v`.
    */
  private def lshBucketSql(v: String, planes: Int): String = {
    def coef(p: Int) =
      s"(CAST('0x' || substr(md5('$p' || '_' || CAST(d AS VARCHAR)),1,8) AS BIGINT) % 1000) / 1000.0 - 0.5"
    (0 until planes).map { p =>
      s"CASE WHEN list_dot_product($v, list_transform(range(0, len($v)), d -> ${coef(p)})) > 0 " +
        s"THEN (CAST(1 AS BIGINT) << $p) ELSE CAST(0 AS BIGINT) END"
    }.mkString("(", " + ", ")")
  }

  /** DuckDB mirror of Similarity.derivePlanes / deriveK: the same
    * integer scan (`min p >= 2 with 2^p * 125 >= n`) and ceil-division
    * (`max(8, ceil(n/64))`) over the live corpus count — so the oracle
    * lands on the identical operating point at EVERY scale factor, not
    * just the one the driver checks.
    */
  private val derivedParCte: String =
    """nn AS (SELECT count(*) AS n FROM embeddings),
      |par AS (SELECT min(p.range) AS planes FROM range(2, 40) p, nn
      |        WHERE (CAST(1 AS BIGINT) << CAST(p.range AS INT)) * 125 >= nn.n),
      |kk AS (SELECT greatest(8, CAST((n + 63) // 64 AS BIGINT)) AS k FROM nn)""".stripMargin

  /** Dynamic-plane-count twin of [[lshBucketSql]]: the per-plane CASE
    * terms fold inside a `list_transform(range(0, par.planes), p -> …)`
    * (requires `CROSS JOIN par` in the enclosing FROM), bit-identical
    * to the unrolled form for the same plane count.
    */
  private def lshBucketDynSql(v: String): String =
    s"""CAST(list_sum(list_transform(range(0, CAST(par.planes AS INT)), p ->
       |  CASE WHEN list_dot_product($v, list_transform(range(0, len($v)),
       |    d -> (CAST('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)),1,8) AS BIGINT) % 1000) / 1000.0 - 0.5)) > 0
       |  THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin

  def oracleSql: Map[String, String] = {
    val base = baseOracleSql
    // persisted build+read forms share their standalone twin's oracle
    // VERBATIM: the lake round-trip must be hash-invisible
    base + ("q150_neardup_family_persisted" -> base("q74_dedup_keep_best")) +
      ("q155_dsir_persisted" -> base("q152_dsir_weights")) +
      // retraction must cancel exactly: post-cycle state scores the
      // current corpus identically to the inline form
      ("q160_dsir_retracted" -> base("q152_dsir_weights")) +
      // healed edit loop is indistinguishable from the grow-only loop
      ("q162_daily_edit_loop" -> base("q151_daily_incremental")) +
      // the DSIR tier healed in-loop scores like the inline weights
      ("q163_daily_dsir_loop" -> base("q152_dsir_weights")) +
      // tombstone healing is as invisible as the rewrite was
      ("q164_daily_tombstone_loop" -> base("q151_daily_incremental")) +
      // the streamed ingest is invariant to micro-batch partitioning
      ("q165_stream_incremental_dedup" -> base("q126_incremental_minhash")) +
      // state-only re-centering answers like a fresh inline build
      ("q166_recenter_ivf" -> base("q157_compact_ivf")) +
      // the retried turn changes nothing: scores still match inline
      ("q167_daily_retry_idempotent" -> base("q152_dsir_weights")) +
      // streamed cell-additive ingest scores like the inline weights
      ("q178_stream_dsir_ingest" -> base("q152_dsir_weights")) +
      // stream-fed assignments against the versioned centroids answer
      // like the full build that trained them
      ("q179_stream_ivf_ingest" -> base("q121_ivf_persisted")) +
      ("q180_stream_pq_ingest" -> base("q132_pq_persisted")) +
      // the delta-fed turn is indistinguishable from the snapshot turn
      ("q181_daily_delta_turn" -> base("q151_daily_incremental")) +
      // and so is the stream of micro-batch delta turns: N turns over
      // the arrival queue emit exactly the one batch turn's pairs
      ("q184_stream_daily_turn" -> base("q151_daily_incremental")) +
      // folding the per-batch pair directories into the compacted base
      // must not change a single emitted pair
      ("q189_compact_pairs" -> base("q151_daily_incremental")) +
      // the DSIR tier riding the stream-fed turn still scores like the
      // inline weights (content-digest runIds make replays skip)
      ("q188_stream_daily_dsir" -> base("q152_dsir_weights"))
  }

  /** Oracle for q156: the compacted signature state must equal a
    * fresh full build over the CURRENT corpus — so the oracle is the
    * q12/q126 MinHash kernel over `documents`, pivoted to the
    * persisted (doc_id, sig_0..sig_15) layout; the tampered day-0
    * corpus never appears in it at all.
    */
  private def compactedSigsOracleSql: String =
    s"""WITH ${shinglesCte(3)},
       |hashed AS (SELECT doc_id, ${hash32Sql("shingle")} AS h FROM sh),
       |params AS (SELECT i, CAST(2*i+3 AS BIGINT) AS a, CAST(104729*(i+1) AS BIGINT) AS b
       |           FROM (SELECT unnest(range(0, 16)) AS i)),
       |sigs AS (SELECT doc_id, i, min((a*h+b) % 2147483647) AS sig
       |         FROM hashed CROSS JOIN params GROUP BY doc_id, i)
       |SELECT doc_id,
       |${(0 until 16).map(i => s"  min(CASE WHEN i = $i THEN sig END) AS sig_$i").mkString(",\n")}
       |FROM sigs GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def baseOracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_events_summary" ->
      """SELECT COUNT(*) AS total_events,
        | COUNT(DISTINCT user_id) AS unique_users,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(value) AS avg_value,
        | COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error_events,
        | strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d') || ' to ' || strftime(MAX(CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS date_range
        |FROM events""".stripMargin,

    "q3_recent_events" ->
      """SELECT event_id, user_id, event_type,
        | strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date,
        | COALESCE(value, 0.0) AS value
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
        |ORDER BY event_id""".stripMargin,

    "q4_rank_events" ->
      """SELECT user_id, rnk, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rnk
        |  FROM events) t
        |WHERE rnk <= 3 ORDER BY user_id, rnk""".stripMargin,

    "q5_top_parts" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey LIMIT 10""".stripMargin,

    "q6_region_customers" ->
      """SELECT r_name, COUNT(*) AS n_customers,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q7_order_revenue" ->
      """SELECT o_orderpriority,
        | COUNT(DISTINCT o_orderkey) AS n_orders,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q8_customers_without_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q9_big_spender_customers" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q10_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "q11_dedup_jaccard" ->
      s"""WITH ${cappedShinglesCte(3, 20)},
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard
         |FROM inter
         |JOIN cnt ca ON doc_a = ca.doc_id
         |JOIN cnt cb ON doc_b = cb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q12_dedup_minhash" ->
      s"""WITH ${shinglesCte(3)},
         |hashed AS (SELECT doc_id, ${hash32Sql("shingle")} AS h FROM sh),
         |params AS (SELECT i, CAST(2*i+3 AS BIGINT) AS a, CAST(104729*(i+1) AS BIGINT) AS b
         |           FROM (SELECT unnest(range(0, 16)) AS i)),
         |sigs AS (SELECT doc_id, i, min((a*h+b) % 2147483647) AS sig
         |         FROM hashed CROSS JOIN params GROUP BY doc_id, i),
         |buckets AS (SELECT doc_id, i // 4 AS band,
         |                   string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i) AS bucket
         |            FROM sigs GROUP BY doc_id, i // 4),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM buckets x JOIN buckets y
         |           ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |inter AS (
         |  SELECT doc_a, doc_b, count(*) AS inter
         |  FROM cand
         |  JOIN sh sa ON doc_a = sa.doc_id
         |  JOIN sh sb ON doc_b = sb.doc_id AND sa.shingle = sb.shingle
         |  GROUP BY doc_a, doc_b)
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard
         |FROM inter
         |JOIN cnt ca ON doc_a = ca.doc_id
         |JOIN cnt cb ON doc_b = cb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q13_dedup_simhash" ->
      s"""WITH terms AS (
         |  SELECT doc_id, word, count(*) AS cnt
         |  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
         |        FROM documents)
         |  GROUP BY doc_id, word),
         |th AS (SELECT doc_id, ${hash32Sql("word")} AS h, cnt FROM terms),
         |bits AS (SELECT unnest(range(0, 32)) AS j),
         |s AS (SELECT doc_id, j,
         |             sum(CASE WHEN (h >> j) % 2 = 1 THEN cnt ELSE -cnt END) AS s
         |      FROM th CROSS JOIN bits GROUP BY doc_id, j),
         |sig AS (SELECT doc_id,
         |               CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |        FROM s GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       a.simhash AS sim_a, b.simhash AS sim_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q14_lang_id" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(w, x -> x IN ('the','a','and','of','is'))) AS BIGINT) AS en_hits,
        |  CAST(len(list_filter(w, x -> x IN ('el','la','de','que','y'))) AS BIGINT) AS es_hits,
        |  CAST(len(list_filter(w, x -> x IN ('der','die','und','das','ist'))) AS BIGINT) AS de_hits,
        |  CAST(len(list_filter(w, x -> x IN ('le','la','de','et','les'))) AS BIGINT) AS fr_hits,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CASE
        |    WHEN len(list_filter(w, x -> x IN ('the','a','and','of','is'))) >= len(list_filter(w, x -> x IN ('el','la','de','que','y')))
        |     AND len(list_filter(w, x -> x IN ('the','a','and','of','is'))) >= len(list_filter(w, x -> x IN ('der','die','und','das','ist')))
        |     AND len(list_filter(w, x -> x IN ('the','a','and','of','is'))) >= len(list_filter(w, x -> x IN ('le','la','de','et','les')))
        |    THEN 'en'
        |    WHEN len(list_filter(w, x -> x IN ('el','la','de','que','y'))) >= len(list_filter(w, x -> x IN ('the','a','and','of','is')))
        |     AND len(list_filter(w, x -> x IN ('el','la','de','que','y'))) >= len(list_filter(w, x -> x IN ('der','die','und','das','ist')))
        |     AND len(list_filter(w, x -> x IN ('el','la','de','que','y'))) >= len(list_filter(w, x -> x IN ('le','la','de','et','les')))
        |    THEN 'es'
        |    WHEN len(list_filter(w, x -> x IN ('der','die','und','das','ist'))) >= len(list_filter(w, x -> x IN ('the','a','and','of','is')))
        |     AND len(list_filter(w, x -> x IN ('der','die','und','das','ist'))) >= len(list_filter(w, x -> x IN ('el','la','de','que','y')))
        |     AND len(list_filter(w, x -> x IN ('der','die','und','das','ist'))) >= len(list_filter(w, x -> x IN ('le','la','de','et','les')))
        |    THEN 'de'
        |    ELSE 'fr'
        |  END AS detected_lang
        |FROM toks ORDER BY doc_id""".stripMargin,

    "q15_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |      / len(string_split_regex(lower(trim(text)), '\s+')) AS avg_token_len,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x IN ('the','a','and','of','is','el','la','de','que','y','der','die','und','das','ist','le','et','les'))) AS DOUBLE)
        |      / len(string_split_regex(lower(trim(text)), '\s+')) AS stopword_ratio
        |  FROM documents)
        |SELECT doc_id, n_chars, n_tokens, avg_token_len, stopword_ratio,
        |  least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) * 0.4
        |    + (CASE WHEN avg_token_len BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
        |    + least(stopword_ratio * 3.0, 1.0) * 0.3 AS quality
        |FROM t ORDER BY doc_id""".stripMargin,

    "q16_top_tokens" ->
      """SELECT token, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
        |FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 50""".stripMargin,

    "q17_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         |  ${hash32Sql("regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')")} AS fp32,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ''),
         |                     c -> CAST(ascii(c) AS BIGINT))),
         |    (a, b) -> (a*31+b) % 2147483647) AS fp_roll
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q18_cosine_topk" ->
      s"""WITH $normalizedCte,
         |scored AS (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid, list_dot_product(q.u, e.u) AS cosine
         |  FROM e JOIN e q ON q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |ranked AS (SELECT qid, nid, cosine,
         |                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
         |           FROM scored)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, cosine FROM ranked
         |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "q19_top_pairs" ->
      s"""WITH $normalizedCte,
         |$derivedParCte,
         |b AS (SELECT e0.vec_id, e.u, ${lshBucketDynSql("e0.v")} AS bucket
         |      FROM e0 JOIN e ON e0.vec_id = e.vec_id CROSS JOIN par),
         |pairs AS (
         |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, list_dot_product(x.u, y.u) AS cosine
         |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
         |ranked AS (SELECT vec_a, vec_b, cosine,
         |                  ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_a, vec_b) AS rnk
         |           FROM pairs)
         |SELECT CAST(rnk AS BIGINT) AS rnk, vec_a, vec_b, cosine FROM ranked
         |WHERE rnk <= 20 ORDER BY rnk""".stripMargin,

    "q20_cosine_topk_lsh" ->
      s"""WITH $normalizedCte,
         |b AS (SELECT e0.vec_id, e.u, ${lshBucketSql("e0.v", 4)} AS bucket
         |      FROM e0 JOIN e ON e0.vec_id = e.vec_id),
         |scored AS (
         |  SELECT q.vec_id AS qid, b.vec_id AS nid, list_dot_product(q.u, b.u) AS cosine
         |  FROM b JOIN b q ON q.vec_id < 10 AND b.bucket = q.bucket AND b.vec_id <> q.vec_id),
         |ranked AS (SELECT qid, nid, cosine,
         |                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
         |           FROM scored)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, cosine FROM ranked
         |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "q21_user_cohorts" ->
      """WITH first AS (SELECT DISTINCT user_id FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08 00:00:00'),
        |second AS (SELECT DISTINCT user_id FROM events WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00')
        |SELECT 'retained' AS cohort, user_id FROM (SELECT user_id FROM first INTERSECT SELECT user_id FROM second)
        |UNION ALL
        |SELECT 'churned' AS cohort, user_id FROM (SELECT user_id FROM first EXCEPT SELECT user_id FROM second)
        |ORDER BY cohort, user_id""".stripMargin,

    "q22_scalar_funcs" ->
      """SELECT event_id,
        |  to_base64(encode(CAST(user_id AS VARCHAR) || ':' || event_type)) AS auth_token,
        |  'users' || '/' || CAST(user_id AS VARCHAR) || '/' || event_type AS resource_path,
        |  printf('%d:%02d', (event_id * 7919) % 600000 // 60000,
        |                    ((event_id * 7919) % 600000 % 60000) // 1000) AS duration,
        |  lower(event_type) AS event_type_lc,
        |  regexp_replace(event_type, 'i', '1', 'g') AS leeted
        |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin,

    "q23_json_props" ->
      """SELECT event_id,
        |  COALESCE(CAST(json_extract_string(props, '$.k') AS INTEGER), -1) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "q24_pk_check" ->
      """SELECT count(event_id) AS n_rows,
        |  count(DISTINCT event_id) AS n_keys,
        |  CASE WHEN count(event_id) = count(DISTINCT event_id) THEN 'unique' ELSE 'violated' END AS pk_status
        |FROM events""".stripMargin,

    "q25_type_stats" ->
      """SELECT event_type, count(*) AS n,
        |  round_even(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(value), 2) AS avg_value_2dp
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q26_cursor_window" ->
      """WITH c AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 DAY AS cursor FROM events)
        |SELECT count(*) AS recent_events,
        |  min(epoch_ms(CAST(ts AS TIMESTAMP))) AS min_epoch_ms,
        |  max(epoch_ms(CAST(ts AS TIMESTAMP))) AS max_epoch_ms
        |FROM events, c WHERE CAST(ts AS TIMESTAMP) > cursor""".stripMargin,

    "q27_stream_daily_counts" ->
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, event_type,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    "q28_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  substr(hex(encode(text)), 1, 8) AS head_hex,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q29_supplier_nation_shj" ->
      """SELECT n_name, count(*) AS n_suppliers,
        | CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // salted two-stage agg must equal the direct grouped aggregate
    "q30_salted_type_stats" ->
      """SELECT event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q31_user_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
        |         WHEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
        |              > 3600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |sessions AS (
        |  SELECT user_id,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked),
        |per_session AS (
        |  SELECT user_id, session_id, count(*) AS n_events
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT user_id, count(*) AS n_sessions,
        |  max(n_events) AS longest_session_events
        |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q32_embedding_neardups" ->
      s"""WITH $normalizedCte,
         |$derivedParCte,
         |b AS (SELECT e0.vec_id, e.u, ${lshBucketDynSql("e0.v")} AS bucket
         |      FROM e0 JOIN e ON e0.vec_id = e.vec_id CROSS JOIN par)
         |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, list_dot_product(x.u, y.u) AS cosine
         |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE list_dot_product(x.u, y.u) >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin,

    "q47_cosine_topk_ivf" ->
      s"""WITH $normalizedCte,
         |cents AS (SELECT vec_id AS cid, u AS cu FROM e WHERE vec_id < 16),
         |ranked AS (
         |  SELECT e.vec_id, e.u, c.cid,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                            ORDER BY list_dot_product(e.u, c.cu) DESC, c.cid) AS crn
         |  FROM e CROSS JOIN cents c),
         |assign AS (SELECT vec_id, u, cid AS cell FROM ranked WHERE crn = 1),
         |qprobe AS (SELECT vec_id AS qid, u AS qu, cid AS cell FROM ranked
         |           WHERE vec_id < 10 AND crn <= 4),
         |scored AS (
         |  SELECT q.qid, a.vec_id AS nid, list_dot_product(q.qu, a.u) AS cosine
         |  FROM assign a JOIN qprobe q ON a.cell = q.cell AND a.vec_id <> q.qid),
         |topk AS (SELECT qid, nid, cosine,
         |                ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
         |         FROM scored)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, cosine FROM topk
         |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "q121_ivf_persisted" ->
      s"""WITH $normalizedCte,
         |cents AS (SELECT vec_id AS cid, u AS cu FROM e WHERE vec_id < 16),
         |ranked AS (
         |  SELECT e.vec_id, e.u, c.cid,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                            ORDER BY list_dot_product(e.u, c.cu) DESC, c.cid) AS crn
         |  FROM e CROSS JOIN cents c),
         |assign AS (SELECT vec_id, u, cid AS cell FROM ranked WHERE crn = 1),
         |qprobe AS (SELECT vec_id AS qid, u AS qu, cid AS cell FROM ranked
         |           WHERE vec_id < 12 AND crn <= 3),
         |scored AS (
         |  SELECT q.qid, a.vec_id AS nid, list_dot_product(q.qu, a.u) AS cosine
         |  FROM assign a JOIN qprobe q ON a.cell = q.cell AND a.vec_id <> q.qid),
         |topk AS (SELECT qid, nid, cosine,
         |                ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
         |         FROM scored)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, cosine FROM topk
         |WHERE rnk <= 4 ORDER BY qid, rnk""".stripMargin,

    "q57_top_pairs_lsh" ->
      s"""WITH $normalizedCte,
         |b AS (SELECT e0.vec_id, e.u, ${lshBucketSql("e0.v", 4)} AS bucket
         |      FROM e0 JOIN e ON e0.vec_id = e.vec_id),
         |pairs AS (
         |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, list_dot_product(x.u, y.u) AS cosine
         |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
         |ranked AS (SELECT vec_a, vec_b, cosine,
         |                  ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_a, vec_b) AS rnk
         |           FROM pairs)
         |SELECT CAST(rnk AS BIGINT) AS rnk, vec_a, vec_b, cosine FROM ranked
         |WHERE rnk <= 20 ORDER BY rnk""".stripMargin,

    "q58_embedding_neardups_lsh" ->
      s"""WITH $normalizedCte,
         |b AS (SELECT e0.vec_id, e.u, ${lshBucketSql("e0.v", 4)} AS bucket
         |      FROM e0 JOIN e ON e0.vec_id = e.vec_id)
         |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, list_dot_product(x.u, y.u) AS cosine
         |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE list_dot_product(x.u, y.u) >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin,

    "q61_incremental_dedup" ->
      s"""SELECT b.doc_id, md5(b.text) AS fp
         |FROM documents b
         |WHERE ${hash32Sql("CAST(b.doc_id AS VARCHAR)")} % 100 >= 80
         |  AND NOT EXISTS (
         |    SELECT 1 FROM documents c
         |    WHERE ${hash32Sql("CAST(c.doc_id AS VARCHAR)")} % 100 < 80
         |      AND md5(c.text) = md5(b.text))
         |ORDER BY b.doc_id""".stripMargin,

    "q62_repetition_stats" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |wc AS (SELECT doc_id, w, count(*) AS cnt FROM words GROUP BY doc_id, w),
        |wstats AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |                  count(*) AS n_distinct, max(cnt) AS top_cnt
        |           FROM wc GROUP BY doc_id),
        |toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |         FROM documents),
        |bgrows AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(w)-1),
        |                          i -> w[i] || ' ' || w[i+1])) AS bg
        |  FROM toks WHERE len(w) >= 2),
        |bc AS (SELECT doc_id, bg, count(*) AS cnt FROM bgrows GROUP BY doc_id, bg),
        |bstats AS (SELECT doc_id, sum(cnt) AS n_bigrams, max(cnt) AS top_bg_cnt
        |           FROM bc GROUP BY doc_id),
        |j AS (
        |  SELECT w.doc_id, w.n_tokens, w.n_distinct,
        |    CAST(w.top_cnt AS DOUBLE) / w.n_tokens AS top_token_frac,
        |    CAST(w.n_tokens - w.n_distinct AS DOUBLE) / w.n_tokens AS dup_token_frac,
        |    COALESCE(CAST(b.top_bg_cnt AS DOUBLE) / b.n_bigrams, 0.0) AS top_bigram_frac
        |  FROM wstats w LEFT JOIN bstats b ON w.doc_id = b.doc_id)
        |SELECT doc_id, n_tokens, n_distinct, top_token_frac, dup_token_frac,
        |  top_bigram_frac,
        |  (n_tokens >= 10 AND top_token_frac <= 0.20 AND dup_token_frac <= 0.90
        |   AND top_bigram_frac <= 0.18) AS keep
        |FROM j ORDER BY doc_id""".stripMargin,

    "q63_asof_join" ->
      """SELECT l.user_id, CAST(l.ts AS TIMESTAMP) AS ts, l.event_id, l.value,
        |  (SELECT max(CAST(r.ts AS TIMESTAMP)) FROM events r
        |   WHERE r.event_type = 'purchase' AND r.user_id = l.user_id
        |     AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP)) AS asof_ts,
        |  (SELECT r.value FROM events r
        |   WHERE r.event_type = 'purchase' AND r.user_id = l.user_id
        |     AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP)
        |   ORDER BY CAST(r.ts AS TIMESTAMP) DESC, r.event_id DESC LIMIT 1) AS asof_value
        |FROM events l WHERE l.event_type = 'click'
        |ORDER BY l.event_id""".stripMargin,

    "q64_dup_clusters" ->
      s"""WITH RECURSIVE ${cappedShinglesCte(3, 20)},
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN cnt ca ON doc_a = ca.doc_id
         |  JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(src, node) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a)
         |SELECT src AS doc_id, min(node) AS cluster_id
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    "q124_dup_clusters_star" ->
      s"""WITH RECURSIVE ${cappedShinglesCte(3, 20)},
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN cnt ca ON doc_a = ca.doc_id
         |  JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(src, node) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a)
         |SELECT src AS doc_id, min(node) AS cluster_id
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    "q127_leakfree_split" ->
      s"""WITH RECURSIVE ${cappedShinglesCte(3, 20)},
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN cnt ca ON doc_a = ca.doc_id
         |  JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(src, node) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a),
         |labels AS (SELECT src AS doc_id, min(node) AS cluster_id
         |           FROM reach GROUP BY src)
         |SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
         |  CASE WHEN ${hash32Sql("CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)")} % 100 < 80
         |       THEN 'train' ELSE 'test' END AS split
         |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q65_contamination" ->
      s"""WITH corp AS (SELECT doc_id, text FROM documents
         |              WHERE ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 100 < 80),
         |bench AS (SELECT doc_id, text FROM documents
         |          WHERE ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 100 >= 80),
         |ctoks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM corp),
         |cidx AS (SELECT doc_id, w, unnest(range(0, len(w)-4)) AS i FROM ctoks WHERE len(w) >= 5),
         |csh AS (SELECT DISTINCT doc_id, array_to_string(w[i+1:i+5], ' ') AS shingle FROM cidx),
         |btoks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM bench),
         |bidx AS (SELECT doc_id, w, unnest(range(0, len(w)-4)) AS i FROM btoks WHERE len(w) >= 5),
         |bsh AS (SELECT DISTINCT array_to_string(w[i+1:i+5], ' ') AS shingle FROM bidx),
         |hits AS (SELECT doc_id, count(*) AS n_shared
         |         FROM csh JOIN bsh USING (shingle) GROUP BY doc_id)
         |SELECT c.doc_id, COALESCE(h.n_shared, 0) AS n_shared,
         |       COALESCE(h.n_shared, 0) >= 1 AS contaminated
         |FROM corp c LEFT JOIN hits h USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q66_band_join" ->
      """SELECT l.event_id AS l_id, count(r.event_id) AS n
        |FROM events l LEFT JOIN events r
        |  ON r.event_type = 'error'
        | AND abs(epoch_us(CAST(r.ts AS TIMESTAMP)) - epoch_us(CAST(l.ts AS TIMESTAMP))) <= 300000000
        |WHERE l.event_type = 'click'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q67_bm25" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
        |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM toks),
        |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
        |tf AS (SELECT doc_id, dl, t, count(*) AS tf
        |       FROM (SELECT doc_id, dl, unnest(w) AS t FROM d)
        |       WHERE t IN ('merge', 'window', 'scan') GROUP BY doc_id, dl, t),
        |df AS (SELECT t, count(DISTINCT doc_id) AS df FROM tf GROUP BY t),
        |parts AS (
        |  -- all literals cast to DOUBLE: DuckDB's bare decimals are
        |  -- DECIMAL-typed and would round differently from Spark's
        |  -- IEEE double arithmetic
        |  SELECT doc_id, tf.t AS t,
        |    ln(CAST(1.0 AS DOUBLE) + ((n_docs - df) + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
        |      * tf * CAST(2.2 AS DOUBLE)
        |      / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |           + CAST(0.75 AS DOUBLE) * dl / (CAST(sum_dl AS DOUBLE) / n_docs))) AS part
        |  FROM tf JOIN df ON tf.t = df.t CROSS JOIN stats),
        |agg AS (SELECT doc_id,
        |    COALESCE(sum(CASE WHEN t = 'merge' THEN part END), 0.0) AS s0,
        |    COALESCE(sum(CASE WHEN t = 'window' THEN part END), 0.0) AS s1,
        |    COALESCE(sum(CASE WHEN t = 'scan' THEN part END), 0.0) AS s2
        |  FROM parts GROUP BY doc_id)
        |SELECT doc_id, s0 + s1 + s2 AS score FROM agg
        |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin,

    "q68_stream_interval_join" ->
      """SELECT c.user_id, c.event_id AS c_id, p.event_id AS p_id,
        |  (epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(p.ts AS TIMESTAMP))) // 1000000 AS gap_sec
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        | AND c.user_id = p.user_id
        | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP) - INTERVAL 60 MINUTE
        | AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
        |ORDER BY c_id, p_id""".stripMargin,

    "q69_unigram_logprob" ->
      """WITH words AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        |               FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM words GROUP BY doc_id, t),
        |corpus AS (SELECT t, CAST(sum(tf) AS BIGINT) AS ctf FROM tf GROUP BY t),
        |tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS total FROM corpus),
        |perterm AS (
        |  SELECT doc_id, tf,
        |    CAST(-ln(CAST(ctf AS DOUBLE) / total) * tf AS DECIMAL(28,9)) AS nlp
        |  FROM tf JOIN corpus USING (t) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(nlp) AS DOUBLE) / CAST(sum(tf) AS BIGINT) AS avg_neg_logprob
        |FROM perterm GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q70_cosine_topk_int8" ->
      s"""WITH $normalizedCte,
         |qz AS (SELECT vec_id,
         |         list_transform(u, x -> CAST(floor(x * CAST(127.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS qv
         |       FROM e),
         |scored AS (
         |  SELECT q.vec_id AS qid, n.vec_id AS nid,
         |         CAST(list_dot_product(q.qv, n.qv) AS BIGINT) AS qdot
         |  FROM qz q JOIN qz n ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
         |r AS (SELECT qid, nid, qdot,
         |        row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, nid) AS rnk
         |      FROM scored)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, qdot
         |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "q71_salted_join" ->
      """WITH dim AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(value) AS ta
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        |  count(CASE WHEN e.value > d.ta THEN 1 END) AS n_above
        |FROM events e JOIN dim d USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q72_sequence_packing" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents WHERE doc_id < 50),
        |idx AS (SELECT doc_id, w, unnest(range(0, greatest(0, (len(w)-11) // 30) + 1)) AS chunk_idx FROM toks),
        |c AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |        CAST(len(w[chunk_idx*30 + 1 : chunk_idx*30 + 40]) AS BIGINT) AS n_tokens
        |      FROM idx),
        |pack(doc_id, chunk_idx, n_tokens, seq_idx, acc) AS (
        |  SELECT doc_id, chunk_idx, n_tokens, CAST(0 AS BIGINT), n_tokens
        |  FROM c WHERE chunk_idx = 0
        |  UNION ALL
        |  SELECT c.doc_id, c.chunk_idx, c.n_tokens,
        |    CASE WHEN p.acc + c.n_tokens > 100 THEN p.seq_idx + 1 ELSE p.seq_idx END,
        |    CASE WHEN p.acc + c.n_tokens > 100 THEN c.n_tokens ELSE p.acc + c.n_tokens END
        |  FROM pack p JOIN c ON c.doc_id = p.doc_id AND c.chunk_idx = p.chunk_idx + 1)
        |SELECT doc_id, chunk_idx, n_tokens, seq_idx
        |FROM pack ORDER BY doc_id, chunk_idx""".stripMargin,

    "q73_temperature_mixture" ->
      s"""WITH g AS (SELECT lang, COUNT(*) AS n_g FROM documents WHERE lang IS NOT NULL GROUP BY lang),
         |t AS (SELECT SUM(n_g) AS n_total,
         |             SUM(pow(CAST(n_g AS DOUBLE), 0.5)) AS pow_total FROM g),
         |r AS (SELECT lang,
         |        LEAST(CAST(100 AS BIGINT), CAST(floor(
         |          50.0 * n_total * pow(CAST(n_g AS DOUBLE), 0.5)
         |            / (pow_total * n_g) + 0.5) AS BIGINT)) AS rate_pct
         |      FROM g CROSS JOIN t),
         |kept AS (SELECT d.lang, r.rate_pct FROM documents d JOIN r USING (lang)
         |         WHERE ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 100 < r.rate_pct)
         |SELECT lang, COUNT(*) AS n_kept, MAX(rate_pct) AS rate_pct
         |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,

    "q74_dedup_keep_best" ->
      s"""WITH RECURSIVE ${cappedShinglesCte(3, 20)},
         |$keepBestCtes
         |SELECT cluster_id, doc_id AS rep_doc_id, n_chars AS best_score, n_members
         |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    "q75_kmeans" ->
      s"""WITH $normalizedCte,
         |c0 AS (SELECT vec_id AS cid, u AS cu FROM e WHERE vec_id < 8),
         |s1 AS (SELECT e.vec_id, e.u, c.cid, list_dot_product(e.u, c.cu) AS cs
         |       FROM e CROSS JOIN c0 c),
         |a1 AS (SELECT vec_id, u, cid FROM (
         |         SELECT vec_id, u, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
         |         FROM s1) WHERE rn = 1),
         |ux AS (SELECT cid, unnest(u) AS x, unnest(range(0, len(u))) AS pos FROM a1),
         |mx AS (SELECT cid, pos,
         |         SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS sx,
         |         COUNT(*) AS cnt
         |       FROM ux GROUP BY cid, pos),
         |cm AS (SELECT cid, list(CAST(sx AS DOUBLE) / (cnt * 1000000.0) ORDER BY pos) AS cv
         |       FROM mx GROUP BY cid),
         |c1 AS (SELECT cid, ${unitSql("cv")} AS cu
         |       FROM cm),
         |s2 AS (SELECT e.vec_id, c.cid, list_dot_product(e.u, c.cu) AS cs
         |       FROM e CROSS JOIN c1 c),
         |a2 AS (SELECT vec_id, cid FROM (
         |         SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
         |         FROM s2) WHERE rn = 1)
         |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id
         |FROM a2 ORDER BY vec_id""".stripMargin,

    // PQ-ADC replay: int8-quantize -> melt into 4 subvector rows ->
    // assign to the first-8-vectors init codebooks (argmax
    // 2*dot - |c|^2, ties to lowest cid) -> one half-up-rounded
    // integer Lloyd update -> encode -> per-query lookup table ->
    // sum of table entries -> 40-deep ADC shortlist -> exact int8
    // rerank -> top-10 per query. All-integer end to end, so every
    // stage is exact in both engines.
    "q129_pq_topk" -> pqOracleSql(nq = 5, k = 10, rr = 40),

    // The persisted-index PQ path must equal the inline replay on the
    // same corpus/parameters — same oracle generator, q132's params.
    "q132_pq_persisted" -> pqOracleSql(nq = 3, k = 8, rr = 32),
    // append-then-compact rollback leaves the pristine build exactly
    "q161_compact_pq" -> pqOracleSql(nq = 4, k = 6, rr = 24),
    // the loop-fed healed PQ index answers like a one-shot encode
    "q168_daily_pq_loop" -> pqOracleSql(nq = 5, k = 5, rr = 20),
  ) ++ extraOracleSql

  /** DuckDB replay of the PQ train→encode→ADC→rerank pipeline
    * (shared by q129 inline and q132 persisted — the persisted path's
    * contract is bit-equality with the inline math). `sub` is both
    * the subspace count and the subvector width (m = 8 over dim 64).
    */
  private def pqOracleSql(nq: Int, k: Int, rr: Int): String = {
    val (sub, ks) = (8, 16)
    s"""WITH $normalizedCte,
         |i8 AS (SELECT vec_id, list_transform(u, x -> CAST(floor(x * 127.0 + 0.5) AS BIGINT)) AS qv FROM e),
         |ss(s) AS (VALUES (0), (1), (2), (3), (4), (5), (6), (7)),
         |sv AS (SELECT vec_id, s, qv[s*$sub+1 : s*$sub+$sub] AS x FROM i8 CROSS JOIN ss),
         |c0 AS (SELECT s, vec_id AS cid, x AS cv FROM sv WHERE vec_id < $ks),
         |a0 AS (SELECT vec_id, s, x, cid FROM (
         |    SELECT sv.vec_id, sv.s, sv.x, c.cid,
         |      row_number() OVER (PARTITION BY sv.vec_id, sv.s
         |        ORDER BY 2*list_dot_product(sv.x, c.cv) - list_dot_product(c.cv, c.cv) DESC, c.cid) AS rn
         |    FROM sv JOIN c0 c USING (s)) WHERE rn = 1),
         |lanes AS (SELECT s, cid, unnest(x) AS lane, unnest(range(1, $sub + 1)) AS pos FROM a0),
         |cm AS (SELECT s, cid, pos, SUM(lane) AS sx, COUNT(*) AS cnt FROM lanes GROUP BY 1, 2, 3),
         |c1 AS (SELECT s, cid, list(CAST(floor((2.0*sx + cnt) / (2.0*cnt)) AS BIGINT) ORDER BY pos) AS cv
         |       FROM cm GROUP BY 1, 2),
         |enc AS (SELECT vec_id, s, cid FROM (
         |    SELECT sv.vec_id, sv.s, c.cid,
         |      row_number() OVER (PARTITION BY sv.vec_id, sv.s
         |        ORDER BY 2*list_dot_product(sv.x, c.cv) - list_dot_product(c.cv, c.cv) DESC, c.cid) AS rn
         |    FROM sv JOIN c1 c USING (s)) WHERE rn = 1),
         |tab AS (SELECT q.vec_id AS qid, q.s, c.cid,
         |          CAST(list_dot_product(q.x, c.cv) AS BIGINT) AS d
         |        FROM sv q JOIN c1 c USING (s) WHERE q.vec_id < $nq),
         |adc AS (SELECT t.qid, e2.vec_id AS nid, CAST(SUM(t.d) AS BIGINT) AS adc_dot
         |        FROM enc e2 JOIN tab t ON t.s = e2.s AND t.cid = e2.cid AND e2.vec_id <> t.qid
         |        GROUP BY 1, 2),
         |short AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY adc_dot DESC, nid) AS arn
         |    FROM adc) WHERE arn <= $rr),
         |ex AS (SELECT sh.qid, sh.nid,
         |         CAST(list_dot_product(qi.qv, ni.qv) AS BIGINT) AS qdot
         |       FROM short sh
         |       JOIN i8 qi ON qi.vec_id = sh.qid
         |       JOIN i8 ni ON ni.vec_id = sh.nid)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, qdot FROM (
         |    SELECT qid, nid, qdot,
         |      row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, nid) AS rnk
         |    FROM ex)
         |WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin
  }

  /** DuckDB replay of DSIR weights (q152) / resampling (q153) — ONE
    * generator so selection can never drift from scoring. Portable
    * 32-bit hash mod 64 buckets, add-1-smoothed target(src0)/source
    * bucket unigrams, DECIMAL(28,9)-accumulated per-doc
    * log-likelihood-ratio sums — the q69/q82 float discipline, so the
    * doubles hash-match across engines.
    */
  /** The DSIR CTE chain rooted at `from` (any relation with doc_id,
    * source, text) — names prefixed `d` so the chain composes after
    * the shingle CTEs (which own `toks`) in q154's curation oracle.
    * Ends at `dw(doc_id, n_tokens, avg_log_ratio)`.
    */
  private def dsirCtes(from: String, ngram: Int = 1): String = {
    // feature extraction: unigrams unnest the token array directly;
    // n-grams >= 2 mirror the shinglesCte windowing (without distinct
    // — these are term frequencies), exactly as TextAnalysis.dsirTf
    val dtok =
      if (ngram == 1)
        s"""dtok AS (
           |  SELECT doc_id, source,
           |    ${hash32Sql("t")} % 64 AS b
           |  FROM (SELECT doc_id, source,
           |          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
           |        FROM $from))""".stripMargin
      else
        s"""dtok AS (
           |  SELECT doc_id, source, ${hash32Sql("t")} % 64 AS b
           |  FROM (SELECT doc_id, source, array_to_string(w[i+1:i+$ngram], ' ') AS t
           |        FROM (SELECT doc_id, source, w, unnest(range(0, len(w)-${ngram - 1})) AS i
           |              FROM (SELECT doc_id, source,
           |                      string_split_regex(lower(trim(text)), '\\s+') AS w
           |                    FROM $from)
           |              WHERE len(w) >= $ngram)))""".stripMargin
    s"""$dtok,
       |dtf AS (SELECT doc_id, source, b, count(*) AS tf
       |        FROM dtok GROUP BY 1, 2, 3),
       |dbc AS (SELECT b,
       |          CAST(sum(CASE WHEN source = 'src0' THEN tf ELSE 0 END) AS BIGINT) AS tc,
       |          CAST(sum(CASE WHEN source <> 'src0' THEN tf ELSE 0 END) AS BIGINT) AS sc
       |        FROM dtf GROUP BY b),
       |dlr AS (SELECT b,
       |          ln(CAST(tc + 1 AS DOUBLE) / (sum(tc) OVER () + 64))
       |            - ln(CAST(sc + 1 AS DOUBLE) / (sum(sc) OVER () + 64)) AS lr
       |        FROM dbc),
       |dper AS (SELECT doc_id, tf, CAST(lr * tf AS DECIMAL(28,9)) AS wl
       |         FROM dtf JOIN dlr USING (b) WHERE source <> 'src0'),
       |dw AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |         CAST(sum(wl) AS DOUBLE) / CAST(sum(tf) AS BIGINT) AS avg_log_ratio
       |       FROM dper GROUP BY doc_id)""".stripMargin
  }

  /** Top-k resample select over [[dsirCtes]]'s `dw`. */
  private def dsirResampleTail(k: Int): String =
    s"""r AS (SELECT row_number() OVER (ORDER BY avg_log_ratio DESC, doc_id) AS rnk,
       |             doc_id, n_tokens, avg_log_ratio
       |      FROM dw)
       |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, n_tokens, avg_log_ratio
       |FROM r WHERE rnk <= $k ORDER BY rnk""".stripMargin

  private def dsirOracleSql(resampleK: Option[Int], ngram: Int = 1): String =
    resampleK match {
      case None =>
        s"""WITH ${dsirCtes("documents", ngram)}
           |SELECT doc_id, n_tokens, avg_log_ratio FROM dw ORDER BY doc_id""".stripMargin
      case Some(k) =>
        s"""WITH ${dsirCtes("documents", ngram)},
           |${dsirResampleTail(k)}""".stripMargin
    }

  /** DuckDB replay of q177 — the per-source budget mixture: the same
    * score order and prefix-start rule as q176, windowed PER SOURCE,
    * each source joined to its own token budget. */
  private def dsirMixtureOracleSql(budgets: Seq[(String, Long)],
                                   ngram: Int = 1): String = {
    val values = budgets.map { case (s, b) => s"('$s', $b)" }.mkString(", ")
    val srcs = budgets.map { case (s, _) => s"'$s'" }.mkString(", ")
    s"""WITH ${dsirCtes("documents", ngram)},
       |srcs AS (SELECT doc_id, source FROM documents WHERE source IN ($srcs)),
       |j AS (SELECT s.source, w.doc_id, w.n_tokens, w.avg_log_ratio
       |      FROM dw w JOIN srcs s USING (doc_id)),
       |r AS (SELECT source,
       |        row_number() OVER (PARTITION BY source
       |                           ORDER BY avg_log_ratio DESC, doc_id) AS rnk,
       |        doc_id, n_tokens, avg_log_ratio
       |      FROM j),
       |c AS (SELECT source, rnk, doc_id, n_tokens, avg_log_ratio,
       |        SUM(n_tokens) OVER (PARTITION BY source ORDER BY rnk) AS cum_tokens
       |      FROM r),
       |b(source, budget) AS (VALUES $values)
       |SELECT c.source, CAST(rnk AS BIGINT) AS rnk, doc_id, n_tokens,
       |  CAST(cum_tokens AS BIGINT) AS cum_tokens, avg_log_ratio
       |FROM c JOIN b USING (source) WHERE cum_tokens - n_tokens < budget
       |ORDER BY c.source, rnk""".stripMargin
  }

  /** DuckDB replay of q176 — the budget-constrained selection: the
    * same score order as [[dsirResampleTail]], one cumulative-sum
    * window, and the greedy prefix-start rule (kept iff the running
    * total BEFORE the row is under the budget). */
  private def dsirBudgetOracleSql(tokenBudget: Long, ngram: Int = 1): String =
    s"""WITH ${dsirCtes("documents", ngram)},
       |r AS (SELECT row_number() OVER (ORDER BY avg_log_ratio DESC, doc_id) AS rnk,
       |             doc_id, n_tokens, avg_log_ratio
       |      FROM dw),
       |c AS (SELECT rnk, doc_id, n_tokens, avg_log_ratio,
       |        SUM(n_tokens) OVER (ORDER BY rnk) AS cum_tokens
       |      FROM r)
       |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, n_tokens,
       |  CAST(cum_tokens AS BIGINT) AS cum_tokens, avg_log_ratio
       |FROM c WHERE cum_tokens - n_tokens < $tokenBudget
       |ORDER BY rnk""".stripMargin

  /** DuckDB replay of BPE training (q130) / encoding (q131) — ONE
    * generator for both, mirroring the Scala bpeTrain(foldLast) flag
    * so the two oracles can never drift apart. `merges` unrolled
    * rounds over the word-frequency vocab; pair counts are
    * freq-weighted integer sums; the merge is the same greedy
    * left-to-right scan, expressed as a string fold (list_reduce with
    * a space-joined accumulator — symbols never contain whitespace,
    * so the last-symbol test is exact). Exhaustion mirrors the Scala
    * early stop: b$$i is LEFT-joined, so when no pair remains the
    * vocab passes through unchanged (and the merge-table select for
    * that round naturally emits no row).
    */
  /** Shared WITH-body of every BPE oracle: word-frequency vocab +
    * `merges` unrolled train rounds, the word key `w` carried through
    * each fold so downstream CTEs can rebuild word→ids maps
    * ([[bpeIdsOracleSql]]). `encode` controls whether the final
    * round's merge is applied (mirror of the Scala foldLast flag). */
  private def bpeStagesSql(merges: Int, encode: Boolean): String = {
    val ws = """\s+"""
    def stage(i: Int): String = {
      val src = if (i == 1) "s0" else s"s${i - 1}"
      val pairs =
        s"""p$i AS (SELECT z[1] AS a, z[2] AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           |    SELECT freq, unnest(list_zip(seq[1:len(seq)-1], seq[2:len(seq)])) AS z
           |    FROM $src WHERE len(seq) >= 2)
           |  GROUP BY 1, 2),
           |b$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin
      if (i == merges && !encode) pairs
      else pairs + ",\n" +
        s"""s$i AS (SELECT s.w, s.freq,
           |    CASE WHEN b.a IS NULL OR len(s.seq) < 2 THEN s.seq
           |         ELSE string_split(list_reduce(s.seq,
           |           (acc, x) -> CASE WHEN x = b.b AND string_split(acc, ' ')[-1] = b.a
           |                       THEN substr(acc, 1, len(acc) - len(b.a)) || b.a || b.b
           |                       ELSE acc || ' ' || x END), ' ')
           |    END AS seq
           |  FROM $src s LEFT JOIN b$i b ON TRUE)""".stripMargin
    }
    s"""w0 AS (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(lower(trim(text)), '$ws')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |s0 AS (SELECT w, CAST(freq AS BIGINT) AS freq,
       |         list_filter(string_split(w, ''), x -> x <> '') AS seq FROM w0),
       |${(1 to merges).map(stage).mkString(",\n")}""".stripMargin
  }

  /** DuckDB replay of q185 — BATCHED BPE training: `rounds` rounds,
    * each ranking the pair counts once, selecting up to `batch`
    * token-disjoint pairs (a pair is kept iff it holds the best rank
    * within each of its three token groups: left symbol, right
    * symbol, merged string), and applying them sequentially in rank
    * order (token-disjointness makes the order immaterial — the
    * engine applies them in one fold pass, provably equal). The
    * per-merge fold is the classic oracle's `list_reduce` scan,
    * unrolled `batch` times per round with an empty-selection
    * null-guard.
    */
  /** The batched-training CTE chain: w0/s0 (word vocab with `w`
    * threaded through every stage, like [[bpeStagesSql]]) + per-round
    * selection CTEs (p/r/e/sel) + per-round fold sub-stages. `encode`
    * folds the final round too (the encode consumers need the final
    * word states); the merge-table caller skips it. All CTEs are
    * MATERIALIZED: default inlining expands the round chain ~5× per
    * round and exhausts file handles on the re-opened parquet scan.
    */
  private def bpeBatchedStagesSql(rounds: Int, batch: Int,
                                  encode: Boolean): String = {
    val ws = """\s+"""
    def stage(r: Int): String = {
      val src = if (r == 1) "s0" else s"s${r - 1}"
      val sel =
        s"""p$r AS MATERIALIZED (SELECT z[1] AS a, z[2] AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           |    SELECT freq, unnest(list_zip(seq[1:len(seq)-1], seq[2:len(seq)])) AS z
           |    FROM $src WHERE len(seq) >= 2)
           |  GROUP BY 1, 2),
           |r$r AS MATERIALIZED (SELECT a, b, cnt, row_number() OVER (ORDER BY cnt DESC, a, b) AS rk
           |        FROM p$r),
           |e$r AS MATERIALIZED (SELECT sym, min(rk) AS mrk FROM (
           |    SELECT a AS sym, rk FROM r$r
           |    UNION ALL SELECT b, rk FROM r$r
           |    UNION ALL SELECT a || b, rk FROM r$r) GROUP BY sym),
           |sel$r AS MATERIALIZED (SELECT * FROM (
           |    SELECT x.a, x.b, x.cnt, row_number() OVER (ORDER BY x.rk) AS j
           |    FROM r$r x, e$r ea, e$r eb, e$r em
           |    WHERE ea.sym = x.a AND eb.sym = x.b AND em.sym = x.a || x.b
           |      AND x.rk = ea.mrk AND x.rk = eb.mrk AND x.rk = em.mrk)
           |  WHERE j <= $batch)""".stripMargin
      if (r == rounds && !encode) sel
      else sel + ",\n" + (1 to batch).map { j =>
        val prev = if (j == 1) src else s"s${r}_${j - 1}"
        s"""b${r}_$j AS MATERIALIZED (SELECT a, b FROM sel$r WHERE j = $j),
           |s${r}_$j AS MATERIALIZED (SELECT s.w, s.freq,
           |    CASE WHEN b.a IS NULL OR len(s.seq) < 2 THEN s.seq
           |         ELSE string_split(list_reduce(s.seq,
           |           (acc, x) -> CASE WHEN x = b.b AND string_split(acc, ' ')[-1] = b.a
           |                       THEN substr(acc, 1, len(acc) - len(b.a)) || b.a || b.b
           |                       ELSE acc || ' ' || x END), ' ')
           |    END AS seq
           |  FROM $prev s LEFT JOIN b${r}_$j b ON TRUE)""".stripMargin
      }.mkString(",\n") + s",\ns$r AS MATERIALIZED (SELECT * FROM s${r}_$batch)"
    }
    s"""w0 AS (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(lower(trim(text)), '$ws')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |s0 AS (SELECT w, CAST(freq AS BIGINT) AS freq,
       |         list_filter(string_split(w, ''), x -> x <> '') AS seq FROM w0),
       |${(1 to rounds).map(stage).mkString(",\n")}""".stripMargin
  }

  /** Global merge numbering over the batched rounds' selections: one
    * row per committed merge in (round, within-round rank) order. */
  private def bpeBatchedSelUnion(rounds: Int): String =
    (1 to rounds)
      .map(r => s"SELECT $r AS rnd, a, b, cnt, j FROM sel$r")
      .mkString("\nUNION ALL ")

  private def bpeBatchedOracleSql(rounds: Int, batch: Int): String =
    s"""WITH ${bpeBatchedStagesSql(rounds, batch, encode = false)}
       |SELECT CAST(row_number() OVER (ORDER BY rnd, j) AS BIGINT) AS iter,
       |  a AS sym_a, b AS sym_b, a || b AS merged, cnt AS weighted_count
       |FROM (${bpeBatchedSelUnion(rounds)})
       |ORDER BY iter""".stripMargin

  /** DuckDB replay of q186 — the tokenizer TIER under the batched
    * trainer: the batched vocab persisted in the standard artifact
    * layout (base alphabet sorted → ids 0..C-1, batched merge i → id
    * C+i-1, first-id-wins), every document under the doc filter
    * encoded from it, and the shared concat-cut tail packing the
    * result — proving the scale-variant tokenizer composes with the
    * unchanged downstream verbatim. */
  private def bpeBatchedPipelineOracleSql(rounds: Int, batch: Int,
                                          budget: Int,
                                          docLimit: Int): String = {
    val ws = """\s+"""
    s"""WITH ${bpeBatchedStagesSql(rounds, batch, encode = true)},
       |mt AS (SELECT row_number() OVER (ORDER BY rnd, j) AS iter, a || b AS t
       |       FROM (${bpeBatchedSelUnion(rounds)})),
       |chars AS (SELECT DISTINCT unnest(seq) AS t FROM s0),
       |nb AS (SELECT count(*) AS c FROM chars),
       |vocab AS (SELECT t, CAST(MIN(id) AS BIGINT) AS id FROM (
       |    SELECT t, row_number() OVER (ORDER BY t) - 1 AS id FROM chars
       |    UNION ALL
       |    SELECT m.t, nb.c + m.iter - 1 AS id FROM mt m CROSS JOIN nb)
       |  GROUP BY t),
       |wt AS (SELECT w, unnest(seq) AS t, unnest(range(0, len(seq))) AS pos FROM s$rounds),
       |wid AS (SELECT w, list(id ORDER BY pos) AS ids
       |        FROM wt JOIN vocab USING (t) GROUP BY w),
       |dt AS (SELECT doc_id, unnest(ws) AS w, unnest(range(0, len(ws))) AS wpos FROM (
       |    SELECT doc_id,
       |      list_filter(string_split_regex(lower(trim(text)), '$ws'), x -> x <> '') AS ws
       |    FROM documents WHERE doc_id < $docLimit)),
       |denc AS (SELECT doc_id, flatten(list(ids ORDER BY wpos)) AS ids
       |         FROM dt JOIN wid USING (w) GROUP BY doc_id),
       |${concatCutTailSql(budget)}""".stripMargin
  }

  private def bpeOracleSql(merges: Int, encode: Boolean): String = {
    val finalSelect =
      if (encode)
        s"""SELECT t AS token, CAST(SUM(freq) AS BIGINT) AS n_tokens FROM (
           |    SELECT freq, unnest(seq) AS t FROM s$merges)
           |GROUP BY t ORDER BY n_tokens DESC, token""".stripMargin
      else
        (1 to merges).map(i =>
          s"SELECT CAST($i AS BIGINT) AS iter, a AS sym_a, b AS sym_b, " +
            s"a || b AS merged, cnt AS weighted_count FROM b$i")
          .mkString("", "\nUNION ALL ", "\nORDER BY iter")
    s"""WITH ${bpeStagesSql(merges, encode)}
       |$finalSelect""".stripMargin
  }

  /** DuckDB replay of q169: BPE-encode every document to token IDS
    * under the reference id layout (base alphabet sorted → ids
    * 0..C-1, merge round i → id C+i-1, first id wins on collision),
    * then chunk each id array into `size`-token windows and replay
    * the greedy packer (the q72 recursive running-sum-with-reset)
    * at `budget`, emitting per-chunk sequence offsets and id
    * checksums. */
  /** Shared oracle prefix: BPE stages + reference-layout vocab ids +
    * the per-document encode, ending at `denc(doc_id, ids)` — used by
    * q169/q171's chunked pack, q172/q174's concat-and-cut pack.
    * `docFilter` is the SQL predicate selecting which documents get
    * encoded (training always reads the full table). */
  private def bpeEncodePrefixSql(merges: Int, docFilter: String): String = {
    val ws = """\s+"""
    val mrg = (1 to merges)
      .map(i => s"SELECT $i AS iter, a || b AS t FROM b$i")
      .mkString("\nUNION ALL ")
    s"""${bpeStagesSql(merges, encode = true)},
       |chars AS (SELECT DISTINCT unnest(seq) AS t FROM s0),
       |nb AS (SELECT count(*) AS c FROM chars),
       |vocab AS (SELECT t, CAST(MIN(id) AS BIGINT) AS id FROM (
       |    SELECT t, row_number() OVER (ORDER BY t) - 1 AS id FROM chars
       |    UNION ALL
       |    SELECT m.t, nb.c + m.iter - 1 AS id FROM ($mrg) m CROSS JOIN nb)
       |  GROUP BY t),
       |wt AS (SELECT w, unnest(seq) AS t, unnest(range(0, len(seq))) AS pos FROM s$merges),
       |wid AS (SELECT w, list(id ORDER BY pos) AS ids
       |        FROM wt JOIN vocab USING (t) GROUP BY w),
       |dt AS (SELECT doc_id, unnest(ws) AS w, unnest(range(0, len(ws))) AS wpos FROM (
       |    SELECT doc_id,
       |      list_filter(string_split_regex(lower(trim(text)), '$ws'), x -> x <> '') AS ws
       |    FROM documents WHERE $docFilter)),
       |denc AS (SELECT doc_id, flatten(list(ids ORDER BY wpos)) AS ids
       |         FROM dt JOIN wid USING (w) GROUP BY doc_id)""".stripMargin
  }

  private def bpeIdsOracleSql(merges: Int, size: Int, budget: Int,
                              docLimit: Int): String = {
    s"""WITH RECURSIVE ${bpeEncodePrefixSql(merges, s"doc_id < $docLimit")},
       |cidx AS (SELECT doc_id, ids,
       |           unnest(range(0, greatest(0, (len(ids) - 1) // $size) + 1)) AS chunk_idx
       |         FROM denc),
       |ch AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |         ids[chunk_idx*$size + 1 : chunk_idx*$size + $size] AS cw FROM cidx),
       |cst AS (SELECT doc_id, chunk_idx, CAST(len(cw) AS BIGINT) AS n_tokens,
       |          CAST(cw[1] AS BIGINT) AS first_id, CAST(cw[-1] AS BIGINT) AS last_id
       |        FROM ch),
       |wsum AS (SELECT doc_id, chunk_idx, CAST(SUM(x * (pos + 1)) AS BIGINT) AS ids_wsum
       |         FROM (SELECT doc_id, chunk_idx, unnest(cw) AS x,
       |                 unnest(range(0, len(cw))) AS pos FROM ch)
       |         GROUP BY doc_id, chunk_idx),
       |pack(doc_id, chunk_idx, seq_idx, acc) AS (
       |  SELECT doc_id, chunk_idx, CAST(0 AS BIGINT), n_tokens FROM cst WHERE chunk_idx = 0
       |  UNION ALL
       |  SELECT c.doc_id, c.chunk_idx,
       |    CASE WHEN p.acc + c.n_tokens > $budget THEN p.seq_idx + 1 ELSE p.seq_idx END,
       |    CASE WHEN p.acc + c.n_tokens > $budget THEN c.n_tokens ELSE p.acc + c.n_tokens END
       |  FROM pack p JOIN cst c ON c.doc_id = p.doc_id AND c.chunk_idx = p.chunk_idx + 1)
       |SELECT c.doc_id, c.chunk_idx, p.seq_idx, p.acc - c.n_tokens AS seq_offset,
       |  c.n_tokens, c.first_id, c.last_id, w.ids_wsum
       |FROM cst c
       |JOIN pack p ON p.doc_id = c.doc_id AND p.chunk_idx = c.chunk_idx
       |JOIN wsum w ON w.doc_id = c.doc_id AND w.chunk_idx = c.chunk_idx
       |ORDER BY c.doc_id, c.chunk_idx""".stripMargin
  }

  /** DuckDB replay of q172: concat every encoded document's ids in
    * doc_id order, cut the stream every `budget` tokens, and emit the
    * (sequence, document-fragment) boundary table. The global prefix
    * sum the engine computes distributedly (partition subtotals +
    * per-partition windows) is here one ordered window — same
    * arithmetic, oracle scale. */
  private def concatCutOracleSql(merges: Int, budget: Int,
                                 docLimit: Int): String =
    s"""WITH ${bpeEncodePrefixSql(merges, s"doc_id < $docLimit")},
       |${concatCutTailSql(budget)}""".stripMargin

  /** DuckDB replay of q174 — the EP7 composition: the q154 curation
    * chain (capped-Jaccard dedup → keep-best reps → quality logit →
    * DSIR top-k) selects the doc ids, the FULL-corpus-trained BPE
    * encode spells them (bpeStagesSql always trains on `documents`;
    * only the encode filter narrows — the tokenizer is a corpus-level
    * artifact), and the q172 concat-and-cut tail packs them. Every
    * piece is the same shared CTE text its standalone oracle uses, so
    * the composed and standalone replays can never drift. */
  private def curatedSequencesOracleSql(merges: Int, budget: Int,
                                        k: Int): String =
    s"""WITH RECURSIVE $curationKeptCtes,
       |${dsirCtes("kept")},
       |cr AS (SELECT row_number() OVER (ORDER BY avg_log_ratio DESC, doc_id) AS rnk,
       |              doc_id
       |       FROM dw),
       |pickids AS (SELECT doc_id FROM cr WHERE rnk <= $k),
       |${bpeEncodePrefixSql(merges, "doc_id IN (SELECT doc_id FROM pickids)")},
       |${concatCutTailSql(budget)}""".stripMargin

  /** The concat-and-cut fragment CTEs over `$from(doc_id, ids)`,
    * ending at `rows_(seq_idx, seq_off, doc_id, doc_off, frag_len,
    * fr)` — the shared cut arithmetic both deliverable tails read:
    * the boundary table ([[concatCutTailSql]]) and the assembled
    * shards ([[packedShardsTailSql]]). One definition, so the two
    * replays can never disagree on where a cut falls. */
  private def concatCutRowsCtes(budget: Int, from: String = "denc"): String =
    s"""enc AS (SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n
       |        FROM $from WHERE len(ids) >= 1),
       |g AS (SELECT doc_id, ids, n,
       |        CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gs
       |      FROM enc),
       |frag AS (SELECT doc_id, ids, n, gs,
       |           unnest(range(gs // $budget, (gs + n - 1) // $budget + 1)) AS seq_idx
       |         FROM g),
       |calc AS (SELECT doc_id, ids, gs, seq_idx,
       |           greatest(gs, seq_idx * $budget) AS fs,
       |           least(gs + n, (seq_idx + 1) * $budget) AS fe
       |         FROM frag),
       |rows_ AS (SELECT CAST(seq_idx AS BIGINT) AS seq_idx,
       |            CAST(fs - seq_idx * $budget AS BIGINT) AS seq_off,
       |            doc_id,
       |            CAST(fs - gs AS BIGINT) AS doc_off,
       |            CAST(fe - fs AS BIGINT) AS frag_len,
       |            ids[CAST(fs - gs AS BIGINT) + 1 : CAST(fe - gs AS BIGINT)] AS fr
       |          FROM calc)""".stripMargin

  /** The boundary-table tail over the shared cut CTEs — q172
    * (doc-limit filter), q174 (curated-selection filter) and q182
    * (separator-terminated stream). */
  private def concatCutTailSql(budget: Int, from: String = "denc"): String =
    s"""${concatCutRowsCtes(budget, from)},
       |ws AS (SELECT seq_idx, doc_id, CAST(SUM(x * (pos + 1)) AS BIGINT) AS ids_wsum
       |       FROM (SELECT seq_idx, doc_id, unnest(fr) AS x,
       |               unnest(range(0, len(fr))) AS pos FROM rows_)
       |       GROUP BY seq_idx, doc_id)
       |SELECT r.seq_idx, r.seq_off, r.doc_id, r.doc_off, r.frag_len,
       |  CAST(r.fr[1] AS BIGINT) AS first_id, CAST(r.fr[-1] AS BIGINT) AS last_id,
       |  w.ids_wsum
       |FROM rows_ r JOIN ws w ON w.seq_idx = r.seq_idx AND w.doc_id = r.doc_id
       |ORDER BY r.seq_idx, r.seq_off""".stripMargin

  /** The assembled-shards tail (q183): each sequence's fragments
    * concatenated in seq_off order into the full array<bigint> token
    * row the trainer reads — same `rows_` the boundary table reads,
    * so shards and boundaries replay one cut. The final projection
    * joins the array to a ','-CSV string (mirroring the catalog side)
    * because the harness row-sort cannot factorize raw array columns;
    * the join is injective, so the hash compare is still token-exact. */
  private def packedShardsTailSql(budget: Int, from: String = "denc"): String =
    s"""${concatCutRowsCtes(budget, from)},
       |sh AS (SELECT seq_idx,
       |         flatten(list(list_transform(fr, x -> CAST(x AS BIGINT))
       |           ORDER BY seq_off)) AS ids
       |       FROM rows_ GROUP BY seq_idx)
       |SELECT seq_idx, CAST(len(ids) AS BIGINT) AS n_tokens,
       |  array_to_string(ids, ',') AS ids_csv
       |FROM sh ORDER BY seq_idx""".stripMargin

  /** The self-contained-shards tail (q187): q183's assembly plus each
    * sequence's boundary slice inline as (off, doc_id, len) structs in
    * seq_off order — projected as ';'-joined off:doc_id:len triples
    * (and ids as CSV) for the same harness-sortability reason. */
  private def shardsSpansTailSql(budget: Int, from: String = "denc"): String =
    s"""${concatCutRowsCtes(budget, from)},
       |sh AS (SELECT seq_idx,
       |         flatten(list(list_transform(fr, x -> CAST(x AS BIGINT))
       |           ORDER BY seq_off)) AS ids,
       |         list(struct_pack(off := seq_off, doc_id := doc_id,
       |           len := frag_len) ORDER BY seq_off) AS doc_spans
       |       FROM rows_ GROUP BY seq_idx)
       |SELECT seq_idx, CAST(len(ids) AS BIGINT) AS n_tokens,
       |  array_to_string(ids, ',') AS ids_csv,
       |  array_to_string(list_transform(doc_spans,
       |    s -> concat(s.off, ':', s.doc_id, ':', s.len)), ';') AS spans_str
       |FROM sh ORDER BY seq_idx""".stripMargin

  /** Tail of the oracle catalog — split out of the main literal so
    * [[pqOracleSql]] can sit between the two maps. */
  private def extraOracleSql: Map[String, String] = Map(

    "q76_tfidf_top_terms" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(floor(CAST(tf.tf AS DOUBLE)
        |      * (ln((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(dfreq.df AS DOUBLE) + 1.0)) + 1.0)
        |      * 1000000.0 + 0.5) AS BIGINT) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tfidf,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
        |      FROM scored)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tfidf
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "q77_zipf_histogram" ->
      """WITH dfreq AS (
        |  SELECT term, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |        FROM documents)
        |  GROUP BY term)
        |SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS bucket,
        |  count(*) AS n_terms, CAST(SUM(df) AS BIGINT) AS total_doc_hits
        |FROM dfreq GROUP BY 1 ORDER BY 1""".stripMargin,

    "q78_quality_funnel" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |      / len(string_split_regex(lower(trim(text)), '\s+')) AS avg_token_len,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x IN ('the','a','and','of','is','el','la','de','que','y','der','die','und','das','ist','le','et','les'))) AS DOUBLE)
        |      / len(string_split_regex(lower(trim(text)), '\s+')) AS stopword_ratio
        |  FROM documents),
        |q AS (SELECT *,
        |        least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) * 0.4
        |          + (CASE WHEN avg_token_len BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
        |          + least(stopword_ratio * 3.0, 1.0) * 0.3 AS quality
        |      FROM t),
        |f AS (SELECT source,
        |        n_tokens >= 10 AS g1,
        |        n_tokens >= 10 AND avg_token_len BETWEEN 3.0 AND 10.0 AS g2,
        |        n_tokens >= 10 AND avg_token_len BETWEEN 3.0 AND 10.0
        |          AND stopword_ratio >= 0.05 AS g3,
        |        n_tokens >= 10 AND avg_token_len BETWEEN 3.0 AND 10.0
        |          AND stopword_ratio >= 0.05 AND quality >= 0.5 AS g4
        |      FROM q)
        |SELECT source, count(*) AS n_input,
        |  count(CASE WHEN g1 THEN 1 END) AS n_len_ok,
        |  count(CASE WHEN g2 THEN 1 END) AS n_shape_ok,
        |  count(CASE WHEN g3 THEN 1 END) AS n_stopword_ok,
        |  count(CASE WHEN g4 THEN 1 END) AS n_quality_ok
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    "q79_interval_overlap" ->
      """WITH l AS (SELECT event_id AS l_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |             epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS e
        |           FROM events WHERE event_type = 'click'),
        |r AS (SELECT event_id AS r_id,
        |        epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |        epoch_us(CAST(ts AS TIMESTAMP)) + 60000000 AS e
        |      FROM events WHERE event_type = 'error')
        |SELECT l_id, r_id,
        |  CAST(least(l.e, r.e) - greatest(l.s, r.s) AS DOUBLE) / 1e6 AS overlap_sec
        |FROM l JOIN r ON l.s <= r.e AND r.s <= l.e
        |ORDER BY l_id, r_id""".stripMargin,

    "q80_pagerank" ->
      s"""WITH ${cappedShinglesCte(3, 20)},
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN cnt ca ON doc_a = ca.doc_id
         |  JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |deg AS (SELECT a, count(*) AS deg FROM edges GROUP BY a),
         |pr1 AS (SELECT e.b AS node,
         |          150000000 + (SUM(1000000000 // d.deg) * 85 + 50) // 100 AS rq
         |        FROM edges e JOIN deg d ON e.a = d.a GROUP BY e.b),
         |pr2 AS (SELECT e.b AS node,
         |          150000000 + (SUM(p.rq // d.deg) * 85 + 50) // 100 AS rq
         |        FROM edges e JOIN deg d ON e.a = d.a JOIN pr1 p ON p.node = e.a
         |        GROUP BY e.b)
         |SELECT node AS doc_id, CAST(rq AS DOUBLE) / 1e9 AS rank
         |FROM pr2 ORDER BY doc_id""".stripMargin,

    "q81_custom_topk" ->
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY value DESC, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_id, value FROM r WHERE rn <= 3
        |ORDER BY user_id, value DESC, event_id""".stripMargin,

    "q82_bigram_logprob" ->
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |           FROM documents),
        |p AS (SELECT doc_id, w[i+1] AS a, w[i+2] AS b
        |      FROM (SELECT doc_id, w, unnest(range(0, len(w)-1)) AS i
        |            FROM w WHERE len(w) >= 2)),
        |tf AS (SELECT doc_id, a, b, count(*) AS tf FROM p GROUP BY 1, 2, 3),
        |c2 AS (SELECT a, b, CAST(sum(tf) AS BIGINT) AS c2 FROM tf GROUP BY a, b),
        |c1 AS (SELECT a, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY a),
        |v AS (SELECT count(DISTINCT t) AS v
        |      FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        |            FROM documents)),
        |per AS (SELECT doc_id, tf,
        |          CAST(-ln((CAST(c2 AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + v)) * tf
        |               AS DECIMAL(28,9)) AS nlp
        |        FROM tf JOIN c2 USING (a, b) JOIN c1 USING (a) CROSS JOIN v)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  CAST(sum(nlp) AS DOUBLE) / CAST(sum(tf) AS BIGINT) AS avg_neg_logprob
        |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q83_weighted_sample" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
         |      / len(string_split_regex(lower(trim(text)), '\\s+')) AS avg_token_len,
         |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> x IN ('the','a','and','of','is','el','la','de','que','y','der','die','und','das','ist','le','et','les'))) AS DOUBLE)
         |      / len(string_split_regex(lower(trim(text)), '\\s+')) AS stopword_ratio
         |  FROM documents),
         |q AS (SELECT doc_id,
         |        least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) * 0.4
         |          + (CASE WHEN avg_token_len BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
         |          + least(stopword_ratio * 3.0, 1.0) * 0.3 AS quality
         |      FROM t),
         |r AS (SELECT doc_id,
         |        CAST(floor(quality * 100.0 + 0.5) AS BIGINT) AS rate_pct
         |      FROM q)
         |SELECT doc_id, rate_pct FROM r
         |WHERE ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 100 < rate_pct
         |ORDER BY doc_id""".stripMargin,

    "q84_upsert_merge" ->
      s"""WITH all_rows AS (
         |  SELECT user_id, event_id, value, ts, 'base' AS src FROM events
         |  WHERE ${hash32Sql("CAST(event_id AS VARCHAR)")} % 100 < 80
         |  UNION ALL
         |  SELECT user_id, event_id, value, ts, 'update' AS src FROM events
         |  WHERE ${hash32Sql("CAST(event_id AS VARCHAR)")} % 100 >= 80),
         |r AS (SELECT user_id, event_id, value, src,
         |        row_number() OVER (PARTITION BY user_id
         |          ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
         |                   (src = 'update') DESC, event_id DESC) AS rn
         |      FROM all_rows)
         |SELECT user_id, event_id, value, src FROM r WHERE rn = 1
         |ORDER BY user_id""".stripMargin,

    "q85_table_profile" ->
      """WITH s AS (SELECT
        |  count(CASE WHEN l_quantity IS NULL THEN 1 END) AS n1,
        |  count(DISTINCT l_quantity) AS d1,
        |  CAST(min(l_quantity) AS DOUBLE) AS mn1, CAST(max(l_quantity) AS DOUBLE) AS mx1,
        |  count(CASE WHEN l_extendedprice IS NULL THEN 1 END) AS n2,
        |  count(DISTINCT l_extendedprice) AS d2,
        |  CAST(min(l_extendedprice) AS DOUBLE) AS mn2, CAST(max(l_extendedprice) AS DOUBLE) AS mx2,
        |  count(CASE WHEN l_discount IS NULL THEN 1 END) AS n3,
        |  count(DISTINCT l_discount) AS d3,
        |  CAST(min(l_discount) AS DOUBLE) AS mn3, CAST(max(l_discount) AS DOUBLE) AS mx3,
        |  count(CASE WHEN l_tax IS NULL THEN 1 END) AS n4,
        |  count(DISTINCT l_tax) AS d4,
        |  CAST(min(l_tax) AS DOUBLE) AS mn4, CAST(max(l_tax) AS DOUBLE) AS mx4
        |  FROM lineitem)
        |SELECT 'l_quantity' AS column_name, n1 AS n_nulls, d1 AS n_distinct,
        |       mn1 AS min_val, mx1 AS max_val FROM s
        |UNION ALL SELECT 'l_extendedprice', n2, d2, mn2, mx2 FROM s
        |UNION ALL SELECT 'l_discount', n3, d3, mn3, mx3 FROM s
        |UNION ALL SELECT 'l_tax', n4, d4, mn4, mx4 FROM s
        |ORDER BY column_name""".stripMargin,

    "q86_sliding_windows" ->
      """WITH k AS (SELECT unnest(range(0, 2)) AS k),
        |w AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) - k.k * INTERVAL '1 day' AS win_start,
        |             value
        |      FROM events CROSS JOIN k)
        |SELECT win_start, win_start + INTERVAL '2 days' AS win_end,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM w GROUP BY win_start ORDER BY win_start""".stripMargin,

    "q87_ann_recall" ->
      s"""WITH $normalizedCte,
         |b AS (SELECT e0.vec_id, e.u, ${lshBucketSql("e0.v", 4)} AS bucket
         |      FROM e0 JOIN e ON e0.vec_id = e.vec_id),
         |ex AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
         |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |           ORDER BY list_dot_product(q.u, n.u) DESC, n.vec_id) AS rnk
         |       FROM e n JOIN e q ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
         |exact AS (SELECT qid, nid FROM ex WHERE rnk <= 5),
         |ap AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
         |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |           ORDER BY list_dot_product(q.u, n.u) DESC, n.vec_id) AS rnk
         |       FROM b n JOIN b q ON q.vec_id < 10 AND n.bucket = q.bucket
         |                        AND n.vec_id <> q.vec_id),
         |approx AS (SELECT qid, nid FROM ap WHERE rnk <= 5),
         |m AS (SELECT exact.qid, count(*) AS n_matched
         |      FROM exact JOIN approx USING (qid, nid) GROUP BY exact.qid),
         |tot AS (SELECT qid, count(*) AS n_exact FROM exact GROUP BY qid)
         |SELECT t.qid, CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
         |  CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / t.n_exact AS recall
         |FROM tot t LEFT JOIN m USING (qid) ORDER BY qid""".stripMargin,

    "q91_ann_recall_ivf" ->
      s"""WITH $normalizedCte,
         |cents AS (SELECT vec_id AS cid, u AS cu FROM e WHERE vec_id < 16),
         |ranked AS (
         |  SELECT e.vec_id, e.u, c.cid,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                            ORDER BY list_dot_product(e.u, c.cu) DESC, c.cid) AS crn
         |  FROM e CROSS JOIN cents c),
         |assign AS (SELECT vec_id, u, cid AS cell FROM ranked WHERE crn = 1),
         |qprobe AS (SELECT vec_id AS qid, u AS qu, cid AS cell FROM ranked
         |           WHERE vec_id < 10 AND crn <= 4),
         |ap AS (SELECT q.qid, a.vec_id AS nid,
         |         ROW_NUMBER() OVER (PARTITION BY q.qid
         |           ORDER BY list_dot_product(q.qu, a.u) DESC, a.vec_id) AS rnk
         |       FROM assign a JOIN qprobe q ON a.cell = q.cell AND a.vec_id <> q.qid),
         |approx AS (SELECT qid, nid FROM ap WHERE rnk <= 5),
         |ex AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
         |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |           ORDER BY list_dot_product(q.u, n.u) DESC, n.vec_id) AS rnk
         |       FROM e n JOIN e q ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
         |exact AS (SELECT qid, nid FROM ex WHERE rnk <= 5),
         |m AS (SELECT exact.qid, count(*) AS n_matched
         |      FROM exact JOIN approx USING (qid, nid) GROUP BY exact.qid),
         |tot AS (SELECT qid, count(*) AS n_exact FROM exact GROUP BY qid)
         |SELECT t.qid, CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
         |  CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / t.n_exact AS recall
         |FROM tot t LEFT JOIN m USING (qid) ORDER BY qid""".stripMargin,

    "q93_semantic_neardups" ->
      s"""WITH $normalizedCte,
         |$derivedParCte,
         |c0 AS (SELECT vec_id AS cid, u AS cu FROM e WHERE vec_id < (SELECT k FROM kk)),
         |s1 AS (SELECT e.vec_id, e.u, c.cid, list_dot_product(e.u, c.cu) AS cs
         |       FROM e CROSS JOIN c0 c),
         |a1 AS (SELECT vec_id, u, cid FROM (
         |         SELECT vec_id, u, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
         |         FROM s1) WHERE rn = 1),
         |ux AS (SELECT cid, unnest(u) AS x, unnest(range(0, len(u))) AS pos FROM a1),
         |mx AS (SELECT cid, pos,
         |         SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS sx,
         |         COUNT(*) AS cnt
         |       FROM ux GROUP BY cid, pos),
         |cm AS (SELECT cid, list(CAST(sx AS DOUBLE) / (cnt * 1000000.0) ORDER BY pos) AS cv
         |       FROM mx GROUP BY cid),
         |c1 AS (SELECT cid, ${unitSql("cv")} AS cu
         |       FROM cm),
         |s2 AS (SELECT e.vec_id, c.cid, list_dot_product(e.u, c.cu) AS cs
         |       FROM e CROSS JOIN c1 c),
         |a2 AS (SELECT vec_id, cid FROM (
         |         SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
         |         FROM s2) WHERE rn = 1),
         |t AS (SELECT a2.vec_id, CAST(a2.cid AS BIGINT) AS cluster_id, e.u
         |      FROM a2 JOIN e USING (vec_id))
         |SELECT x.cluster_id, x.vec_id AS vec_a, y.vec_id AS vec_b,
         |  list_dot_product(x.u, y.u) AS cosine
         |FROM t x JOIN t y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
         |WHERE list_dot_product(x.u, y.u) >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin,

    "q94_minhash_estimate" ->
      s"""WITH ${shinglesCte(3)},
         |hashed AS (SELECT doc_id, ${hash32Sql("shingle")} AS h FROM sh),
         |params AS (SELECT i, CAST(2*i+3 AS BIGINT) AS a, CAST(104729*(i+1) AS BIGINT) AS b
         |           FROM (SELECT unnest(range(0, 16)) AS i)),
         |sigs AS (SELECT doc_id, i, min((a*h+b) % 2147483647) AS sig
         |         FROM hashed CROSS JOIN params GROUP BY doc_id, i),
         |buckets AS (SELECT doc_id, i // 4 AS band,
         |                   string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i) AS bucket
         |            FROM sigs GROUP BY doc_id, i // 4),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM buckets x JOIN buckets y
         |           ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |agree AS (SELECT c.doc_a, c.doc_b,
         |                 count(CASE WHEN pa.sig = pb.sig THEN 1 END) AS m
         |          FROM cand c JOIN sigs pa ON pa.doc_id = c.doc_a
         |                      JOIN sigs pb ON pb.doc_id = c.doc_b AND pb.i = pa.i
         |          GROUP BY c.doc_a, c.doc_b),
         |inter AS (SELECT doc_a, doc_b, count(*) AS inter
         |          FROM cand JOIN sh sa ON doc_a = sa.doc_id
         |                    JOIN sh sb ON doc_b = sb.doc_id AND sa.shingle = sb.shingle
         |          GROUP BY doc_a, doc_b),
         |j AS (SELECT doc_a, doc_b,
         |             CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard
         |      FROM inter JOIN cnt ca ON doc_a = ca.doc_id
         |                 JOIN cnt cb ON doc_b = cb.doc_id)
         |SELECT j.doc_a, j.doc_b, CAST(m AS DOUBLE) / 16 AS est_jaccard, j.jaccard,
         |  abs(CAST(m AS DOUBLE) / 16 - j.jaccard) AS abs_err
         |FROM j JOIN agree ON j.doc_a = agree.doc_a AND j.doc_b = agree.doc_b
         |WHERE j.jaccard >= 0.5
         |ORDER BY j.doc_a, j.doc_b""".stripMargin,

    "q123_dedup_minhash_estver" ->
      s"""WITH ${shinglesCte(3)},
         |hashed AS (SELECT doc_id, ${hash32Sql("shingle")} AS h FROM sh),
         |params AS (SELECT i, CAST(2*i+3 AS BIGINT) AS a, CAST(104729*(i+1) AS BIGINT) AS b
         |           FROM (SELECT unnest(range(0, 16)) AS i)),
         |sigs AS (SELECT doc_id, i, min((a*h+b) % 2147483647) AS sig
         |         FROM hashed CROSS JOIN params GROUP BY doc_id, i),
         |buckets AS (SELECT doc_id, i // 4 AS band,
         |                   string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i) AS bucket
         |            FROM sigs GROUP BY doc_id, i // 4),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM buckets x JOIN buckets y
         |           ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |agree AS (SELECT c.doc_a, c.doc_b,
         |                 count(CASE WHEN pa.sig = pb.sig THEN 1 END) AS m
         |          FROM cand c JOIN sigs pa ON pa.doc_id = c.doc_a
         |                      JOIN sigs pb ON pb.doc_id = c.doc_b AND pb.i = pa.i
         |          GROUP BY c.doc_a, c.doc_b)
         |SELECT doc_a, doc_b, CAST(m AS DOUBLE) / 16 AS est_jaccard
         |FROM agree WHERE CAST(m AS DOUBLE) / 16 >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q126_incremental_minhash" ->
      s"""WITH ${shinglesCte(3)},
         |hashed AS (SELECT doc_id, ${hash32Sql("shingle")} AS h FROM sh),
         |params AS (SELECT i, CAST(2*i+3 AS BIGINT) AS a, CAST(104729*(i+1) AS BIGINT) AS b
         |           FROM (SELECT unnest(range(0, 16)) AS i)),
         |sigs AS (SELECT doc_id, i, min((a*h+b) % 2147483647) AS sig
         |         FROM hashed CROSS JOIN params GROUP BY doc_id, i),
         |buckets AS (SELECT doc_id, i // 4 AS band,
         |                   string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i) AS bucket
         |            FROM sigs GROUP BY doc_id, i // 4),
         |newb AS (SELECT * FROM buckets
         |         WHERE ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 100 >= 80),
         |cand AS (SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
         |                greatest(x.doc_id, y.doc_id) AS doc_b
         |         FROM buckets x JOIN newb y
         |           ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id <> y.doc_id),
         |agree AS (SELECT c.doc_a, c.doc_b,
         |                 count(CASE WHEN pa.sig = pb.sig THEN 1 END) AS m
         |          FROM cand c JOIN sigs pa ON pa.doc_id = c.doc_a
         |                      JOIN sigs pb ON pb.doc_id = c.doc_b AND pb.i = pa.i
         |          GROUP BY c.doc_a, c.doc_b)
         |SELECT doc_a, doc_b, CAST(m AS DOUBLE) / 16 AS est_jaccard
         |FROM agree WHERE CAST(m AS DOUBLE) / 16 >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    // EP5 loop replay: the q126 estimator pipeline with the grow-only
    // day split (added = doc_id % 5 = 0) — pairs touching an added
    // doc, which is exactly what the incremental loop must emit
    "q151_daily_incremental" ->
      s"""WITH ${shinglesCte(3)},
         |hashed AS (SELECT doc_id, ${hash32Sql("shingle")} AS h FROM sh),
         |params AS (SELECT i, CAST(2*i+3 AS BIGINT) AS a, CAST(104729*(i+1) AS BIGINT) AS b
         |           FROM (SELECT unnest(range(0, 16)) AS i)),
         |sigs AS (SELECT doc_id, i, min((a*h+b) % 2147483647) AS sig
         |         FROM hashed CROSS JOIN params GROUP BY doc_id, i),
         |buckets AS (SELECT doc_id, i // 4 AS band,
         |                   string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i) AS bucket
         |            FROM sigs GROUP BY doc_id, i // 4),
         |newb AS (SELECT * FROM buckets WHERE doc_id % 5 = 0),
         |cand AS (SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
         |                greatest(x.doc_id, y.doc_id) AS doc_b
         |         FROM buckets x JOIN newb y
         |           ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id <> y.doc_id),
         |agree AS (SELECT c.doc_a, c.doc_b,
         |                 count(CASE WHEN pa.sig = pb.sig THEN 1 END) AS m
         |          FROM cand c JOIN sigs pa ON pa.doc_id = c.doc_a
         |                      JOIN sigs pb ON pb.doc_id = c.doc_b AND pb.i = pa.i
         |          GROUP BY c.doc_a, c.doc_b)
         |SELECT doc_a, doc_b, CAST(m AS DOUBLE) / 16 AS est_jaccard
         |FROM agree WHERE CAST(m AS DOUBLE) / 16 >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Edit+compact cycle on signature state: post-compaction ≡ fresh
    // full build on the current corpus (the tampered day-0 is
    // invisible to the oracle by construction)
    "q156_compact_signatures" -> compactedSigsOracleSql,

    // Edit+compact+re-append cycle on the IVF index: the healed index
    // answers probes exactly like an inline build over the current
    // corpus — q121's oracle shape at (nQueries=8, k=6, nprobe=3)
    "q157_compact_ivf" ->
      s"""WITH $normalizedCte,
         |cents AS (SELECT vec_id AS cid, u AS cu FROM e WHERE vec_id < 16),
         |ranked AS (
         |  SELECT e.vec_id, e.u, c.cid,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                            ORDER BY list_dot_product(e.u, c.cu) DESC, c.cid) AS crn
         |  FROM e CROSS JOIN cents c),
         |assign AS (SELECT vec_id, u, cid AS cell FROM ranked WHERE crn = 1),
         |qprobe AS (SELECT vec_id AS qid, u AS qu, cid AS cell FROM ranked
         |           WHERE vec_id < 8 AND crn <= 3),
         |scored AS (
         |  SELECT q.qid, a.vec_id AS nid, list_dot_product(q.qu, a.u) AS cosine
         |  FROM assign a JOIN qprobe q ON a.cell = q.cell AND a.vec_id <> q.qid),
         |topk AS (SELECT qid, nid, cosine,
         |                ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
         |         FROM scored)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, cosine FROM topk
         |WHERE rnk <= 6 ORDER BY qid, rnk""".stripMargin,

    // DSIR replay: portable-hashed token buckets, add-1-smoothed
    // target/source bucket unigrams, decimal-accumulated per-doc
    // log-likelihood-ratio sums (the q69/q82 discipline)
    "q152_dsir_weights" -> dsirOracleSql(resampleK = None),
    "q153_dsir_resample" -> dsirOracleSql(resampleK = Some(40)),
    "q176_dsir_token_budget" -> dsirBudgetOracleSql(tokenBudget = 4000L),
    "q177_dsir_mixture_budget" -> dsirMixtureOracleSql(
      Seq("src1" -> 600L, "src19" -> 300L, "src7" -> 900L)),
    // bigram feature order: same generator, 2-gram token windowing;
    // the persisted form shares it verbatim (state round-trip must be
    // hash-invisible, the q155 rule)
    "q158_dsir_bigram_weights" -> dsirOracleSql(resampleK = None, ngram = 2),
    "q159_dsir_bigram_persisted" -> dsirOracleSql(resampleK = None, ngram = 2),

    // EP6 curation replay: q74's keep-best chain selects the cluster
    // representatives, q102's integer logit gates them, and the DSIR
    // chain (re-rooted at the kept corpus) allocates the final top-40
    "q154_curated_selection" ->
      s"""WITH RECURSIVE $curationKeptCtes,
         |${dsirCtes("kept")},
         |${dsirResampleTail(40)}""".stripMargin,

    "q95_ngram_novelty" ->
      s"""WITH ${shinglesCte(3)},
         |own AS (SELECT doc_id,
         |               min(doc_id) OVER (PARTITION BY shingle) AS first_doc
         |        FROM sh)
         |SELECT doc_id, count(*) AS n_grams,
         |  count(CASE WHEN first_doc = doc_id THEN 1 END) AS n_novel,
         |  CAST(count(CASE WHEN first_doc = doc_id THEN 1 END) AS DOUBLE) / count(*) AS novelty
         |FROM own GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q96_knn_classify" ->
      s"""WITH $normalizedCte,
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |el AS (SELECT e.vec_id, e.u, l.label FROM e JOIN lab l USING (vec_id)),
         |scored AS (SELECT q.vec_id AS qid, q.label AS true_label, t.label AS label,
         |                  t.vec_id AS nid, list_dot_product(q.u, t.u) AS cosine
         |           FROM el q JOIN el t ON q.vec_id < 50 AND t.vec_id >= 50),
         |rk AS (SELECT qid, true_label, label,
         |              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
         |       FROM scored),
         |votes AS (SELECT qid, true_label, label, count(*) AS votes
         |          FROM rk WHERE rnk <= 5 GROUP BY 1, 2, 3),
         |pick AS (SELECT qid, true_label, label, votes,
         |                ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS vr
         |         FROM votes)
         |SELECT qid, true_label, label AS pred_label, votes
         |FROM pick WHERE vr = 1 ORDER BY qid""".stripMargin,

    "q102_quality_logit" ->
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w,
        |             CAST(length(text) AS BIGINT) AS nc FROM documents),
        |f AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
        |             CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq, nc
        |      FROM t WHERE len(w) >= 1),
        |g AS (SELECT doc_id, n_uniq * 1000000 // n_tok AS ttr_fp,
        |             nc * 1000000 // n_tok AS len_fp, n_tok FROM f),
        |l AS (SELECT doc_id, ttr_fp, len_fp, n_tok,
        |             (2 * ttr_fp) // 1000 + (1 * len_fp) // 1000 + 10 * n_tok - 7000 AS logit_fp
        |      FROM g)
        |SELECT doc_id, ttr_fp, len_fp, n_tok, logit_fp,
        |  CAST(CASE WHEN logit_fp >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM l ORDER BY doc_id""".stripMargin,

    "q103_cross_source_dups" ->
      s"""WITH ${cappedShinglesCte(3, 20)},
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b,
         |        CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard
         |      FROM inter
         |      JOIN cnt ca ON doc_a = ca.doc_id
         |      JOIN cnt cb ON doc_b = cb.doc_id
         |      WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
         |s AS (SELECT j.jaccard, da.source AS src_a, db.source AS src_b
         |      FROM j JOIN documents da ON j.doc_a = da.doc_id
         |             JOIN documents db ON j.doc_b = db.doc_id)
         |SELECT least(src_a, src_b) AS source_lo, greatest(src_a, src_b) AS source_hi,
         |  count(*) AS n_pairs, max(jaccard) AS max_jaccard
         |FROM s GROUP BY 1, 2
         |ORDER BY n_pairs DESC, source_lo, source_hi""".stripMargin,

    // NULL values excluded, matching Profile.cdfQuantiles' contract
    // (opposite default null orderings would otherwise split engines)
    "q104_cdf_quantiles" ->
      """WITH c AS (SELECT event_type,
        |             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cent
        |           FROM events WHERE value IS NOT NULL),
        |g AS (SELECT event_type, cent, count(*) AS n FROM c GROUP BY 1, 2),
        |cum AS (SELECT event_type, cent,
        |          SUM(n) OVER (PARTITION BY event_type ORDER BY cent) AS cum,
        |          SUM(n) OVER (PARTITION BY event_type) AS total
        |        FROM g),
        |p AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS p)
        |SELECT cum.event_type, p.p, min(cum.cent) AS q_cents
        |FROM cum JOIN p ON cum.cum * 100 >= p.p * cum.total
        |GROUP BY 1, 2 ORDER BY event_type, p""".stripMargin,

    "q105_inverted_index" ->
      """WITH toks AS (SELECT DISTINCT doc_id,
        |                unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |              FROM documents),
        |r AS (SELECT term, doc_id,
        |        ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rnk,
        |        COUNT(*) OVER (PARTITION BY term) AS df
        |      FROM toks),
        |agg AS (SELECT term, df, CAST((rnk - 1) // 100 AS BIGINT) AS shard,
        |          string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |        FROM r
        |        WHERE df <= (SELECT count(*) * 4 // 5 FROM documents)
        |        GROUP BY 1, 2, 3)
        |SELECT term, df, shard, postings FROM agg
        |ORDER BY term, shard""".stripMargin,

    // Integer lane arithmetic end-to-end (see Similarity
    // .labelCentroidDrift): micro-unit lane sums -> quantized mean
    // lanes mq/gq (i64) -> norms and dot as exact i64 sums over lane
    // rows. Every float op is a per-row scalar on exact integer
    // operands, so Spark and DuckDB agree bit-for-bit regardless of
    // aggregation order.
    "q106_label_centroid_drift" ->
      s"""WITH $normalizedCte,
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |ux AS (SELECT l.label, unnest(e.u) AS x, unnest(range(0, len(e.u))) AS pos
         |       FROM e JOIN lab l USING (vec_id)),
         |mx AS (SELECT label, pos,
         |         SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS sx,
         |         COUNT(*) AS cnt
         |       FROM ux GROUP BY label, pos),
         |lm AS (SELECT label, pos, cnt,
         |         CAST(floor(CAST(sx AS DOUBLE) / cnt + 0.5) AS BIGINT) AS mq
         |       FROM mx),
         |gm AS (SELECT pos, SUM(sx) AS sx, SUM(cnt) AS cnt FROM mx GROUP BY pos),
         |gq AS (SELECT pos, CAST(floor(CAST(sx AS DOUBLE) / cnt + 0.5) AS BIGINT) AS gq
         |       FROM gm),
         |gn AS (SELECT SUM(gq * gq) AS gnrm2 FROM gq),
         |pl AS (SELECT label, MAX(cnt) AS n_members,
         |         SUM(mq * mq) AS nrm2, SUM(mq * gq) AS dot
         |       FROM lm JOIN gq USING (pos) GROUP BY label)
         |SELECT label, n_members,
         |  CAST(floor(CAST(dot AS DOUBLE) /
         |    ((CASE WHEN nrm2 = 0 THEN 1000000.0 ELSE sqrt(CAST(nrm2 AS DOUBLE)) END) *
         |     (CASE WHEN gnrm2 = 0 THEN 1000000.0 ELSE sqrt(CAST(gnrm2 AS DOUBLE)) END))
         |    * 1000000.0 + 0.5) AS BIGINT) AS drift_fp
         |FROM pl CROSS JOIN gn ORDER BY label""".stripMargin,

    "q110_stream_dedup_daily" ->
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    // q191: the overlapping daily pulls re-deliver interior days' rows
    // twice; healed output must equal the clean batch daily counts over
    // the same capped window — the q110 oracle restricted to the first
    // 8 event days
    "q191_overlap_repull_dedup" ->
      """WITH lo AS (SELECT min(CAST(ts AS TIMESTAMP)) AS t0 FROM events)
        |SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, count(*) AS n_events
        |FROM events, lo WHERE CAST(ts AS TIMESTAMP) < t0 + INTERVAL 8 DAY
        |GROUP BY 1 ORDER BY day""".stripMargin,

    "q111_next_event_examples" ->
      """SELECT user_id, event_id,
        |  concat_ws(',',
        |    COALESCE(lag(event_type, 3) OVER w, '-'),
        |    COALESCE(lag(event_type, 2) OVER w, '-'),
        |    COALESCE(lag(event_type, 1) OVER w, '-')) AS context,
        |  event_type AS label
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "q112_logit_fit_gd" -> logitGdOracleSql(iters = 3, lrNum = 1L, lrDen = 5L),

    // BPE replays (shared generator): q130 emits the merge table,
    // q131 applies every merge and emits the token histogram.
    "q130_bpe_merges" -> bpeOracleSql(merges = 4, encode = false),
    "q185_bpe_batched" -> bpeBatchedOracleSql(rounds = 4, batch = 3),
    "q186_bpe_batched_pipeline" -> bpeBatchedPipelineOracleSql(rounds = 4,
      batch = 3, budget = 100, docLimit = 50),
    "q131_bpe_encode" -> bpeOracleSql(merges = 4, encode = true),
    // same train+encode prefix; docs whose text tokenizes to nothing
    // still count toward n_docs (LEFT JOIN + COALESCE on both engines)
    "q190_tokenizer_fertility" ->
      s"""WITH RECURSIVE ${bpeEncodePrefixSql(4, "TRUE")},
         |tok AS (SELECT dt.doc_id, CAST(SUM(len(wid.ids)) AS BIGINT) AS n_tokens
         |        FROM dt JOIN wid USING (w) GROUP BY dt.doc_id)
         |SELECT d.lang,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(COALESCE(t.n_tokens, 0)) AS BIGINT) AS bpe_tokens,
         |  CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
         |  CAST(SUM(COALESCE(t.n_tokens, 0)) AS DOUBLE)
         |    / CAST(SUM(d.n_chars) AS DOUBLE) AS tokens_per_char
         |FROM documents d LEFT JOIN tok t USING (doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "q169_tokenize_pack" -> bpeIdsOracleSql(merges = 4, size = 40, budget = 100,
      docLimit = 50),
    // encode-from-persisted-vocab must be indistinguishable from the
    // inline train+encode on the training corpus: q169's oracle
    // verbatim
    "q171_tokenize_from_vocab" -> bpeIdsOracleSql(merges = 4, size = 40,
      budget = 100, docLimit = 50),
    // the loop-fed encoded state over the current corpus must be
    // indistinguishable from a one-shot encode: q169's oracle verbatim
    "q173_daily_tokenize_loop" -> bpeIdsOracleSql(merges = 4, size = 40,
      budget = 100, docLimit = 50),
    "q172_concat_cut_pack" -> concatCutOracleSql(merges = 4, budget = 100,
      docLimit = 50),
    // EP7 end-to-end: the q154 curation chain picks the docs, the
    // full-corpus-trained BPE spells them, the q172 cut packs them —
    // every stage replayed from its own shared CTE definition
    "q174_curated_sequences" -> curatedSequencesOracleSql(merges = 4,
      budget = 100, k = 40),
    // the separator-terminated stream: the same encode prefix with one
    // appended EOS id per document, then the shared cut tail
    "q182_concat_cut_sep" ->
      s"""WITH ${bpeEncodePrefixSql(4, "doc_id < 50")},
         |dencs AS (SELECT doc_id, list_append(ids, CAST(1000000 AS BIGINT)) AS ids
         |          FROM denc),
         |${concatCutTailSql(100, from = "dencs")}""".stripMargin,
    // the materialized shards: the same encode prefix and the same
    // cut CTEs as q172's boundary table, assembled to full
    // per-sequence token arrays, projected as CSV strings — the
    // harness row-sort cannot factorize raw array columns, so both
    // sides emit the injective string join instead
    "q183_packed_shards" ->
      s"""WITH ${bpeEncodePrefixSql(4, "doc_id < 50")},
         |${packedShardsTailSql(100)}""".stripMargin,
    // the self-contained shard rows: same cut, spans inline
    "q187_shards_spans" ->
      s"""WITH ${bpeEncodePrefixSql(4, "doc_id < 50")},
         |${shardsSpansTailSql(100)}""".stripMargin,
    // the stream-fed encoded state over the full corpus must be
    // indistinguishable from the inline train+encode: q169's oracle
    // verbatim
    "q175_stream_encoded_ingest" -> bpeIdsOracleSql(merges = 4, size = 40,
      budget = 100, docLimit = 50),

    // q170: every manifest field is derivable from the staged diff —
    // counts from the fixture arithmetic, liveness = the current
    // corpus (the turn healed to it), tombstones = changed + removed
    // rows (each provably tombstoned: stale drafts are full rewrites),
    // fraction under the 0.1 gate so no tier compacted
    "q170_run_manifest" ->
      """WITH d AS (SELECT
        |    (SELECT count(*) FROM documents WHERE doc_id % 5 = 0) AS n_added,
        |    (SELECT count(*) FROM documents WHERE doc_id % 35 = 7 AND doc_id % 5 <> 0) AS n_changed,
        |    (SELECT count(*) FROM documents WHERE doc_id < 30) AS n_removed,
        |    (SELECT count(*) FROM documents) AS n_docs,
        |    (SELECT count(*) FROM embeddings) AS n_vecs)
        |SELECT CAST(1 AS BIGINT) AS turn_seq, 'day-1' AS run_id,
        |  CAST(n_added AS BIGINT) AS docs_added,
        |  CAST(n_changed AS BIGINT) AS docs_changed,
        |  CAST(n_removed AS BIGINT) AS docs_removed,
        |  CAST(0 AS BIGINT) AS emb_added,
        |  CAST(0 AS BIGINT) AS emb_changed,
        |  CAST(0 AS BIGINT) AS emb_removed,
        |  CAST(n_docs AS BIGINT) AS sig_live,
        |  CAST(n_changed + n_removed AS BIGINT) AS sig_tombs,
        |  CAST(n_changed + n_removed AS DOUBLE) / n_docs AS sig_frac,
        |  FALSE AS sig_compacted,
        |  CAST(n_vecs AS BIGINT) AS ivf_live,
        |  CAST(0 AS BIGINT) AS ivf_tombs,
        |  CAST(0.0 AS DOUBLE) AS ivf_frac,
        |  FALSE AS ivf_compacted,
        |  CAST(-1 AS BIGINT) AS pq_live,
        |  CAST(-1 AS BIGINT) AS pq_tombs,
        |  CAST(-1.0 AS DOUBLE) AS pq_frac,
        |  FALSE AS pq_compacted,
        |  CAST(-1 AS BIGINT) AS enc_live,
        |  CAST(-1 AS BIGINT) AS enc_tombs,
        |  CAST(-1.0 AS DOUBLE) AS enc_frac,
        |  FALSE AS enc_compacted
        |FROM d""".stripMargin,

    // null-day contract (ApproxDistinct.dayHashes): ts-NULL rows belong
    // to no day and are excluded from the whole tier — daily rows, the
    // ALL merge, and cumulative prefixes — so rows always reconcile
    "q113_kmv_distinct" -> {
      val k = 64
      s"""WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
         |           FROM events WHERE ts IS NOT NULL),
         |hs AS (SELECT DISTINCT day, h FROM (
         |    SELECT day, ${hash32Sql("CAST(user_id AS VARCHAR)")} AS h FROM e)
         |  WHERE h IS NOT NULL),
         |kept AS (SELECT day, h FROM (
         |    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rnk FROM hs)
         |  WHERE rnk <= $k),
         |daily AS (SELECT day, count(*) AS n_kept, max(h) AS kth_hash FROM kept GROUP BY day),
         |exact AS (SELECT day, count(DISTINCT user_id) AS exact_distinct FROM e GROUP BY day),
         |d AS (SELECT CAST(day AS VARCHAR) AS day_label, n_kept, kth_hash,
         |        CASE WHEN n_kept < $k THEN CAST(n_kept AS DOUBLE)
         |             ELSE CAST(${k - 1} * 4294967296 AS DOUBLE) / kth_hash END AS approx_distinct,
         |        exact_distinct
         |      FROM daily JOIN exact USING (day)),
         |mh AS (SELECT DISTINCT h FROM kept),
         |mkept AS (SELECT h FROM (
         |    SELECT h, row_number() OVER (ORDER BY h) AS rnk FROM mh) WHERE rnk <= $k),
         |m AS (SELECT count(*) AS n_kept, max(h) AS kth_hash FROM mkept),
         |ma AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM e),
         |mrow AS (SELECT 'ALL' AS day_label, n_kept, kth_hash,
         |        CASE WHEN n_kept < $k THEN CAST(n_kept AS DOUBLE)
         |             ELSE CAST(${k - 1} * 4294967296 AS DOUBLE) / kth_hash END AS approx_distinct,
         |        exact_distinct
         |      FROM m CROSS JOIN ma)
         |SELECT * FROM d UNION ALL SELECT * FROM mrow ORDER BY day_label""".stripMargin
    },

    "q128_cms_heavy_hitters" -> cmsHeavyHittersSql(depth = 4, width = 512, topN = 20),

    // streaming twin of q128: the drained transformWithState cells are
    // the same order-independent sums, so the oracle is shared verbatim
    "q147_stream_heavy_hitters" -> cmsHeavyHittersSql(depth = 4, width = 512, topN = 20),

    // snapshot diff replay: fingerprint = md5 over the value columns
    // joined on chr(1), byte-identical in both engines; the full-outer
    // status cases mirror Snapshot.diff verbatim
    "q149_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, md5(concat_ws(chr(1), text, lang)) AS oh
        |           FROM documents WHERE doc_id < 400),
        |n0 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END AS text,
        |         lang
        |       FROM documents WHERE doc_id >= 100),
        |n AS (SELECT doc_id, md5(concat_ws(chr(1), text, lang)) AS nh FROM n0),
        |d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |        CASE WHEN o.oh IS NULL THEN 'added'
        |             WHEN n.nh IS NULL THEN 'removed'
        |             WHEN o.oh <> n.nh THEN 'changed'
        |             ELSE 'unchanged' END AS status
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id, status FROM d WHERE status <> 'unchanged'
        |ORDER BY status, doc_id""".stripMargin,

    // rolling quantiles replayed from scratch: the per-(day, cent)
    // partial is a plain count, so DuckDB rebuilds the identical
    // merged CDF and the type-1 quantile walk matches in i64
    "q148_rolling_value_quantiles" ->
      """WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cent
        |           FROM events
        |           WHERE event_type = 'purchase' AND value IS NOT NULL),
        |parts AS (SELECT day, cent, count(*) AS n FROM e GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM parts),
        |merged AS (SELECT d.day, s.cent, sum(s.n) AS n
        |           FROM parts s JOIN days d
        |             ON s.day <= d.day AND s.day >= d.day - 6
        |           GROUP BY 1, 2),
        |cum AS (SELECT day, cent,
        |          SUM(n) OVER (PARTITION BY day ORDER BY cent) AS cum,
        |          SUM(n) OVER (PARTITION BY day) AS total
        |        FROM merged),
        |p AS (SELECT CAST(unnest([50, 90]) AS BIGINT) AS p)
        |SELECT cum.day, p.p, min(cum.cent) AS q_cents
        |FROM cum JOIN p ON cum.cum * 100 >= p.p * cum.total
        |GROUP BY 1, 2 ORDER BY day, p""".stripMargin,

    "q125_kmv_cumulative" -> {
      val k = 64
      s"""WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
         |           FROM events WHERE ts IS NOT NULL),
         |hs AS (SELECT DISTINCT day, h FROM (
         |    SELECT day, ${hash32Sql("CAST(user_id AS VARCHAR)")} AS h FROM e)
         |  WHERE h IS NOT NULL),
         |kept AS (SELECT day, h FROM (
         |    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rnk FROM hs)
         |  WHERE rnk <= $k),
         |days AS (SELECT DISTINCT day FROM kept),
         |cum AS (SELECT DISTINCT d.day, kp.h
         |        FROM kept kp JOIN days d ON kp.day <= d.day),
         |ckept AS (SELECT day, h FROM (
         |    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rnk FROM cum)
         |  WHERE rnk <= $k),
         |est AS (SELECT day, count(*) AS n_kept, max(h) AS kth_hash FROM ckept GROUP BY day),
         |firstd AS (SELECT user_id, min(day) AS fd FROM e
         |           WHERE user_id IS NOT NULL GROUP BY user_id),
         |fdc AS (SELECT fd, count(*) AS n_new FROM firstd GROUP BY fd),
         |exactc AS (SELECT d.day, CAST(sum(n_new) AS BIGINT) AS exact_distinct
         |           FROM days d JOIN fdc ON fd <= d.day GROUP BY d.day)
         |SELECT CAST(day AS VARCHAR) AS day, n_kept, kth_hash,
         |  CASE WHEN n_kept < $k THEN CAST(n_kept AS DOUBLE)
         |       ELSE CAST(${k - 1} * 4294967296 AS DOUBLE) / kth_hash END AS approx_distinct,
         |  exact_distinct
         |FROM est JOIN exactc USING (day)
         |ORDER BY day""".stripMargin
    },

    // the connector feeds CONSTANT payloads, so the oracle is the
    // literal expected flatten output — null-default battery included
    "q114_api_connector_flatten" ->
      """SELECT * FROM (VALUES
        |  ('Artist One', 'Song One', CAST(90 AS INTEGER), CAST(200000 AS BIGINT), false,
        |   'https://open/t1', 'https://p/t1', 'Album One', '2001-01-01', 't1'),
        |  ('Artist One', 'Song Two', CAST(0 AS INTEGER), CAST(180000 AS BIGINT), false,
        |   '', '', 'Album Two', '2002-02-02', 't2'),
        |  ('Unknown', 'Song Three', CAST(5 AS INTEGER), CAST(1000 AS BIGINT), false,
        |   '', '', 'Unknown', '', 't3'),
        |  ('Artist Two', 'Song Four', CAST(70 AS INTEGER), CAST(240000 AS BIGINT), true,
        |   'https://open/t4', 'https://p/t4', 'Album Four', '2004-04-04', 't4'))
        | AS t(artist_name, song_name, popularity, duration_ms, explicit,
        |      external_url, preview_url, album_name, release_date, track_id)
        |ORDER BY track_id""".stripMargin,

    // same fixture through the microbatch tier: identical rows
    "q122_api_connector_stream" ->
      """SELECT * FROM (VALUES
        |  ('Artist One', 'Song One', CAST(90 AS INTEGER), CAST(200000 AS BIGINT), false,
        |   'https://open/t1', 'https://p/t1', 'Album One', '2001-01-01', 't1'),
        |  ('Artist One', 'Song Two', CAST(0 AS INTEGER), CAST(180000 AS BIGINT), false,
        |   '', '', 'Album Two', '2002-02-02', 't2'),
        |  ('Unknown', 'Song Three', CAST(5 AS INTEGER), CAST(1000 AS BIGINT), false,
        |   '', '', 'Unknown', '', 't3'),
        |  ('Artist Two', 'Song Four', CAST(70 AS INTEGER), CAST(240000 AS BIGINT), true,
        |   'https://open/t4', 'https://p/t4', 'Album Four', '2004-04-04', 't4'))
        | AS t(artist_name, song_name, popularity, duration_ms, explicit,
        |      external_url, preview_url, album_name, release_date, track_id)
        |ORDER BY track_id""".stripMargin,

    // constant solid-color images -> constant decode output
    "q115_multimodal_decode" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(1.0 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(5 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(0.299 AS DOUBLE)),
        |  (CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(0.114 AS DOUBLE)))
        | AS t(media_id, width, height, channels, brightness)
        |ORDER BY media_id""".stripMargin,

    // constant PCM -> exact decode constants (dyadic RMS values)
    "q116_multimodal_audio" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(8000 AS DOUBLE), CAST(1 AS BIGINT), CAST(80 AS BIGINT), CAST(10.0 AS DOUBLE), CAST(0.5 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(16000 AS DOUBLE), CAST(1 AS BIGINT), CAST(320 AS BIGINT), CAST(20.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
        |  (CAST(3 AS BIGINT), CAST(8000 AS DOUBLE), CAST(1 AS BIGINT), CAST(160 AS BIGINT), CAST(20.0 AS DOUBLE), CAST(0.25 AS DOUBLE)))
        | AS t(media_id, sample_rate, channels, n_frames, duration_ms, rms)
        |ORDER BY media_id""".stripMargin,

    // two sampled GIF frames at their display times, constant lumas
    "q117_multimodal_frames" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(0.299 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(100 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(0.114 AS DOUBLE)))
        | AS t(frame_idx, ts_ms, width, height, brightness)
        |ORDER BY frame_idx""".stripMargin,

    // AVI frame-walk metadata: exact index/time/dimensions (JPEG lossy
    // pixels excluded by construction)
    "q118_multimodal_avi" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(40 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT)))
        | AS t(frame_idx, ts_ms, width, height)
        |ORDER BY frame_idx""".stripMargin,

    // constant log lines -> exact parsed rows + quarantine counts
    "q120_textlog_parse" ->
      """SELECT * FROM (VALUES
        |  (CAST(1767323045000000 AS BIGINT), 'ERROR', 'disk full on /data', CAST(4 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT)),
        |  (CAST(1767323046000000 AS BIGINT), 'INFO', 'retrying write', CAST(4 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT)),
        |  (CAST(1767323100000000 AS BIGINT), 'WARN', 'slow response 2.3s', CAST(4 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT)))
        | AS t(ts_us, level, message, n_lines, n_parsed, n_malformed)
        |ORDER BY ts_us""".stripMargin,

    // solid colors through bilinear downscale: exact dims + luma
    "q119_multimodal_resize" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(0.299 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE)),
        |  (CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(0.114 AS DOUBLE)))
        | AS t(media_id, width, height, brightness)
        |ORDER BY media_id""".stripMargin,

    "q108_full_outer_daily" ->
      """WITH c AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n_errors
        |           FROM events WHERE event_type = 'error' AND value > 150 GROUP BY 1),
        |p AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n_purchases
        |      FROM events WHERE event_type = 'purchase' AND value > 200 GROUP BY 1)
        |SELECT COALESCE(c.day, p.day) AS day,
        |  COALESCE(c.n_errors, 0) AS n_errors,
        |  COALESCE(p.n_purchases, 0) AS n_purchases,
        |  CASE WHEN c.day IS NULL THEN 'purchase_only'
        |       WHEN p.day IS NULL THEN 'error_only'
        |       ELSE 'both' END AS presence
        |FROM c FULL JOIN p ON c.day = p.day
        |ORDER BY day""".stripMargin,

    "q109_range_window_7d" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS trailing_n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS trailing_sum
        |FROM events WHERE user_id < 30
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    // shared with q146: the timer-based transformWithState processor
    // implements the SAME gap rule, so both check against one batch
    // sessionization (the q139/q143 oracle-sharing pattern)
    "q107_stream_session_windows" -> gapSessionOracleSql(),

    "q97_embedding_outliers" ->
      s"""WITH $normalizedCte,
         |ux AS (SELECT unnest(u) AS x, unnest(range(0, len(u))) AS pos FROM e),
         |mx AS (SELECT pos, SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS sx,
         |              COUNT(*) AS cnt
         |       FROM ux GROUP BY pos),
         |cm AS (SELECT list(CAST(sx AS DOUBLE) / (cnt * 1000000.0) ORDER BY pos) AS cv FROM mx),
         |c1 AS (SELECT ${unitSql("cv")} AS cu FROM cm),
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |scored AS (SELECT e.vec_id,
         |             CAST(floor(list_dot_product(e.u, c.cu) * 1000000.0 + 0.5) AS BIGINT) AS cos_fp
         |           FROM e CROSS JOIN c1 c),
         |r AS (SELECT s.vec_id, l.label, s.cos_fp,
         |             ROW_NUMBER() OVER (ORDER BY s.cos_fp ASC, s.vec_id) AS rnk
         |      FROM scored s JOIN lab l USING (vec_id))
         |SELECT CAST(rnk AS BIGINT) AS rnk, vec_id, label, cos_fp
         |FROM r WHERE rnk <= 50 ORDER BY rnk""".stripMargin,

    "q98_epoch_shuffle" ->
      s"""WITH h AS (SELECT doc_id,
         |             ${hash32Sql("'epoch0:' || CAST(doc_id AS VARCHAR)")} AS hh
         |           FROM documents),
         |s AS (SELECT doc_id, hh, hh % 8 AS shard FROM h)
         |SELECT shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hh, doc_id) AS BIGINT) AS shard_pos,
         |  doc_id
         |FROM s ORDER BY shard, shard_pos""".stripMargin,

    "q99_cluster_purity" ->
      s"""WITH $normalizedCte,
         |c0 AS (SELECT vec_id AS cid, u AS cu FROM e WHERE vec_id < 8),
         |s1 AS (SELECT e.vec_id, e.u, c.cid, list_dot_product(e.u, c.cu) AS cs
         |       FROM e CROSS JOIN c0 c),
         |a1 AS (SELECT vec_id, u, cid FROM (
         |         SELECT vec_id, u, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
         |         FROM s1) WHERE rn = 1),
         |ux AS (SELECT cid, unnest(u) AS x, unnest(range(0, len(u))) AS pos FROM a1),
         |mx AS (SELECT cid, pos,
         |         SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS sx,
         |         COUNT(*) AS cnt
         |       FROM ux GROUP BY cid, pos),
         |cm AS (SELECT cid, list(CAST(sx AS DOUBLE) / (cnt * 1000000.0) ORDER BY pos) AS cv
         |       FROM mx GROUP BY cid),
         |c1 AS (SELECT cid, ${unitSql("cv")} AS cu
         |       FROM cm),
         |s2 AS (SELECT e.vec_id, c.cid, list_dot_product(e.u, c.cu) AS cs
         |       FROM e CROSS JOIN c1 c),
         |a2 AS (SELECT vec_id, cid FROM (
         |         SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
         |         FROM s2) WHERE rn = 1),
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |bl AS (SELECT a2.cid, l.label, count(*) AS n
         |       FROM a2 JOIN lab l USING (vec_id) GROUP BY 1, 2),
         |pk AS (SELECT cid, label, n,
         |              ROW_NUMBER() OVER (PARTITION BY cid ORDER BY n DESC, label) AS rn
         |       FROM bl)
         |SELECT CAST(cid AS BIGINT) AS cluster_id,
         |  CAST(SUM(n) AS BIGINT) AS n_members,
         |  MAX(CASE WHEN rn = 1 THEN label END) AS maj_label,
         |  CAST(MAX(CASE WHEN rn = 1 THEN n END) * 1000000 // SUM(n) AS BIGINT) AS purity_ppm
         |FROM pk GROUP BY cid ORDER BY cluster_id""".stripMargin,

    "q100_dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |              FROM documents),
        |idx AS (SELECT doc_id, w, unnest(range(0, len(w)-7)) AS i FROM toks WHERE len(w) >= 8),
        |sp AS (SELECT doc_id, array_to_string(w[i+1:i+8], ' ') AS span FROM idx)
        |SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  count(*) AS occurrences, min(doc_id) AS first_doc
        |FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, span""".stripMargin,

    "q101_knn_classify_ivf" ->
      s"""WITH $normalizedCte,
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |cents AS (SELECT vec_id AS cid, u AS cu FROM e WHERE vec_id < 16),
         |ranked AS (
         |  SELECT e.vec_id, e.u, c.cid,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                            ORDER BY list_dot_product(e.u, c.cu) DESC, c.cid) AS crn
         |  FROM e CROSS JOIN cents c),
         |train AS (SELECT r.vec_id, r.u, l.label, r.cid AS cell
         |          FROM ranked r JOIN lab l USING (vec_id)
         |          WHERE r.crn = 1 AND r.vec_id >= 50),
         |qprobe AS (SELECT r.vec_id AS qid, r.u AS qu, l.label AS true_label, r.cid AS cell
         |           FROM ranked r JOIN lab l USING (vec_id)
         |           WHERE r.vec_id < 50 AND r.crn <= 4),
         |scored AS (SELECT q.qid, q.true_label, t.label, t.vec_id AS nid,
         |                  list_dot_product(q.qu, t.u) AS cosine
         |           FROM train t JOIN qprobe q ON t.cell = q.cell),
         |rk AS (SELECT qid, true_label, label,
         |              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
         |       FROM scored),
         |votes AS (SELECT qid, true_label, label, count(*) AS votes
         |          FROM rk WHERE rnk <= 5 GROUP BY 1, 2, 3),
         |pick AS (SELECT qid, true_label, label, votes,
         |                ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS vr
         |         FROM votes)
         |SELECT qid, true_label, label AS pred_label, votes
         |FROM pick WHERE vr = 1 ORDER BY qid""".stripMargin,

    "q92_ann_recall_int8" ->
      s"""WITH $normalizedCte,
         |qz AS (SELECT vec_id,
         |         list_transform(u, x -> CAST(floor(x * CAST(127.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS qv
         |       FROM e),
         |ap AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
         |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |           ORDER BY CAST(list_dot_product(q.qv, n.qv) AS BIGINT) DESC, n.vec_id) AS rnk
         |       FROM qz q JOIN qz n ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
         |approx AS (SELECT qid, nid FROM ap WHERE rnk <= 5),
         |ex AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
         |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |           ORDER BY list_dot_product(q.u, n.u) DESC, n.vec_id) AS rnk
         |       FROM e n JOIN e q ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
         |exact AS (SELECT qid, nid FROM ex WHERE rnk <= 5),
         |m AS (SELECT exact.qid, count(*) AS n_matched
         |      FROM exact JOIN approx USING (qid, nid) GROUP BY exact.qid),
         |tot AS (SELECT qid, count(*) AS n_exact FROM exact GROUP BY qid)
         |SELECT t.qid, CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
         |  CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / t.n_exact AS recall
         |FROM tot t LEFT JOIN m USING (qid) ORDER BY qid""".stripMargin,

    "q88_cube" ->
      """SELECT event_type,
        |  CAST(dayofweek(CAST(CAST(ts AS TIMESTAMP) AS DATE)) + 1 AS BIGINT) AS weekday,
        |  count(*) AS n,
        |  CAST(GROUPING(event_type) AS BIGINT) AS g_type
        |FROM events GROUP BY CUBE (event_type, weekday)
        |ORDER BY event_type NULLS FIRST, weekday NULLS FIRST""".stripMargin,

    "q89_zscore" ->
      """WITH s AS (SELECT event_type, count(value) AS n,
        |             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv,
        |             CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS svv
        |           FROM events GROUP BY 1),
        |st AS (SELECT event_type, sv / n AS mu,
        |              sqrt((svv - sv * sv / n) / (n - 1)) AS sd FROM s)
        |SELECT event_id, e.event_type,
        |  CAST(floor((value - mu) / sd * 1000000.0 + 0.5) AS BIGINT) AS z
        |FROM events e JOIN st USING (event_type)
        |WHERE event_id < 200 ORDER BY event_id""".stripMargin,

    "q90_value_histogram" ->
      """SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q48_array_ops" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |              FROM documents WHERE doc_id < 50)
        |SELECT doc_id,
        |  array_to_string(list_sort(w[1:5]), ',') AS first5_sorted,
        |  list_contains(w, 'the') AS has_the,
        |  CAST(COALESCE(list_position(w, 'data'), 0) AS BIGINT) AS data_pos,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
        |FROM toks ORDER BY doc_id""".stripMargin,

    "q49_string_ops" ->
      """SELECT event_id,
        |  lpad(CAST(user_id AS VARCHAR), 6, '0') AS padded_uid,
        |  rpad(event_type, 10, '.') AS padded_type,
        |  reverse(event_type) AS rev_type,
        |  translate(event_type, 'aeiou', 'AEIOU') AS caps_vowels,
        |  upper(event_type) AS upper_type
        |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin,

    "q50_unpivot_daily" ->
      """WITH p AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
        |    count(CASE WHEN event_type = 'view' THEN 1 END) AS views
        |  FROM events GROUP BY 1)
        |SELECT day, 'clicks' AS metric, clicks AS n FROM p
        |UNION ALL
        |SELECT day, 'views' AS metric, views AS n FROM p
        |ORDER BY day, metric""".stripMargin,

    "q52_train_test_split" ->
      s"""SELECT lang,
         |  CASE WHEN ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 100 < 80
         |       THEN 'train' ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(SUM(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(12,2))) AS DOUBLE) AS total_chars
         |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    "q53_per_lang_sample" ->
      s"""SELECT lang, doc_id FROM (
         |  SELECT lang, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY ${hash32Sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
         |  FROM documents) t
         |WHERE rn <= 5 ORDER BY lang, doc_id""".stripMargin,

    "q54_chunking" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |              FROM documents WHERE doc_id < 50),
        |idx AS (SELECT doc_id, w, unnest(range(0, greatest(0, (len(w)-11) // 30) + 1)) AS chunk_idx FROM toks),
        |ch AS (SELECT doc_id, chunk_idx, w[chunk_idx*30 + 1 : chunk_idx*30 + 40] AS cw FROM idx)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(cw) AS BIGINT) AS n_tokens,
        |  array_to_string(cw, ' ') AS chunk
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "q55_redaction" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q56_source_mixture" ->
      s"""SELECT source, count(*) AS n_kept FROM documents
         |WHERE ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 100 <
         |  CASE source WHEN 'src1' THEN 50 WHEN 'src0' THEN 100 ELSE 10 END
         |GROUP BY source ORDER BY source""".stripMargin,

    "q51_sql_correlated" ->
      """SELECT c_custkey, c_name,
        |  (SELECT MAX(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS max_order
        |FROM customer
        |WHERE c_custkey < 200
        |ORDER BY c_custkey""".stripMargin,

    "q33_rollup_totals" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q34_moving_avg" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE)
        |    / COUNT(value) OVER w AS mov_avg
        |FROM events
        |WHERE user_id < 10
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "q35_daily_type_pivot" ->
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS views,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signups,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS errors,
        |  count(*) AS total
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    "q36_vector_stats" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  sqrt(list_dot_product(v, v)) AS l2norm,
        |  list_min(v) AS vmin,
        |  list_max(v) AS vmax
        |FROM (SELECT vec_id, embedding,
        |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings)
        |ORDER BY vec_id""".stripMargin,

    "q37_editdist_pairs" ->
      """WITH heads AS (
        |  SELECT doc_id, substr(text, 1, 30) AS h FROM documents WHERE doc_id < 20)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  levenshtein(a.h, b.h) AS edit_dist
        |FROM heads a JOIN heads b ON a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q38_weekly_summary" ->
      """SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
        |  CAST(extract(month FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS month,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY week, month""".stripMargin,

    "q39_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+')) AS DOUBLE)
        |    / len(string_split_regex(lower(trim(text)), '\s+')) AS bpe_per_ws
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q40_grouping_sets" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(grouping(event_type) AS BIGINT) AS is_total
        |FROM events GROUP BY GROUPING SETS ((event_type), ())
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q41_value_quantiles" ->
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.9) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q42_doc_word_positions" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |              FROM documents WHERE doc_id < 5),
        |idx AS (SELECT doc_id, w, unnest(range(0, len(w))) AS pos FROM toks)
        |SELECT doc_id, pos, w[pos+1] AS word FROM idx
        |ORDER BY doc_id, pos""".stripMargin,

    "q43_user_first_last" ->
      """SELECT DISTINCT user_id,
        |  first_value(event_type) OVER w AS first_type,
        |  last_value(event_type) OVER w AS last_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id""".stripMargin,

    "q44_event_gaps" ->
      """SELECT user_id, event_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER w AS gap_us,
        |  lead(event_type, 1) OVER w AS next_type
        |FROM events WHERE user_id < 10
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "q46_json_roundtrip_flatten" ->
      """SELECT event_id,
        |  COALESCE(event_type, 'Unknown') AS song_name,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') AS played_at,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  COALESCE(value, 0.0) AS value
        |FROM events ORDER BY event_id""".stripMargin,

    // q59/q60 oracles are the direct projections the flatten must
    // reproduce after the build-payload → to_json → from_json →
    // explode → coalesce-defaults round trip.
    "q59_toptracks_flatten" ->
      """SELECT
        |  CASE WHEN event_type <> 'signup' THEN 'Artist ' || CAST(user_id AS VARCHAR) ELSE 'Unknown' END AS artist_name,
        |  CASE WHEN event_type <> 'error' THEN event_type ELSE 'Unknown' END AS song_name,
        |  CAST(user_id AS INTEGER) AS popularity,
        |  (event_id * 7919) % 400000 AS duration_ms,
        |  event_id % 2 = 0 AS explicit,
        |  'https://open/' || lpad(CAST(event_id AS VARCHAR), 6, '0') AS external_url,
        |  CASE WHEN value IS NOT NULL THEN 'https://p/' || lpad(CAST(event_id AS VARCHAR), 6, '0') ELSE '' END AS preview_url,
        |  'Album ' || CAST(user_id AS VARCHAR) AS album_name,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS release_date,
        |  lpad(CAST(event_id AS VARCHAR), 6, '0') AS track_id
        |FROM events WHERE event_id < 2000 ORDER BY track_id""".stripMargin,

    "q192_artist_track_stats" ->
      """WITH flat AS (
        |  SELECT
        |    CASE WHEN event_type <> 'signup' THEN 'Artist ' || CAST(user_id AS VARCHAR) ELSE 'Unknown' END AS artist_name,
        |    CAST(user_id AS INTEGER) AS popularity,
        |    (event_id * 7919) % 400000 AS duration_ms,
        |    lpad(CAST(event_id AS VARCHAR), 6, '0') AS track_id
        |  FROM events WHERE event_id < 2000),
        |stats AS (
        |  SELECT artist_name, CAST(COUNT(*) AS BIGINT) AS n_tracks,
        |         CAST(SUM(popularity) AS DOUBLE) / COUNT(popularity) AS avg_popularity
        |  FROM flat GROUP BY artist_name),
        |top2 AS (
        |  SELECT artist_name, duration_ms, track_id,
        |         ROW_NUMBER() OVER (PARTITION BY artist_name ORDER BY duration_ms DESC, track_id) AS rn
        |  FROM flat)
        |SELECT t.artist_name, s.n_tracks, s.avg_popularity, t.track_id, t.duration_ms
        |FROM top2 t JOIN stats s USING (artist_name)
        |WHERE t.rn <= 2
        |ORDER BY t.artist_name, t.duration_ms DESC, t.track_id""".stripMargin,

    "q193_artist_listening" ->
      """WITH flat AS (
        |  SELECT
        |    CASE WHEN event_type <> 'error' THEN 'Artist ' || CAST(user_id AS VARCHAR) ELSE 'Unknown' END AS artist_name,
        |    CASE WHEN event_type <> 'error' THEN (event_id * 7919) % 400000 ELSE 0 END AS duration_ms,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') AS played_at
        |  FROM events WHERE event_id < 1000)
        |SELECT artist_name, CAST(COUNT(*) AS BIGINT) AS n_plays,
        |  printf('%d:%02d', CAST(SUM(duration_ms) // 60000 AS BIGINT), CAST((SUM(duration_ms) % 60000) // 1000 AS BIGINT)) AS listen_time,
        |  CAST(SUM(duration_ms) AS BIGINT) AS total_ms,
        |  MAX(played_at) AS last_played
        |FROM flat GROUP BY artist_name ORDER BY artist_name""".stripMargin,

    "q194_search_chain_stats" ->
      """WITH flat AS (
        |  SELECT
        |    CASE WHEN event_type <> 'signup' THEN 'Artist ' || CAST(user_id AS VARCHAR) ELSE 'Unknown' END AS artist_name,
        |    CAST(user_id AS INTEGER) AS popularity,
        |    (event_id * 7919) % 400000 AS duration_ms,
        |    lpad(CAST(event_id AS VARCHAR), 6, '0') AS track_id
        |  FROM events WHERE event_id < 2000),
        |matched AS (
        |  SELECT DISTINCT 'Artist ' || CAST(user_id AS VARCHAR) AS artist_name
        |  FROM events WHERE event_id < 2000 AND user_id % 7 = 0),
        |sel AS (SELECT f.* FROM flat f JOIN matched m USING (artist_name)),
        |stats AS (
        |  SELECT artist_name, CAST(COUNT(*) AS BIGINT) AS n_tracks,
        |         CAST(SUM(popularity) AS DOUBLE) / COUNT(popularity) AS avg_popularity
        |  FROM sel GROUP BY artist_name),
        |top2 AS (
        |  SELECT artist_name, duration_ms, track_id,
        |         ROW_NUMBER() OVER (PARTITION BY artist_name ORDER BY duration_ms DESC, track_id) AS rn
        |  FROM sel)
        |SELECT t.artist_name, s.n_tracks, s.avg_popularity, t.track_id, t.duration_ms
        |FROM top2 t JOIN stats s USING (artist_name)
        |WHERE t.rn <= 2
        |ORDER BY t.artist_name, t.duration_ms DESC, t.track_id""".stripMargin,

    "q60_ranked_flatten" ->
      """WITH base AS (
        |  SELECT
        |    CASE WHEN event_type <> 'view' THEN event_type ELSE 'Unknown' END AS track_name,
        |    'Artist ' || CAST(user_id AS VARCHAR) AS artist_name,
        |    'Album ' || CAST(user_id AS VARCHAR) AS album_name,
        |    'https://open/' || lpad(CAST(event_id AS VARCHAR), 6, '0') AS spotify_url,
        |    CASE WHEN value IS NOT NULL THEN 'https://p/' || lpad(CAST(event_id AS VARCHAR), 6, '0') ELSE '' END AS preview_url,
        |    (event_id * 7919) % 400000 AS duration_ms,
        |    CAST(user_id AS INTEGER) AS popularity,
        |    event_id % 3 = 0 AS explicit,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') AS played_at,
        |    lpad(CAST(event_id AS VARCHAR), 6, '0') AS track_id,
        |    'ar' || CAST(user_id AS VARCHAR) AS artist_id,
        |    'al' || CAST(user_id AS VARCHAR) AS album_id
        |  FROM events
        |  WHERE event_id < 1000 AND event_type <> 'error')
        |SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY played_at DESC, track_id) AS BIGINT) AS "rank"
        |FROM base ORDER BY "rank"""".stripMargin,

    "q45_price_ranks" ->
      """SELECT p_brand, p_partkey, p_retailprice,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS prank
        |FROM part
        |WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
        |ORDER BY p_brand, p_partkey""".stripMargin,

    "q133_rolling_dau_wau" ->
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
        |  FROM events WHERE user_id IS NOT NULL),
        |contrib AS (
        |  SELECT DISTINCT p.day + k.k AS day, p.user_id
        |  FROM pairs p CROSS JOIN (SELECT CAST(unnest(range(0, 7)) AS INTEGER) AS k) k),
        |dau AS (SELECT day, count(*) AS dau FROM pairs GROUP BY day),
        |wau AS (SELECT day, count(*) AS wau FROM contrib GROUP BY day)
        |SELECT d.day, d.dau, w.wau, d.dau * 10000 // w.wau AS stickiness_bp
        |FROM dau d JOIN wau w USING (day)
        |ORDER BY d.day""".stripMargin,

    "q134_rolling_wau_kmv" -> {
      val k = 64
      s"""WITH pairs AS (
         |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
         |  FROM events WHERE user_id IS NOT NULL),
         |hs AS (SELECT DISTINCT day, h FROM (
         |    SELECT day, ${graft.functions.PortableHash.hash32Sql("CAST(user_id AS VARCHAR)")} AS h
         |    FROM pairs)
         |  WHERE h IS NOT NULL),
         |kept AS (SELECT day, h FROM (
         |    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rnk FROM hs)
         |  WHERE rnk <= $k),
         |days AS (SELECT DISTINCT day FROM pairs),
         |wh AS (SELECT DISTINCT d.day, s.h
         |       FROM kept s JOIN days d
         |         ON s.day <= d.day AND s.day >= d.day - 6),
         |wkept AS (SELECT day, h FROM (
         |    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rnk FROM wh)
         |  WHERE rnk <= $k),
         |est AS (SELECT day, count(*) AS n_kept, max(h) AS kth_hash FROM wkept GROUP BY day),
         |contrib AS (
         |  SELECT DISTINCT p.day + k.k AS day, p.user_id
         |  FROM pairs p CROSS JOIN (SELECT CAST(unnest(range(0, 7)) AS INTEGER) AS k) k),
         |wau AS (SELECT c.day, count(*) AS exact_wau FROM contrib c
         |        JOIN days USING (day) GROUP BY c.day)
         |SELECT e.day, e.n_kept, e.kth_hash,
         |  CASE WHEN e.n_kept < $k THEN CAST(e.n_kept AS DOUBLE)
         |       ELSE CAST(${k - 1} * 4294967296 AS DOUBLE) / e.kth_hash END AS approx_wau,
         |  w.exact_wau
         |FROM est e JOIN wau w USING (day)
         |ORDER BY e.day""".stripMargin
    },

    "q135_session_funnel" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
        |         WHEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
        |              > 3600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |sessions AS (
        |  SELECT user_id, event_type, t,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked),
        |g AS (
        |  SELECT user_id, session_id,
        |    min(CASE WHEN event_type = 'view' THEN t END) AS t0,
        |    min(CASE WHEN event_type = 'click' THEN t END) AS t1,
        |    min(CASE WHEN event_type = 'purchase' THEN t END) AS t2
        |  FROM sessions GROUP BY user_id, session_id),
        |c AS (
        |  SELECT count(*) AS c_total,
        |    count(*) FILTER (WHERE t0 IS NOT NULL) AS c0,
        |    count(*) FILTER (WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0) AS c1,
        |    count(*) FILTER (WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
        |                     AND t2 IS NOT NULL AND t2 >= t1) AS c2
        |  FROM g)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step, c0 AS n_sessions,
        |    c0 * 10000 // NULLIF(c_total, 0) AS conv_bp FROM c
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'click', c1, c1 * 10000 // NULLIF(c0, 0) FROM c
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), 'purchase', c2, c2 * 10000 // NULLIF(c1, 0) FROM c)
        |ORDER BY step_idx""".stripMargin,

    "q136_cohort_retention" ->
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
        |  FROM events WHERE user_id IS NOT NULL),
        |first AS (SELECT user_id, min(day) AS cohort_day FROM pairs GROUP BY user_id),
        |sizes AS (SELECT cohort_day, count(*) AS cohort_size FROM first GROUP BY cohort_day),
        |active AS (
        |  SELECT DISTINCT f.cohort_day,
        |    CAST(date_diff('day', f.cohort_day, p.day) // 7 AS BIGINT) AS week_offset,
        |    p.user_id
        |  FROM pairs p JOIN first f USING (user_id)),
        |m AS (SELECT cohort_day, week_offset, count(*) AS n_active
        |      FROM active GROUP BY cohort_day, week_offset)
        |SELECT m.cohort_day, m.week_offset, s.cohort_size, m.n_active,
        |  m.n_active * 10000 // s.cohort_size AS retention_bp
        |FROM m JOIN sizes s USING (cohort_day)
        |ORDER BY m.cohort_day, m.week_offset""".stripMargin,

    "q137_funnel_latency" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
        |         WHEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
        |              > 3600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |sessions AS (
        |  SELECT user_id, event_type, t,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked),
        |g AS (
        |  SELECT user_id, session_id,
        |    min(CASE WHEN event_type = 'view' THEN t END) AS t0,
        |    min(CASE WHEN event_type = 'click' THEN t END) AS t1,
        |    min(CASE WHEN event_type = 'purchase' THEN t END) AS t2
        |  FROM sessions GROUP BY user_id, session_id),
        |conv AS (
        |  SELECT (epoch_us(t2) - epoch_us(t0)) // 1000000 AS lat_sec
        |  FROM g
        |  WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
        |    AND t2 IS NOT NULL AND t2 >= t1)
        |SELECT count(*) AS n_converting,
        |  quantile_cont(lat_sec, 0.5) AS p50_sec,
        |  quantile_cont(lat_sec, 0.9) AS p90_sec,
        |  max(lat_sec) AS max_sec
        |FROM conv""".stripMargin,

    "q138_activity_histogram" ->
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
        |  FROM events WHERE user_id IS NOT NULL),
        |per_user AS (SELECT user_id, count(*) AS n_days FROM pairs GROUP BY user_id)
        |SELECT n_days, count(*) AS n_users
        |FROM per_user GROUP BY n_days ORDER BY n_days""".stripMargin,

    // identical math to q134 minus the exact audit column: the state
    // table is a deterministic function of events, so the oracle
    // rebuilds it from events directly. q143 maintains the same state
    // FROM A STREAM and is exact under any batching, so it shares the
    // SQL verbatim.
    "q139_rolling_wau_persisted" -> kmvRollingStateSql(k = 64),
    "q143_stream_rolling_wau" -> kmvRollingStateSql(k = 64),
    "q146_stream_session_close" ->
      gapSessionOracleSql(" WHERE user_id IS NOT NULL"),

    "q140_funnel_latency_cdf" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
        |         WHEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
        |              > 3600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |sessions AS (
        |  SELECT user_id, event_type, t,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked),
        |g AS (
        |  SELECT user_id, session_id,
        |    min(CASE WHEN event_type = 'view' THEN t END) AS t0,
        |    min(CASE WHEN event_type = 'click' THEN t END) AS t1
        |  FROM sessions GROUP BY user_id, session_id),
        |lat AS (
        |  SELECT CAST(t0 AS DATE) AS day,
        |    (epoch_us(t1) - epoch_us(t0)) // 1000000 AS lat_sec
        |  FROM g
        |  WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0),
        |c AS (SELECT day, CAST(floor(lat_sec * 100.0 + 0.5) AS BIGINT) AS cent FROM lat),
        |gc AS (SELECT day, cent, count(*) AS n FROM c GROUP BY 1, 2),
        |cum AS (SELECT day, cent,
        |          SUM(n) OVER (PARTITION BY day ORDER BY cent) AS cum,
        |          SUM(n) OVER (PARTITION BY day) AS total
        |        FROM gc),
        |p AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS p)
        |SELECT cum.day, p.p, min(cum.cent) AS q_cents
        |FROM cum JOIN p ON cum.cum * 100 >= p.p * cum.total
        |GROUP BY 1, 2 ORDER BY day, p""".stripMargin,

    "q141_transition_matrix" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
        |         WHEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
        |              > 3600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |sessions AS (
        |  SELECT user_id, event_id, event_type, t,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked),
        |nx AS (
        |  SELECT event_type AS from_type,
        |    CASE WHEN lead(session_id) OVER w = session_id
        |         THEN lead(event_type) OVER w ELSE 'END' END AS to_type
        |  FROM sessions
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM nx GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  CAST(c.n * 10000 // t.row_total AS BIGINT) AS p_bp
        |FROM c JOIN t USING (from_type)
        |ORDER BY c.from_type, c.to_type""".stripMargin,

    // null contract: value-NULL rows are excluded before the lifetime
    // sum in BOTH engines — a user with no priced purchases is in no
    // decile (see Retention.ltvDeciles scaladoc)
    "q142_ltv_deciles" ->
      """WITH per_user AS (
        |  SELECT user_id, sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS cents
        |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
        |    AND value IS NOT NULL
        |  GROUP BY user_id),
        |cut AS (
        |  SELECT user_id, cents,
        |    CAST(ntile(10) OVER (ORDER BY cents DESC, user_id) AS BIGINT) AS decile
        |  FROM per_user),
        |d AS (SELECT decile, count(*) AS n_users,
        |        CAST(sum(cents) AS BIGINT) AS total_value_cents
        |      FROM cut GROUP BY decile),
        |g AS (SELECT CAST(sum(cents) AS BIGINT) AS grand FROM per_user)
        |SELECT decile, n_users, total_value_cents,
        |  CAST(total_value_cents * 10000 // nullif(grand, 0) AS BIGINT) AS share_bp
        |FROM d CROSS JOIN g ORDER BY decile""".stripMargin,

    "q144_session_funnel_seeded" ->
      s"""$seededFunnelCte
         |c AS (
         |  SELECT count(*) AS c_total,
         |    count(*) FILTER (WHERE t0 IS NOT NULL) AS c0,
         |    count(*) FILTER (WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0) AS c1,
         |    count(*) FILTER (WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
         |                     AND t2 IS NOT NULL AND t2 >= t1) AS c2
         |  FROM g)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step, c0 AS n_sessions,
         |    c0 * 10000 // NULLIF(c_total, 0) AS conv_bp FROM c
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), 'click', c1, c1 * 10000 // NULLIF(c0, 0) FROM c
         |  UNION ALL
         |  SELECT CAST(3 AS BIGINT), 'purchase', c2, c2 * 10000 // NULLIF(c1, 0) FROM c)
         |ORDER BY step_idx""".stripMargin,

    "q145_funnel_latency_seeded" ->
      s"""$seededFunnelCte
         |conv AS (
         |  SELECT (epoch_us(t2) - epoch_us(t0)) // 1000000 AS lat_sec
         |  FROM g
         |  WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
         |    AND t2 IS NOT NULL AND t2 >= t1)
         |SELECT count(*) AS n_converting,
         |  quantile_cont(lat_sec, 0.5) AS p50_sec,
         |  quantile_cont(lat_sec, 0.9) AS p90_sec,
         |  max(lat_sec) AS max_sec
         |FROM conv""".stripMargin,
  )

  /** Shared q144/q145 prefix: the seeded feed, gap-sessionized, with
    * per-session first-occurrence step times (mirrors q135/q137's CTEs
    * over `feed` instead of raw `events`).
    */
  private def seededFunnelCte: String =
    s"""WITH feed AS (
       |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events
       |  UNION ALL
       |  SELECT * FROM (VALUES $funnelSeedValuesSql)
       |    AS v(user_id, event_id, event_type, t)),
       |marked AS (
       |  SELECT user_id, event_id, event_type, t,
       |    CASE WHEN lag(t) OVER w IS NULL THEN 1
       |         WHEN epoch_us(t) - epoch_us(lag(t) OVER w) > 3600000000 THEN 1 ELSE 0
       |    END AS new_s
       |  FROM feed
       |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       |sessions AS (
       |  SELECT user_id, event_type, t,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
       |                     ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM marked),
       |g AS (
       |  SELECT user_id, session_id,
       |    min(CASE WHEN event_type = 'view' THEN t END) AS t0,
       |    min(CASE WHEN event_type = 'click' THEN t END) AS t1,
       |    min(CASE WHEN event_type = 'purchase' THEN t END) AS t2
       |  FROM sessions GROUP BY user_id, session_id),""".stripMargin

  /** Batch gap-sessionization at 30-min `session_window` semantics
    * (a gap of EXACTLY 30 min breaks): the one definition both the
    * built-in session_window aggregate (q107) and the timer-based
    * processor (q146) must reproduce. `where` lets a consumer state
    * its own input contract — q146's typed processor keys on a
    * non-null Long user_id and filters nulls on the Spark side, so
    * its oracle must too (q107 sessionizes the null-user group like
    * any other; the fixtures carry no null user_ids today, but the
    * two contracts must not silently diverge if that changes).
    */
  private def gapSessionOracleSql(where: String = ""): String =
    s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events$where),
      |d AS (SELECT user_id, ts,
      |        CASE WHEN lag(ts) OVER w IS NULL
      |               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
      |             THEN 1 ELSE 0 END AS brk
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |g AS (SELECT user_id, ts,
      |        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                       ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM d)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  private def kmvRollingStateSql(k: Int): String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
       |  FROM events WHERE user_id IS NOT NULL),
       |hs AS (SELECT DISTINCT day, h FROM (
       |    SELECT day, ${graft.functions.PortableHash.hash32Sql("CAST(user_id AS VARCHAR)")} AS h
       |    FROM pairs)
       |  WHERE h IS NOT NULL),
       |kept AS (SELECT day, h FROM (
       |    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rnk FROM hs)
       |  WHERE rnk <= $k),
       |days AS (SELECT DISTINCT day FROM pairs),
       |wh AS (SELECT DISTINCT d.day, s.h
       |       FROM kept s JOIN days d
       |         ON s.day <= d.day AND s.day >= d.day - 6),
       |wkept AS (SELECT day, h FROM (
       |    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rnk FROM wh)
       |  WHERE rnk <= $k)
       |SELECT day, count(*) AS n_kept, max(h) AS kth_hash,
       |  CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
       |       ELSE CAST(${k - 1} * 4294967296 AS DOUBLE) / max(h) END AS approx_wau
       |FROM wkept GROUP BY day
       |ORDER BY day""".stripMargin

}
