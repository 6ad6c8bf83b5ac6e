package graft.operators

import graft.functions.PortableHash
import graft.sources.StateTable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token statistics, content fingerprinting.
  * All pure column expressions (whole-stage-codegen friendly, no UDFs)
  * with exact DuckDB-SQL counterparts.
  *
  * North-star extension (BASELINE.json): no counterpart exists in the
  * reference; semantics are defined by this engine (SURVEY.md §7.2 step
  * 6) and pinned by the DuckDB oracle + ScalaTest.
  */
object TextAnalysis {

  /** N-gram novelty scoring: per document, the share of its distinct
    * word n-grams that FIRST appear in that document (owner = lowest
    * doc_id over the corpus — deterministic, mirrors an
    * ingestion-order scan). Curation pipelines use this to rank
    * documents by marginal n-gram contribution: boilerplate-heavy docs
    * score near 0, fresh content near 1.
    *
    * Scale shape: first-owner is a `min(doc_id) OVER (PARTITION BY
    * shingle)` window — it rides ONE shingle-partitioned exchange (the
    * df-cap trick from [[Dedup.jaccardPairsCapped]]) instead of a
    * groupBy + join-back pair; the per-doc rollup is one
    * map-side-combinable groupBy. Novelty is a small-int division —
    * exact and engine-portable.
    * Output: (doc_id, n_grams, n_novel, novelty) ordered by doc_id.
    * NOTE documents with fewer than n tokens contribute no shingles
    * and are ABSENT from the output (not emitted as n_grams = 0) —
    * consumers joining novelty back onto the corpus should left-join
    * and treat the null as "too short to score".
    */
  def ngramNovelty(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Dedup.shingles(docs, n)
      .withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy(col("shingle"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Stopword marker lists per language for the n-gram/stopword-hit
    * language heuristic. Deterministic CASE tie-break: first language
    * (list order) with the maximal hit count wins.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "les"))

  private def tokens: Column = split(lower(trim(col("text"))), "\\s+")

  private def hitsExpr(words: Seq[String]): String =
    s"size(filter(w, x -> x IN (${words.map("'" + _ + "'").mkString(",")})))"

  /** Language ID by stopword hits. Output:
    * (doc_id, en_hits, es_hits, de_hits, fr_hits, n_tokens, detected_lang)
    * ordered by doc_id.
    */
  def langId(docs: DataFrame): DataFrame = {
    // cast to long: Spark size() is int32 but DuckDB len() is int64, and
    // the oracle compare is schema-sensitive
    val hitCols = langMarkers.map { case (l, ws) => expr(hitsExpr(ws)).cast("long").as(s"${l}_hits") }
    val langs = langMarkers.map(_._1)
    // first lang whose hits >= all others
    val detect = langs.init.foldRight(lit(langs.last)) { (l, rest) =>
      val geAll = langs.filter(_ != l)
        .map(o => col(s"${l}_hits") >= col(s"${o}_hits"))
        .reduce(_ && _)
      when(geAll, lit(l)).otherwise(rest)
    }
    docs.select(col("doc_id") +: tokens.as("w") +: Nil: _*)
      .select(col("doc_id") +: col("w") +: hitCols: _*)
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("detected_lang", detect)
      .drop("w")
      .orderBy(col("doc_id"))
  }

  /** Heuristic document-quality score in [0,1]:
    * 40% length saturation (tokens/200 capped), 30% mean token length
    * band, 30% stopword presence. Output:
    * (doc_id, n_chars, n_tokens, avg_token_len, stopword_ratio, quality)
    * ordered by doc_id.
    */
  def qualityScore(docs: DataFrame): DataFrame =
    qualityCols(docs, Nil).orderBy(col("doc_id"))

  /** Linear quality-classifier inference — the model-based filter
    * stage of a modern pretraining pipeline (a regression/fastText-
    * style head exported as weights), distinct from [[qualityScore]]'s
    * hand-tuned heuristic: features are integer fixed-point
    * (type-token ratio and chars-per-token in micro units, token
    * count), the logit is a pure-integer weighted sum, and the keep
    * decision is `logit >= 0` — bit-reproducible in any engine, under
    * any partitioning, with no float anywhere. Weights are positive
    * and the bias subtracts last, so every division operand is
    * non-negative (Spark's `div` truncates toward zero while DuckDB's
    * `//` floors; they only agree on non-negatives).
    *
    * Scale shape: per-row column math fused into whole-stage codegen —
    * no shuffle, no UDF; at 100 TB this is a single map pass.
    * Output: (doc_id, ttr_fp, len_fp, n_tok, logit_fp, keep) ordered by doc_id.
    */
  def qualityLogit(docs: DataFrame, wTtr: Long = 2L, wLen: Long = 1L,
                   wTok: Long = 10L, bias: Long = 7000L): DataFrame = {
    require(wTtr >= 0 && wLen >= 0 && wTok >= 0,
      "weights must be non-negative: div semantics differ across engines on negatives")
    docs.select(col("doc_id"), tokens.as("w"),
        length(col("text")).cast("long").as("nc"))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"),
        expr("cast(size(array_distinct(w)) as bigint) * 1000000L div size(w)").as("ttr_fp"),
        expr("nc * 1000000L div size(w)").as("len_fp"),
        size(col("w")).cast("long").as("n_tok"))
      .select(col("doc_id"), col("ttr_fp"), col("len_fp"), col("n_tok"),
        expr(s"($wTtr * ttr_fp) div 1000 + ($wLen * len_fp) div 1000 + $wTok * n_tok - $bias")
          .as("logit_fp"))
      .withColumn("keep", (col("logit_fp") >= 0).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** The feature frame shared by the logistic trainer below and its
    * oracle: fixed-point fp6 features NORMALIZED to [0, 1e6] so no
    * feature dominates the gradient and every later product fits i64 —
    * x_bias = 1e6; x_ttr = type-token ratio fp6 (≤ 1e6);
    * x_len = chars-per-token/10 fp6, clamped (≤ 1e6);
    * x_tok = tokens/1000 fp6, clamped (≤ 1e6). All clamps and the /10
    * rescale are non-negative integer ops, so they stay engine-exact.
    * Label y ∈ {0,1} is [[qualityLogit]]'s keep flag — heuristic
    * self-training labels, exactly how production quality classifiers
    * bootstrap (a cheap rule labels a corpus sample, a model
    * generalizes it).
    */
  private[graft] def fitQualityLogitGdFeatures(docs: DataFrame): DataFrame =
    qualityLogit(docs).select(
      col("doc_id"),
      lit(1000000L).as("x_bias"),
      col("ttr_fp").as("x_ttr"),
      expr("least(len_fp, 10000000L) div 10").as("x_len"),
      (least(col("n_tok"), lit(1000L)) * 1000L).as("x_tok"),
      col("keep").as("y"))

  /** Distributed logistic-regression TRAINING for the quality
    * classifier — the other half of [[qualityLogit]]'s inference, so
    * the pipeline can fit its own filter instead of importing weights.
    *
    * Entirely integer fixed-point, so training is deterministic and
    * engine-exact (the DuckDB oracle replays it to the bit): the
    * activation is the hard sigmoid σ̂(z) = clamp(1/2 + z/4, 0, 1) in
    * fp6, the per-iteration gradient g_j = Σ_i (y_i − σ̂(w·x_i)) x_ij
    * is ONE map-side-combinable aggregate over the corpus (no shuffle
    * of the data, 4 longs back to the driver), and the update is
    * w_j += (g_j · lrNum) / (n · lrDen · 1e6) with division truncated
    * toward zero via sign(g)·(|g| div d) — Spark `div` and DuckDB `//`
    * agree only on non-negative operands.
    *
    * Scale shape: iters × one codegen'd map pass + partial aggregate;
    * the driver holds only the 4-weight vector (the standard
    * data-parallel GD layout — MLlib's own LogisticRegression iterates
    * exactly this way). i64 bound: with all features normalized to
    * ≤ 1e6 fp, per-row |err·x| ≤ 1e12, so corpora to ~9·10^6 docs PER
    * AGGREGATE are exactly safe; beyond that,
    * accumulate the same products as DECIMAL(38,0) (one cast — the
    * gradient stays exact, the update rule unchanged). The driver-side
    * update itself never multiplies |g|·lrNum directly (that product
    * can wrap i64 near the bound when lrNum > 1): it uses the exact
    * split (|g| div d)·lr + ((|g| mod d)·lr) div d, identical in value
    * and overflow-free whenever lr·d fits i64.
    * Output: one row per coefficient, (feature, weight_fp) ordered by
    * feature — bias/len/tok/ttr.
    */
  def fitQualityLogitGd(docs: DataFrame, iters: Int,
                        lrNum: Long, lrDen: Long): DataFrame =
    fitLogitGd(fitQualityLogitGdFeatures(docs), iters, lrNum, lrDen)

  /** The optimizer itself, over any prepared feature frame
    * (x_bias/x_ttr/x_len/x_tok in fp6 ∈ [0, 1e6], y ∈ {0,1}) — split
    * out so tests can drive it with synthetic fat-margin data, where
    * convergence is visible in a handful of iterations. On the real
    * corpus the heuristic labels sit at a tiny margin (the boundary
    * cuts through the data bulk), so batch GD needs hundreds of
    * epochs to pull away from the majority-class plateau — a property
    * of the data, measured in the python replica under tools/, not of
    * the distributed implementation.
    */
  private[graft] def fitLogitGd(feats: DataFrame, iters: Int,
                                lrNum: Long, lrDen: Long): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(lrNum > 0 && lrDen > 0, "learning rate must be positive")
    val spark = feats.sparkSession
    val names = Seq("x_bias", "x_ttr", "x_len", "x_tok")
    var w = Array(0L, 0L, 0L, 0L)
    for (_ <- 1 to iters) {
      // z (fp12→fp6 via /4e6 with the sign trick — z goes negative as
      // soon as any weight does, and Spark's div truncates while
      // DuckDB's // floors, so divide |z| only);
      // σ̂ = clamp(5e5 + z/4, 0, 1e6); err (fp6) = y·1e6 − σ̂ —
      // all i64 column math fused into one codegen'd aggregate
      val zsum = names.zip(w).map { case (n, wj) => s"$n * ${wj}L" }.mkString(" + ")
      val sig = expr(
        s"""greatest(0L, least(1000000L,
           |  500000L + (CASE WHEN ($zsum) >= 0 THEN ($zsum) div 4000000
           |                  ELSE -((-($zsum)) div 4000000) END)))""".stripMargin)
      val err = col("y") * 1000000L - sig
      val agg = feats.agg(
        count(lit(1)).as("n"),
        names.map(n => sum(err * col(n)).as(s"g_$n")): _*)
      val row = agg.head()
      val n = row.getLong(0)
      // empty corpus: no gradient evidence — weights stay at their
      // current values (sum() is NULL and n*... would divide by zero)
      if (n > 0L) {
        val grads = names.indices.map(i => row.getLong(i + 1))
        w = w.zipWithIndex.map { case (wj, j) =>
          val g = grads(j)
          val den = n * lrDen * 1000000L
          // |g| can approach 2⁶³ near the documented corpus bound, so
          // |g|·lrNum may wrap; split the exact identity
          //   (a·lr) div d  ==  (a div d)·lr + ((a mod d)·lr) div d
          // (valid for a,lr,d >= 0) — value-identical where the naive
          // product fits, and overflow-free whenever lr·d fits i64
          val a = math.abs(g)
          wj + math.signum(g) * ((a / den) * lrNum + ((a % den) * lrNum) / den)
        }
      }
    }
    import spark.implicits._
    names.zip(w)
      .map { case (n, wj) => (n.stripPrefix("x_"), wj) }
      .toDF("feature", "weight_fp")
      .orderBy(col("feature"))
  }

  /** Inverted-index build — the search-index materialization pass:
    * sorted postings per term, SHARDED into fixed-size chunks of
    * `shardSize` doc ids (comma-joined so each row is a plain string
    * any engine hashes identically). Sharding is what makes the claim
    * "no row outgrows the executor" true at any corpus size — a df-
    * proportional cap alone bounds nothing once the cap itself grows
    * with n; real indexes chunk postings for exactly this reason.
    * Terms with df above `maxDf` are stop-listed the same way the
    * DF-capped shingle pipeline drops stop-shingles: their postings
    * ARE the corpus and every search hits them.
    *
    * Scale shape: one distinct-(doc, term) explode; the per-term rank
    * (row_number) and df (count) ride the SAME term-partitioned
    * exchange, and the chunk groupBy is map-side combinable with every
    * group ≤ shardSize rows.
    * Output: (term, df, shard, postings) ordered by (term, shard).
    */
  def invertedIndex(docs: DataFrame, maxDf: Long, shardSize: Int = 1000): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1 (got $maxDf)")
    require(shardSize >= 1, s"shardSize must be >= 1 (got $shardSize)")
    val byTerm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("doc_id"))
    docs
      .select(col("doc_id"), explode(array_distinct(tokens)).as("term"))
      .withColumn("rnk", row_number().over(byTerm))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
      .filter(col("df") <= maxDf)
      .withColumn("shard", expr(s"cast((rnk - 1) div $shardSize as bigint)"))
      .groupBy(col("term"), col("df"), col("shard"))
      .agg(expr("array_join(transform(array_sort(collect_list(doc_id)), x -> cast(x as string)), ',')")
        .as("postings"))
      .select(col("term"), col("df"), col("shard"), col("postings"))
      .orderBy(col("term"), col("shard"))
  }

  /** The quality-metric columns (doc_id + `extra` passthrough cols +
    * n_chars/n_tokens/avg_token_len/stopword_ratio/quality) — shared
    * by [[qualityScore]] and [[qualityFunnel]].
    */
  private def qualityCols(docs: DataFrame, extra: Seq[String]): DataFrame = {
    val stop = langMarkers.flatMap(_._2).distinct
    docs.select(col("doc_id") +: extra.map(col) :+ col("text") :+ tokens.as("w"): _*)
      .select(col("doc_id") +: extra.map(col)
        :+ length(col("text")).cast("long").as("n_chars")
        :+ size(col("w")).cast("long").as("n_tokens")
        :+ (length(regexp_replace(col("text"), "\\s+", "")).cast("double") / size(col("w"))).as("avg_token_len")
        :+ (expr(hitsExpr(stop)).cast("double") / size(col("w"))).as("stopword_ratio"): _*)
      .withColumn("quality",
        least(col("n_tokens").cast("double") / 200.0, lit(1.0)) * 0.4
          + when(col("avg_token_len").between(3.0, 10.0), 0.3).otherwise(0.0)
          + least(col("stopword_ratio") * 3.0, lit(1.0)) * 0.3)
  }

  /** Curation funnel: per group, how many docs survive each
    * CUMULATIVE quality gate (length → token shape → stopword
    * presence → composite score). The standard corpus-curation report
    * — where does each source lose its documents? — computed in ONE
    * pass: every gate is a conditional count inside a single
    * map-side-combinable aggregate over a handful of groups; the
    * corpus is scanned exactly once and never reshuffled.
    * Output: (group, n_input, n_len_ok, n_shape_ok, n_stopword_ok,
    * n_quality_ok) ordered by group.
    */
  def qualityFunnel(docs: DataFrame, groupCol: String): DataFrame = {
    val len = col("n_tokens") >= 10
    val shape = len && col("avg_token_len").between(3.0, 10.0)
    val stopw = shape && col("stopword_ratio") >= 0.05
    val qual = stopw && col("quality") >= 0.5
    qualityCols(docs, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_input"),
        count(when(len, 1)).as("n_len_ok"),
        count(when(shape, 1)).as("n_shape_ok"),
        count(when(stopw, 1)).as("n_stopword_ok"),
        count(when(qual, 1)).as("n_quality_ok"))
      .orderBy(col(groupCol))
  }

  /** Per-document TF-IDF top-k terms — the classic retrieval weighting
    * (smoothed idf: ln((N+1)/(df+1)) + 1), emitted as micro-unit
    * fixed-point i64 (`floor(x·1e6 + 0.5)`) so the value AND the
    * ranking are bit-identical in any engine — a double→decimal cast
    * here is ulp-fragile because JVM and DuckDB libm `ln` differ in
    * the last bit. Two map-side-combinable shuffles ((doc,term)
    * counts, then term df) plus a per-doc window — no global sort, no
    * all-pairs anything.
    * Output: (doc_id, rnk, term, tfidf) ordered by (doc_id, rnk).
    */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        floor(col("tf").cast("double") *
          (log((col("n_docs").cast("double") + 1.0) / (col("df").cast("double") + 1.0)) + 1.0)
          * 1e6 + 0.5).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Zipf profile: log2-bucketed document-frequency histogram over the
    * vocabulary — the corpus-health fingerprint (a natural corpus is
    * near-linear in log-log space; crawler loops and boilerplate show
    * up as bulges). The log2 bucket is computed EXACTLY via the binary
    * string length (`length(bin(df)) - 1`), dodging floating log2's
    * power-of-two boundary ulps in either engine.
    * Output: (bucket, n_terms, total_doc_hits) ordered by bucket.
    */
  def zipfHistogram(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens).as("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("bucket", (length(bin(col("df"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_terms"), sum(col("df")).as("total_doc_hits"))
      .orderBy(col("bucket"))

  /** Corpus-wide token frequency top-n (classic wordcount).
    * Output: (token, n_docs, n_occurrences) ordered by
    * (n_occurrences desc, token). Map-side partial aggregation makes
    * this a single cheap shuffle at any scale.
    */
  def topTokens(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), explode(tokens).as("token"))
      .groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(n)

  /** GPT2-style pre-tokenizer regex: contraction suffixes, optionally
    * space-prefixed letter runs / digit runs / punctuation runs.
    * Ordered alternation behaves identically in Java regex (Spark) and
    * RE2 (DuckDB oracle) — no lookarounds used.
    */
  val bpeIshPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s']+"

  /** Token counting, whitespace and BPE-ish (the two denominators a
    * training-data pipeline budgets with). Output:
    * (doc_id, n_ws_tokens, n_bpe_tokens, bpe_per_ws) ordered by doc_id.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(bpeIshPattern), lit(0))).cast("long").as("n_bpe_tokens"))
      .withColumn("bpe_per_ws",
        col("n_bpe_tokens").cast("double") / col("n_ws_tokens"))
      .orderBy(col("doc_id"))

  /** Gopher-style repetition / quality-gate statistics per document —
    * the filters a pretraining pipeline applies before anything else:
    * repeated-token mass, dominant-token share, dominant-bigram share,
    * and a composite keep flag. Computed with two explode→groupBy
    * passes (token counts and bigram counts), each a single
    * map-side-combinable shuffle keyed by doc_id, then a 1:1 join —
    * no per-row quadratic list scans, so a 100 GB document partition
    * costs the same per byte as a 100 MB one.
    * Output: (doc_id, n_tokens, n_distinct, top_token_frac,
    * dup_token_frac, top_bigram_frac, keep) ordered by doc_id.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"), explode(tokens).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id")).agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
    val bigrams = docs
      .select(col("doc_id"), tokens.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(
        expr("transform(sequence(0, size(w)-2), i -> array_join(slice(w, i+1, 2), ' '))")
      ).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id")).agg(
        sum(col("cnt")).as("n_bigrams"),
        max(col("cnt")).as("top_bg_cnt"))
    words.join(bigrams, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("top_cnt").cast("double") / col("n_tokens")).as("top_token_frac"),
        ((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens")).as("dup_token_frac"),
        coalesce(col("top_bg_cnt").cast("double") / col("n_bigrams"), lit(0.0)).as("top_bigram_frac"))
      .withColumn("keep",
        col("n_tokens") >= 10 && col("top_token_frac") <= 0.20
          && col("dup_token_frac") <= 0.90 && col("top_bigram_frac") <= 0.18)
      .orderBy(col("doc_id"))
  }

  /** BM25 relevance of every document against a fixed bag of query
    * terms — the retrieval scorer behind corpus search and
    * quality-weighted sampling. Lucene's BM25 variant:
    * idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
    * score  = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)).
    *
    * Scale shape: the token stream is filtered to the query terms
    * BEFORE any shuffle (the grouped tf frame is |terms|·|matching
    * docs| rows, tiny); df/N/avgdl are scalar aggregates joined in as
    * 1-row broadcasts. The per-document term sum is written as one
    * conditional-aggregate column per query term added in a fixed
    * order — bit-reproducible regardless of partitioning (a floating
    * sum over an unordered group would not be), and mirrored exactly
    * by the oracle. Top-k plans as TakeOrderedAndProject.
    * Output: (doc_id, score) — top `k` by (score desc, doc_id).
    */
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double, b: Double, k: Int): DataFrame = {
    // empty query: the fixed-order sum below has no head column (crash
    // at plan build); duplicated terms: each duplicate adds an
    // identical conditional-sum column, silently double-counting that
    // term's contribution in every matching doc's score
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(terms.distinct.size == terms.size,
      s"bm25 query terms must be distinct (got $terms)")
    val toks = docs.select(col("doc_id"), tokens.as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"), col("w"))
    val stats = toks.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = toks
      .select(col("doc_id"), col("dl"), explode(col("w")).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("t")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("t")).agg(countDistinct(col("doc_id")).as("df"))
    val scored = tf.join(broadcast(df), Seq("t")).crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("part",
        col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b)
            + lit(b) * col("dl") / (col("sum_dl").cast("double") / col("n_docs")))))
    // fixed-order sum: one conditional-aggregate column per term, added
    // left-to-right — each aggregates at most one row, so the float
    // addition order is pinned by the expression, not the partitioning
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("t") === t, col("part"))).as(s"_s$i")
    }
    scored.groupBy(col("doc_id"))
      .agg(perTerm.head, perTerm.tail: _*)
      .select(col("doc_id"),
        terms.indices.map(i => coalesce(col(s"_s$i"), lit(0.0)))
          .reduce(_ + _).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Unigram language-model score per document: average token negative
    * log-probability under the corpus' own unigram distribution — the
    * cheap perplexity proxy pretraining pipelines use to rank text
    * "naturalness" before anything model-based.
    *
    * Two map-side-combinable shuffles (per-doc term counts; corpus
    * term counts) and one equi-join on the term. The per-document sum
    * Σ tf·(-ln p) is accumulated in DECIMAL(28,9), not double: decimal
    * addition is exact and therefore order-independent, so the score
    * is bit-reproducible under any partitioning (a double sum would
    * drift with shuffle order) and hash-matches the oracle.
    * Output: (doc_id, n_tokens, avg_neg_logprob) ordered by doc_id.
    */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val corpus = tf.groupBy(col("t")).agg(sum(col("tf")).as("ctf"))
    val total = corpus.agg(sum(col("ctf")).as("total"))
    tf.join(corpus, Seq("t")).crossJoin(broadcast(total))
      .withColumn("nlp",
        (-log(col("ctf").cast("double") / col("total")) * col("tf")).cast("decimal(28,9)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nlp")).as("nlp_sum"), sum(col("tf")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (col("nlp_sum").cast("double") / col("n_tokens")).as("avg_neg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model score: per-doc average negative conditional
    * log-prob under corpus bigram statistics with add-1 smoothing —
    * p(b|a) = (c(a,b) + 1) / (c(a) + V). The next LM-scoring rung
    * above [[unigramLogProb]]: fluency, not just vocabulary rarity.
    *
    * Scale shape: bigrams come from an ARRAY ZIP per document (no
    * positional self-join); corpus counts are two map-side-combinable
    * aggregates; the stats join back onto doc-bigrams is a plain
    * equi-join (vocabulary-sized right side); per-doc sums accumulate
    * in DECIMAL so they are order-independent under any partitioning.
    * Output: (doc_id, n_bigrams, avg_neg_logprob) ordered by doc_id;
    * docs with < 2 tokens are absent (no bigrams — the caller's
    * zero-preserving left join if needed).
    */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val pairs = docs
      .select(col("doc_id"), tokens.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "arrays_zip(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1))")).as("bg"))
      .select(col("doc_id"), col("bg.0").as("a"), col("bg.1").as("b"))
    val tf = pairs.groupBy(col("doc_id"), col("a"), col("b")).agg(count(lit(1)).as("tf"))
    val c2 = tf.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("c2"))
    val c1 = c2.groupBy(col("a")).agg(sum(col("c2")).as("c1"))
    val vocab = docs.select(explode(tokens).as("t")).agg(countDistinct(col("t")).as("v"))
    tf.join(c2, Seq("a", "b")).join(c1, Seq("a")).crossJoin(broadcast(vocab))
      .withColumn("nlp",
        (-log((col("c2").cast("double") + 1.0) / (col("c1").cast("double") + col("v")))
          * col("tf")).cast("decimal(28,9)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nlp")).as("nlp_sum"), sum(col("tf")).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("nlp_sum").cast("double") / col("n_bigrams")).as("avg_neg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** BPE (byte-pair-encoding) merge training — the distributed form
    * of tokenizer-vocabulary learning: `merges` rounds of "count all
    * adjacent symbol pairs across the corpus, merge the most frequent
    * one everywhere". Returns the learned merge table
    * (iter, sym_a, sym_b, merged, weighted_count) ordered by iter —
    * the artifact a tokenizer ships.
    *
    * The classical BPE trick that makes this 100 TB-viable: training
    * never touches the corpus after the first pass. Words are
    * deduplicated into a (word, freq) VOCAB (one combinable groupBy
    * over the corpus), and every merge round runs over the
    * vocab-sized frame only — pair counting is a groupBy over ≤
    * Σ|word| rows weighted by freq, and applying a merge is a narrow
    * per-row fold, no shuffle. Corpus size affects round cost not at
    * all, only the initial word count does.
    *
    * Merge application is the greedy LEFT-TO-RIGHT NON-OVERLAPPING
    * scan of reference BPE (Sennrich et al. 2016): a fold over the
    * symbol sequence that joins the current symbol to the
    * accumulator's last element iff they spell (sym_a, sym_b) — so
    * "a a a" under merge (a,a) becomes "aa a", and the freshly
    * merged "aa" does not immediately re-merge. Ties in pair counts
    * break lexicographically (sym_a, then sym_b) — fully
    * deterministic, and the DuckDB oracle replays every round
    * (string-fold `list_reduce` mirror of the same scan).
    *
    * The per-round best-pair fetch is a single-row driver probe —
    * same discipline as the CC convergence probe ([[Dedup]]) and the
    * GD coefficient loop: O(rounds) scalars cross the driver, never
    * data.
    */
  def bpeTrainMerges(docs: DataFrame, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, merges, foldLast = false)._1
      .toDF("iter", "sym_a", "sym_b", "merged", "weighted_count")
      .orderBy(col("iter"))
  }

  /** Shared BPE training loop: returns (learned merge rows, the
    * (freq, seq) vocab with merges applied). `foldLast` controls
    * whether the final round's merge is applied to the vocab — the
    * merge-table path skips it (the table is already known), the
    * encode path needs it.
    */
  private def bpeTrain(docs: DataFrame, merges: Int, foldLast: Boolean)
  : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    require(merges >= 1, s"merges must be >= 1 (got $merges)")
    val base = docs
      .select(explode(tokens).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      // `w` rides along untouched: the per-WORD encoding consumers
      // ([[bpeEncodeIds]]) need the word -> final-symbol-sequence map,
      // and re-deriving it from `seq` would re-run every fold
      .select(col("w"), col("freq"), expr("filter(split(w, ''), x -> x <> '')").as("seq"))
      .persist() // vocab-sized; every round re-reads it through its fold lineage
    var seqs = base
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    try {
      var i = 1
      var exhausted = false
      while (i <= merges && !exhausted) {
        val pairs = seqs.filter(size(col("seq")) >= 2)
          .select(col("freq"), explode(zip_with(
            expr("slice(seq, 1, size(seq) - 1)"),
            expr("slice(seq, 2, size(seq) - 1)"),
            (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
        // driver collect of ONE row per merge (the winning pair) —
        // bounded by the merge budget over the whole run, never by
        // corpus or vocab size
        val bestRows = pairs.orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
        if (bestRows.isEmpty) {
          // every word is a single symbol — nothing left to merge.
          // Stop with the merges learned so far rather than crash
          // (a caller asking for more merges than the corpus supports
          // is ordinary, not an error: reference BPE does the same).
          exhausted = true
        } else {
          val best = bestRows(0)
          val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
          learned += ((i.toLong, a, b, a + b, cnt))
          if (i < merges || foldLast) {
            val folded = aggregate(
              expr("slice(seq, 2, size(seq) - 1)"),
              array(element_at(col("seq"), 1)),
              (acc, x) => when(x === lit(b) && element_at(acc, -1) === lit(a),
                concat(slice(acc, lit(1), size(acc) - lit(1)), array(lit(a + b))))
                .otherwise(concat(acc, array(x))))
            // localCheckpoint per round: without it, project-collapse
            // inlines round i-1's fold at EVERY `seq` reference in
            // round i's fold (~5 references), so the evaluated
            // expression grows ~5^rounds — measured 135 s for the
            // 4-merge encode at sf0.1 vs ~1 s materialized. The frame
            // is vocab-sized, so each round's materialization is tiny.
            val next = Dedup.trackCheckpoint(seqs.select(col("w"), col("freq"),
              when(size(col("seq")) < 2, col("seq")).otherwise(folded).as("seq"))
              .localCheckpoint())
            // the new checkpoint materialized eagerly off the old one —
            // drop the superseded round's blocks now (CC-loop
            // discipline; the first `seqs` is the persisted base, on
            // which releaseCheckpoint is a no-op)
            Dedup.releaseCheckpoint(seqs)
            seqs = next
          }
        }
        i += 1
      }
    } finally base.unpersist()
    (learned.toSeq, seqs)
  }

  /** BATCHED BPE training — the vocab-scale variant: `rounds` rounds,
    * each selecting up to `batch` merges from ONE pair count and
    * applying them in ONE fold pass. Classic BPE pays one corpus-wide
    * (vocab-sized) pair-count agg + one driver round-trip + one fold
    * materialization PER MERGE — a realistic 32k-merge vocabulary is
    * 32k sequential Spark job waves (`tools/scaleprobe_r15_bpe.jsonl`
    * prices the per-merge constant). Batching divides the wave count
    * by ~`batch`.
    *
    * The batch rule (deterministic, oracle-replayable): rank the
    * round's pairs by (count desc, a, b); a pair is SELECTED iff it
    * holds the best rank within each of its three token groups — its
    * left symbol, its right symbol, and its merged string — i.e. no
    * better-ranked pair (selected or not) shares any of those tokens;
    * keep the best `batch` selected pairs. Selected pairs are
    * pairwise token-disjoint BY CONSTRUCTION (sharing a token means
    * one of them loses that group), which is what makes the batch
    * sound: applying one selected merge can neither create nor
    * destroy instances of another (adjacency of (c,d) only changes
    * where a fold rewrites a neighboring symbol, and the rewritten
    * token — the merged string — is disjoint from every other
    * selected pair's symbols), so one left-to-right pass checking all
    * `batch` rules equals sequential application in any order. The
    * rank-1 pair always selects, so every round makes progress.
    *
    * This is a documented VARIANT of classic BPE (classic recounts
    * after every merge and may promote a pair formed by the previous
    * merge; the batch commits up to `batch` from one count —
    * `batch = 1` reproduces classic exactly, BpeBatchedSpec pins it).
    * The selection is window-free (grouped struct-mins, combinable),
    * so no stage sorts more than its partition.
    *
    * Output: (iter, sym_a, sym_b, merged, weighted_count) ordered by
    * iter — iter numbers selected merges globally in (round, rank)
    * order; weighted_count is the pair's count in ITS round's shared
    * count.
    */
  /** `greedyPool > 0` switches the per-round selection to the GREEDY
    * CASCADE (round-17 wave-count variant): collect the
    * round's top `batch * greedyPool` pairs by (count desc, a, b) to
    * the driver and select greedily in rank order, skipping any pair
    * sharing a token (left / right / merged string) with an
    * already-selected one, up to `batch`. The default best-in-3-groups
    * rule drops a pair beaten in ANY group even when the beating pair
    * was itself dropped — the cascade re-admits those, packing more
    * merges per wave toward the disjointness capacity (early rounds
    * are alphabet-bound either way: each merge consumes ≥2 live
    * symbols).
    *
    * `greedyPool = 0` (the default) SIZE-GATES the choice (VERDICT r17
    * item 4): batches of
    * [[GreedyBatchGate]] or more select via the cascade with pool
    * [[GreedyDefaultPool]] — at vocab-scale batches the grouped rule
    * leaves most of each wave's disjointness capacity unused (probe:
    * 5.8× fuller waves, ~4× wall cut to a matched vocab at
    * compression parity 0.9996, `tools/scaleprobe_r17_bpe_big.jsonl`)
    * — while small batches keep the grouped rule (its selections are
    * what the catalog oracles replay; at batch ≤ a handful the
    * capacity gap is nil). `greedyPool < 0` forces the grouped rule
    * regardless of batch (A/B probes; `-Dgraft.bpe.select=grouped`
    * forces it process-wide).
    *
    * SOUNDNESS IS UNCHANGED either way: selected pairs are pairwise
    * token-disjoint (the one-pass fold needs nothing else), and each
    * selected pair's count is EXACT at application time — a merge
    * cannot create or destroy adjacencies of a pair disjoint from its
    * {a, b, ab}, so deeper-cascade counts are invariant under the
    * earlier merges in the same wave. The driver collect is bounded by
    * `batch * greedyPool` rows, never corpus or vocab size. Divergence
    * vs the default rule is measured, not assumed
    * (tools/scaleprobe_r17_bpe.jsonl; ScaleProbe `bpe_approx`).
    */
  /** Batch size at or above which `greedyPool = 0` (auto) selects via
    * the greedy cascade: at vocab-scale batches the grouped rule fills
    * a small fraction of each wave's disjointness capacity (measured
    * 5.8× fuller cascade waves at batch 512,
    * `tools/scaleprobe_r17_bpe_big.jsonl`), while at catalog-scale
    * batches (≤ a handful) the two rules coincide or nearly so and the
    * grouped rule stays — it is what the DuckDB oracles replay.
    */
  val GreedyBatchGate = 64

  /** Cascade candidate-pool multiplier under the auto gate — the pool
    * the round-17/18 probes measured (driver collect bounded by
    * `batch * pool` rows, never vocab/corpus size).
    */
  val GreedyDefaultPool = 8

  def bpeTrainMergesBatched(docs: DataFrame, rounds: Int, batch: Int,
                            greedyPool: Int = 0): DataFrame =
    bpeTrainMergesBatchedByRound(docs, rounds, batch, greedyPool)
      .select(col("iter"), col("sym_a"), col("sym_b"), col("merged"),
        col("weighted_count"))

  /** [[bpeTrainMergesBatched]] plus a leading `round` column — which
    * pair-count wave committed each merge. `iter` is a GLOBAL merge
    * ordinal in (round, rank) order, so it can NOT recover the wave
    * boundaries (ADVICE r17: a probe that treated iter as a round
    * index silently compared the wrong waves). The round column is
    * what "train for r waves yields exactly the first r waves"
    * reads off: filter(round <= r) IS the r-wave training.
    */
  def bpeTrainMergesBatchedByRound(docs: DataFrame, rounds: Int, batch: Int,
                                   greedyPool: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    require(batch >= 1, s"batch must be >= 1 (got $batch)")
    // resolve the size gate once (scaladoc above): explicit pool wins,
    // 0 = auto (cascade at vocab-scale batches unless the process-wide
    // prop forces grouped), negative = force grouped
    val effPool =
      if (greedyPool > 0) greedyPool
      else if (greedyPool == 0 && batch >= GreedyBatchGate &&
        !sys.props.get("graft.bpe.select").contains("grouped")) GreedyDefaultPool
      else 0
    val base = docs
      .select(explode(tokens).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), expr("filter(split(w, ''), x -> x <> '')").as("seq"))
      .persist()
    var seqs = base
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, String, String, Long)]
    try {
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val pairs = seqs.filter(size(col("seq")) >= 2)
          .select(col("freq"), explode(zip_with(
            expr("slice(seq, 1, size(seq) - 1)"),
            expr("slice(seq, 2, size(seq) - 1)"),
            (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
        val selected: Array[(String, String, Long)] = if (effPool > 0) {
          // greedy cascade (scaladoc above): rank order is the
          // same (cnt desc, a, b); disjointness enforced driver-side
          val top = pairs
            .orderBy(col("cnt").desc, col("a"), col("b"))
            .limit(batch * effPool)
            .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          val used = scala.collection.mutable.HashSet.empty[String]
          val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
          var j = 0
          while (j < top.length && sel.length < batch) {
            val (a, b, c) = top(j)
            val m = a + b
            if (!used(a) && !used(b) && !used(m)) {
              sel += ((a, b, c)); used += a; used += b; used += m
            }
            j += 1
          }
          sel.toArray
        } else {
          // rank key without a global sort: struct orders lexicographically,
          // so min(key) per token group IS "best (cnt desc, a, b) rank"
          val keyed = pairs.withColumn("key",
            struct((-col("cnt")).as("nc"), col("a"), col("b")))
          val symMin = keyed
            .select(explode(array(col("a"), col("b"),
              concat(col("a"), col("b")))).as("sym"), col("key"))
            .groupBy(col("sym")).agg(min(col("key")).as("mk"))
          keyed
            .join(symMin.as("ma"), col("a") === col("ma.sym"))
            .join(symMin.as("mb"), col("b") === col("mb.sym"))
            .join(symMin.as("mm"), concat(col("a"), col("b")) === col("mm.sym"))
            .filter(col("key") === col("ma.mk") && col("key") === col("mb.mk") &&
              col("key") === col("mm.mk"))
            .select(col("a"), col("b"), col("cnt"))
            // driver collect bounded by `batch` rows (≤ batch symbol
            // pairs + a count each), NEVER by corpus or vocab size —
            // the standard data-parallel BPE layout: rules live on the
            // driver, word states stay distributed
            .orderBy(col("cnt").desc, col("a"), col("b")).limit(batch)
            .collect().map(row =>
              (row.getString(0), row.getString(1), row.getLong(2)))
        }
        if (selected.isEmpty) exhausted = true
        else {
          val off = learned.length
          learned ++= selected.zipWithIndex.map { case ((a, b, c), j) =>
            (r.toLong, (off + j + 1).toLong, a, b, a + b, c) }
          if (r < rounds) {
            // ONE pass applying every selected rule: token-disjointness
            // means at most one rule matches a position, so the when
            // chain's order is immaterial
            val folded = aggregate(
              expr("slice(seq, 2, size(seq) - 1)"),
              array(element_at(col("seq"), 1)),
              (acc, x) => selected.foldRight(
                concat(acc, array(x)): org.apache.spark.sql.Column) {
                case ((a, b, _), els) =>
                  when(x === lit(b) && element_at(acc, -1) === lit(a),
                    concat(slice(acc, lit(1), size(acc) - lit(1)),
                      array(lit(a + b)))).otherwise(els)
              })
            val next = Dedup.trackCheckpoint(seqs.select(col("freq"),
              when(size(col("seq")) < 2, col("seq")).otherwise(folded).as("seq"))
              .localCheckpoint())
            Dedup.releaseCheckpoint(seqs) // superseded round's blocks
            seqs = next
          }
        }
        r += 1
      }
    } finally base.unpersist()
    learned.toSeq
      .toDF("round", "iter", "sym_a", "sym_b", "merged", "weighted_count")
      .orderBy(col("iter"))
  }

  /** Persist a BATCHED-trained vocab as the standard artifact
    * ([[persistBpeVocab]]'s exact layout: merges/vocab/meta tables,
    * base alphabet sorted → ids 0..C-1, merge i → id C+i-1,
    * first-id-wins), so every downstream consumer —
    * [[bpeEncodeIdsFromVocab]], the encoded-corpus state, the packers,
    * the streaming encode front — runs under the scale-variant
    * tokenizer UNCHANGED. Sound because [[applyMergeWaves]] re-runs
    * exactly the batched training's per-round single-pass folds:
    * within a round the selected pairs are token-disjoint, so any
    * application order (including one pass) produces the same symbol
    * sequences.
    */
  def persistBpeVocabBatched(docs: DataFrame, rounds: Int, batch: Int,
                             path: String, greedyPool: Int = 0): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val learned = bpeTrainMergesBatched(docs, rounds, batch, greedyPool)
      .as[(Long, String, String, String, Long)].collect().toSeq
    // the id layout comes from the ONE shared assembler
    // (vocabFromTraining — base alphabet sorted, merge i → C+i-1,
    // first-id-wins), so the batched artifact can never drift from the
    // classic one. The alphabet depends only on the word SET, so the
    // dedup'd word frame stands in for the trainer's word states (one
    // extra tokenize+distinct pass — the same cost class as training's
    // own first pass).
    val words = docs.select(explode(tokens).as("w"))
      .filter(length(col("w")) > 0).distinct()
    val (chars, vocab) = vocabFromTraining(words, learned)
    learned.toDF("iter", "sym_a", "sym_b", "merged", "weighted_count")
      .write.mode("overwrite").parquet(s"$path/merges")
    vocab.toSeq.toDF("token", "id")
      .write.mode("overwrite").parquet(s"$path/vocab")
    val unkId = if (vocab.isEmpty) 0 else vocab.values.max + 1
    Seq((unkId, learned.length, chars.length))
      .toDF("unk_id", "merges", "n_base")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Apply BPE end-to-end: train `merges` merges on the corpus, encode
    * every word with them, and return the corpus-wide token histogram
    * (token, n_tokens) ordered by (n_tokens desc, token) — the "what
    * does the tokenizer actually emit over this corpus" question that
    * sizes a training run (token counts, OOV tails, merge coverage).
    *
    * Costs exactly the training pass plus one explode + combinable
    * groupBy over the dedup'd (word, freq) vocab — the corpus is still
    * touched only once (the initial word count), so corpus scale
    * changes nothing after that first shuffle. The result is tiny by
    * construction: the token vocabulary is (distinct characters +
    * `merges` learned symbols) at most.
    */
  def bpeEncodeCounts(docs: DataFrame, merges: Int): DataFrame = {
    val (_, seqs) = bpeTrain(docs, merges, foldLast = true)
    seqs.select(col("freq"), explode(col("seq")).as("token"))
      .groupBy(col("token")).agg(sum(col("freq")).as("n_tokens"))
      .orderBy(col("n_tokens").desc, col("token"))
  }

  /** Tokenized-sequence MATERIALIZATION: per-document token-ID arrays
    * under the trained BPE vocabulary — the artifact a training run
    * actually consumes (q131's histogram sizes the corpus; this is
    * the corpus). Returns `(ids frame, vocab frame)` from ONE
    * training pass:
    *
    *  - vocab: `(token, id)` with the reference BPE id layout — the
    *    base alphabet (every distinct character of the dedup'd word
    *    vocab) sorted ascending takes ids `0..C-1`, then merge round
    *    `i` takes id `C + i - 1` in learning order. If a merge
    *    re-produces an existing token string the FIRST id wins (ids
    *    must stay a function of the token string).
    *  - ids: `(doc_id, ids, n_tokens)` — each document's
    *    whitespace-lowered words encoded by the trained merges and
    *    mapped to ids, concatenated in word order.
    *
    * Scale shape: the corpus is touched exactly TWICE — once by
    * training's word-frequency count, once by the final
    * posexplode → join → regroup that rebuilds per-doc order. Words
    * are encoded ONCE EACH on the dedup'd vocab (the same
    * never-re-fold-the-corpus discipline as training); documents then
    * reach their ids through a plain equi-join on the word (AQE
    * broadcasts the vocab side when it fits; at 100 TB it shuffles —
    * either way no all-pairs, no driver data). The id map itself is
    * a broadcast literal (base alphabet + `merges` symbols — a few
    * hundred entries at most). Per-doc arrays are bounded by the
    * document's own length, the same boundedness argument as
    * [[graft.operators.TextPrep.packSequences]].
    */
  def bpeEncodeIdsWithVocab(docs: DataFrame, merges: Int,
                            encodeDocs: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val (learned, seqs) = bpeTrain(docs, merges, foldLast = true)
    val (chars, vocab) = vocabFromTraining(seqs, learned)
    val vocabDf = {
      import spark.implicits._
      vocab.toSeq.toDF("token", "id").orderBy(col("id"))
    }
    // every symbol in a folded seq is a base char or a learned merge,
    // so the literal-map lookup is total by construction
    val idOf = typedLit(vocab.toMap)
    val wordIds = seqs.select(col("w"),
      transform(col("seq"), t => element_at(idOf, t)).as("ids"))
    (assembleDocIds(encodeDocs.getOrElse(docs), wordIds), vocabDf)
  }

  /** [[bpeEncodeIdsWithVocab]] without the vocab frame — the catalog
    * entry point (q169 feeds these ids into the sequence packer).
    *
    * `encodeDocs` splits the TRAIN corpus from the ENCODE corpus: the
    * vocab (merges + ids — a corpus-level artifact whose ids must not
    * shift with the selection) still trains on `docs`, but the per-doc
    * posexplode → word join → regroup assembly runs only over
    * `encodeDocs`. Documents encode independently, so for any
    * `encodeDocs ⊆ docs` this equals the full encode filtered to those
    * doc_ids row-for-row — it just never assembles the documents a
    * downstream filter would drop (the catalog's `doc_id < 50` /
    * curated-selection consumers paid the full-corpus assembly to keep
    * ~1-8% of its rows). MUST be a subset of `docs`: the inline
    * encoder has no unk id, so a word outside the trained vocabulary
    * would silently drop from the assembly join rather than encode.
    */
  def bpeEncodeIds(docs: DataFrame, merges: Int,
                   encodeDocs: Option[DataFrame] = None): DataFrame =
    bpeEncodeIdsWithVocab(docs, merges, encodeDocs)._1

  /** Tokenizer FERTILITY by language: tokens-per-char under the
    * trained vocab, the standard tokenizer-evaluation metric (a vocab
    * trained on one language mix over-segments the under-represented
    * languages — this is the table that shows it). One encode pass
    * (word-distinct fold, the [[bpeEncodeIds]] path) then a pure
    * column aggregation; docs whose text tokenizes to nothing still
    * count toward n_docs with zero tokens (left join + coalesce —
    * the encode's doc assembly drops them). Division is two exact
    * BIGINTs cast to double, so the IEEE result is engine-portable.
    *
    * Scale shape: the encode is the cost; the per-lang rollup is a
    * map-side-combinable agg over |langs| groups. At 100 TB this is
    * the encode pass you were already paying plus one tiny shuffle.
    * Output: (lang, n_docs, bpe_tokens, n_chars, tokens_per_char)
    * ordered by lang.
    */
  def tokenizerFertility(docs: DataFrame, merges: Int): DataFrame = {
    val enc = bpeEncodeIds(docs, merges).select(col("doc_id"), col("n_tokens"))
    docs.join(enc, Seq("doc_id"), "left")
      .select(col("lang"), coalesce(col("n_tokens"), lit(0L)).as("nt"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("bpe_tokens"),
        sum(col("n_chars")).as("n_chars"),
        (sum(col("nt")).cast("double") / sum(col("n_chars")).cast("double"))
          .as("tokens_per_char"))
      .orderBy(col("lang"))
  }

  /** The reference id layout off a finished training pass: base
    * alphabet (distinct pre-merge characters of the dedup'd words,
    * sorted) takes ids 0..C-1, merge round i takes C+i-1, first id
    * wins on a string collision. The chars collect is the ALPHABET,
    * not data. */
  private def vocabFromTraining(seqs: DataFrame,
                                learned: Seq[(Long, String, String, String, Long)])
  : (Array[String], scala.collection.mutable.LinkedHashMap[String, Int]) = {
    val chars = seqs
      .select(explode(expr("filter(split(w, ''), x -> x <> '')")).as("t"))
      .distinct().orderBy(col("t")).collect().map(_.getString(0))
    val vocab = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    chars.zipWithIndex.foreach { case (c, i) => vocab(c) = i }
    learned.foreach { case (iter, _, _, merged, _) =>
      if (!vocab.contains(merged)) vocab(merged) = chars.length + iter.toInt - 1
    }
    (chars, vocab)
  }

  /** Rebuild per-document id arrays from a word→ids map: one
    * posexplode + equi-join on the word + per-doc regroup in word
    * order. Shared by the inline and the persisted-vocab encoders so
    * the assembly rule can never drift between them. */
  private def assembleDocIds(docs: DataFrame, wordIds: DataFrame): DataFrame = {
    val joined = docs
      .select(col("doc_id"), posexplode(tokens).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
      .join(wordIds, Seq("w"))
    // single payload exchange by default (the
    // graft.operators.TextPrep.shardTable discipline): range-partition
    // the word rows on doc_id BEFORE the regroup, so the aggregate
    // reuses the partitioning and the contract's orderBy below sorts
    // partition-local instead of re-exchanging the assembled id
    // arrays. The trade is RangePartitioning's sampling pass, which
    // re-executes the tokenize+join child once (CPU, no shuffle) — on
    // a cluster, halving the network payload wins; on one box with
    // in-memory shuffle the extra CPU pass can cost more than the
    // exchange it saves (priced in tools/scaleprobe_r16_encode.jsonl).
    // `-Dgraft.encode.assemble=hash` selects the old two-exchange
    // shape (hash-agg, then the orderBy range-exchanges the arrays)
    // for single-box deployments that prefer that trade.
    val pre =
      if (sys.props.get("graft.encode.assemble").contains("hash")) joined
      else joined.repartitionByRange(col("doc_id"))
    pre
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("ids")))),
        x => x.getField("ids"))).as("ids"))
      .select(col("doc_id"), col("ids"), size(col("ids")).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Apply a TRAINED merge list to a (w, seq) words frame, one fold
    * pass per token-disjoint WAVE — [[bpeTrain]]'s greedy
    * left-to-right fold minus the counting (the merges are already
    * decided). Merges within a wave are pairwise token-disjoint
    * ([[loadBpeVocabArtifact]] groups them), so the single when-chain
    * pass applies them all at once with a result identical to
    * sequential application — which is why this is the 100 TB encode
    * shape: a 32k-merge vocab applies in a few hundred disjoint runs,
    * not 32k sequential column folds. Singleton waves degenerate to
    * the per-merge fold unchanged. Same per-wave localCheckpoint
    * discipline (without it the fold expression grows ~5^waves under
    * project-collapse). */
  private def applyMergeWaves(words: DataFrame,
                              waves: Seq[Seq[(String, String)]]): DataFrame = {
    var seqs = words
    // only frames THIS loop checkpointed may be released here — the
    // caller owns `words` (round-17 leak: a 192-wave encode pinned 192
    // superseded checkpoint copies until an eventual driver GC let
    // ContextCleaner at them; across a 190-query sweep that turns into
    // block-store eviction churn for every later query)
    var owned = false
    waves.foreach { wave =>
      val folded = aggregate(
        expr("slice(seq, 2, size(seq) - 1)"),
        array(element_at(col("seq"), 1)),
        (acc, x) => wave.foldRight(
          concat(acc, array(x)): org.apache.spark.sql.Column) {
          case ((a, b), els) =>
            when(x === lit(b) && element_at(acc, -1) === lit(a),
              concat(slice(acc, lit(1), size(acc) - lit(1)), array(lit(a + b))))
              .otherwise(els)
        })
      val next = Dedup.trackCheckpoint(seqs.select(col("w"),
        when(size(col("seq")) < 2, col("seq")).otherwise(folded).as("seq"))
        .localCheckpoint())
      if (owned) Dedup.releaseCheckpoint(seqs)
      seqs = next
      owned = true
    }
    seqs
  }

  /** PERSIST a trained tokenizer as a lake artifact — the
    * build-once/apply-many discipline of the IVF/PQ/signature tiers
    * applied to the vocabulary: `path/merges` (the learned merge
    * table in order), `path/vocab` (token → id under the reference
    * layout), `path/meta` (unk id + params). A tokenizer is trained
    * ONCE and then applied to every ingest batch forever; nothing
    * downstream may retrain it implicitly (ids would shift corpus-
    * wide), so the artifact is overwrite-only here and versioning is
    * the caller's deployment event, like PQ codebook retraining.
    * The artifact is merges+alphabet-sized — the thing a tokenizer
    * ships — never corpus-sized.
    */
  def persistBpeVocab(docs: DataFrame, merges: Int, path: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (learned, seqs) = bpeTrain(docs, merges, foldLast = false)
    val (chars, vocab) = vocabFromTraining(seqs, learned)
    learned.toDF("iter", "sym_a", "sym_b", "merged", "weighted_count")
      .write.mode("overwrite").parquet(s"$path/merges")
    vocab.toSeq.toDF("token", "id")
      .write.mode("overwrite").parquet(s"$path/vocab")
    // the unk id lives in meta, NOT as a magic token string in the
    // vocab table — a corpus token could legitimately spell any
    // sentinel string we might choose
    val unkId = if (vocab.isEmpty) 0 else vocab.values.max + 1
    Seq((unkId, merges, chars.length))
      .toDF("unk_id", "merges", "n_base")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Encode documents against a PERSISTED vocab — the daily-ingest
    * form: the frozen merges apply to the batch's dedup'd words (the
    * same fold, corpus never re-trained), ids come from the stored
    * token table, and any symbol outside the trained vocabulary maps
    * to the artifact's unk id (an unseen WORD of seen characters
    * still encodes through its chars/merges — reference-BPE
    * behavior; only genuinely novel characters fall back to unk).
    * Over the training corpus itself this equals [[bpeEncodeIds]]
    * exactly (q171 shares q169's oracle verbatim).
    */
  def bpeEncodeIdsFromVocab(docs: DataFrame,
                            spark: org.apache.spark.sql.SparkSession,
                            path: String): DataFrame =
    bpeEncodeIdsWith(docs, loadBpeVocabArtifact(spark, path))

  /** The COLLECTED vocab artifact: the frozen merge list, the token→id
    * table and the unk id, held driver-side. Loading it is three small
    * driver jobs ([[loadBpeVocabArtifact]]); a caller that encodes many
    * batches under one frozen vocab — the streaming drain above all —
    * loads ONCE and encodes with [[bpeEncodeIdsWith]], instead of
    * paying the three jobs per micro-batch
    * (tools/scaleprobe_r15_encode.jsonl prices the difference).
    */
  final case class BpeVocabArtifact(mergeWaves: Seq[Seq[(String, String)]],
                                    vocabMap: Map[String, Int], unkId: Int)

  def loadBpeVocabArtifact(spark: org.apache.spark.sql.SparkSession,
                           path: String): BpeVocabArtifact = {
    // group the ordered merge list into maximal TOKEN-DISJOINT runs:
    // merges whose {a, b, ab} symbol sets don't intersect apply in one
    // fold pass with a result identical to sequential application (a
    // merge cannot create or destroy adjacencies of a pair disjoint
    // from its own symbols — the batched trainer's own soundness
    // argument, applied at load time). This is what keeps encode at
    // O(waves) column folds instead of O(merges): a 32k-merge vocab is
    // a few hundred disjoint runs, not 32k sequential localCheckpoints.
    val flat = spark.read.parquet(s"$path/merges").orderBy(col("iter"))
      .select(col("sym_a"), col("sym_b")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val waves = scala.collection.mutable.ArrayBuffer.empty[Vector[(String, String)]]
    var used = Set.empty[String]
    flat.foreach { case (a, b) =>
      val syms = Set(a, b, a + b)
      if (waves.nonEmpty && (used & syms).isEmpty) {
        waves(waves.length - 1) = waves.last :+ ((a, b)); used ++= syms
      } else {
        waves += Vector((a, b)); used = syms
      }
    }
    val vocabMap = spark.read.parquet(s"$path/vocab").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val unkId = spark.read.parquet(s"$path/meta")
      .select(col("unk_id")).head().getInt(0)
    BpeVocabArtifact(waves.map(_.toSeq).toSeq, vocabMap, unkId)
  }

  /** Encode against an already-loaded artifact — the repeated-encode
    * form of [[bpeEncodeIdsFromVocab]] (identical output). */
  def bpeEncodeIdsWith(docs: DataFrame, art: BpeVocabArtifact): DataFrame = {
    val words = docs.select(explode(tokens).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .select(col("w"), expr("filter(split(w, ''), x -> x <> '')").as("seq"))
    val idOf = typedLit(art.vocabMap)
    val wordIds = applyMergeWaves(words, art.mergeWaves).select(col("w"),
      transform(col("seq"), t => coalesce(element_at(idOf, t), lit(art.unkId))).as("ids"))
    assembleDocIds(docs, wordIds)
  }

  // ---- The ENCODED CORPUS as persisted state: (doc_id, ids) rows
  // under a frozen vocab artifact, maintained by the daily loop like
  // the signature/IVF/PQ tiers — content-addressed tombstones for
  // edits/removals, key+content-filtered appends for retries, cadence-
  // gated compaction. `fp` (md5 of the id array's canonical string)
  // makes tombstone rows scalar-only, so the merge-on-read anti-join
  // broadcasts |edits| scalars exactly like the signature view. ----

  private def withIdsFp(enc: DataFrame): DataFrame =
    enc.withColumn("fp", md5(col("ids").cast("string")))

  /** Day-0 build: encode `docs` against the vocab artifact at
    * `vocabPath` and overwrite the encoded-corpus table. */
  def persistEncodedCorpus(docs: DataFrame, spark: org.apache.spark.sql.SparkSession,
                           vocabPath: String, encPath: String): Unit =
    withIdsFp(bpeEncodeIdsFromVocab(docs, spark, vocabPath))
      .write.mode("overwrite").parquet(StateTable(spark, encPath).path(StateTable.Ids))

  /** Merge-on-read view: stored rows minus outstanding tombstones
    * (broadcast anti-join on (doc_id, fp) — |tombstones| scalar rows,
    * zero cost when the table is clean). A missing ids dir IS the
    * empty table: appends are skipped for provably-empty batches, so
    * a feed whose files were all zero-row never creates the dir, yet
    * re-drain probes still need to read the (empty) live view. */
  def loadEncodedCorpus(spark: org.apache.spark.sql.SparkSession,
                        encPath: String): DataFrame = {
    val st = StateTable(spark, encPath)
    if (!st.exists(StateTable.Ids))
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ids",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.IntegerType)),
          org.apache.spark.sql.types.StructField("n_tokens",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.StringType))))
    st.live(StateTable.Ids, broadcastTombstones = true)
  }

  /** Append a batch's encodings, key+content-filtered against the live
    * view so a retried turn appends nothing. */
  def appendEncodedDocs(batch: DataFrame, spark: org.apache.spark.sql.SparkSession,
                        vocabPath: String, encPath: String): Unit =
    appendEncodedDocsWith(batch, spark, loadBpeVocabArtifact(spark, vocabPath), encPath)

  /** [[appendEncodedDocs]] with an already-loaded artifact — the
    * per-micro-batch form the streaming drain uses (one artifact load
    * per drain, not per batch). */
  def appendEncodedDocsWith(batch: DataFrame, spark: org.apache.spark.sql.SparkSession,
                            art: BpeVocabArtifact, encPath: String): Unit = {
    // deltaAntiState keeps the STATE un-shuffled past broadcast size:
    // an anti join can only build right, so the plain form exchanged
    // the full live-key table every append once it outgrew broadcast
    // (per micro-batch in the stream front; per turn in the daily
    // loop). Below broadcast size it IS the plain anti — no extra jobs.
    StateTable(spark, encPath).append(StateTable.Ids, graft.operators.Dedup.deltaAntiState(
      withIdsFp(bpeEncodeIdsWith(batch, art)),
      loadEncodedCorpus(spark, encPath).select(col("doc_id"), col("fp")),
      Seq("doc_id", "fp")))
  }


  /** O(|edits|) heal: tombstone the live rows of changed/removed keys
    * whose content no longer matches, append the changed docs' fresh
    * encodings. Both sides are no-op-cancelling, so a duplicated heal
    * writes nothing (the [[graft.operators.Dedup.tombstoneSignatures]]
    * discipline): after the first heal the live rows CARRY the fresh
    * fingerprints, so the second pass selects and appends nothing.
    */
  def tombstoneEncodedDocs(changedDocs: DataFrame,
                           spark: org.apache.spark.sql.SparkSession,
                           vocabPath: String, encPath: String,
                           removedKeys: DataFrame): Unit = {
    val fresh = graft.operators.Dedup.materialize(
      withIdsFp(bpeEncodeIdsFromVocab(changedDocs, spark, vocabPath)))
    val live = loadEncodedCorpus(spark, encPath).select(col("doc_id"), col("fp"))
    // |edits|-sized probes ride deltaProbeSide: past broadcastable
    // state they pin+broadcast so the live table is scanned map-side,
    // never exchanged, by either tombstone branch
    val staleOfChanged = live
      .join(graft.operators.Dedup.deltaProbeSide(
        fresh.select(col("doc_id"), col("fp").as("nfp")), live), Seq("doc_id"))
      .filter(col("fp") =!= col("nfp")).select(col("doc_id"), col("fp"))
    val ofRemoved = live.join(graft.operators.Dedup.deltaProbeSide(
        removedKeys.select(col("doc_id")), live), Seq("doc_id"))
      .select(col("doc_id"), col("fp"))
    val st = StateTable(spark, encPath)
    st.appendTombstones(staleOfChanged.unionByName(ofRemoved).distinct())
    st.append(StateTable.Ids, graft.operators.Dedup.deltaAntiState(fresh,
      loadEncodedCorpus(spark, encPath).select(col("doc_id"), col("fp")),
      Seq("doc_id", "fp")))
  }

  /** Fold tombstones away: commit the table's live view minus
    * `staleKeys` as a new generation ([[StateTable.commit]]).
    * Afterwards the table equals a fresh [[persistEncodedCorpus]] build
    * over the current corpus. */
  def compactEncodedCorpus(spark: org.apache.spark.sql.SparkSession,
                           encPath: String, staleKeys: DataFrame): Unit = {
    val st = StateTable(spark, encPath)
    // a table that was never created (born-empty tier: every append so
    // far was skipped as provably empty) has nothing to rewrite
    if (st.exists(StateTable.Ids))
      st.commit(StateTable.Ids) { p =>
        loadEncodedCorpus(spark, encPath)
          .join(staleKeys.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .write.parquet(p(StateTable.Ids))
      }
  }

  /** [[compactEncodedCorpus]] gated on the cadence rule
    * ([[StateTable.due]]). Returns whether the rewrite ran. */
  def compactEncodedCorpusIfNeeded(spark: org.apache.spark.sql.SparkSession,
                                   encPath: String, staleKeys: DataFrame,
                                   maxTombstoneFrac: Double = 0.1): Boolean = {
    val due = StateTable(spark, encPath).due(StateTable.Ids, maxTombstoneFrac)
    if (due) compactEncodedCorpus(spark, encPath, staleKeys)
    due
  }

  /** Content fingerprints of the whitespace-normalized text (stable
    * under reformatting): full md5, a 32-bit md5-prefix fingerprint,
    * and a polynomial rolling hash (base 31 mod 2^31-1) — the
    * incremental-update-friendly variant a chunking pipeline extends
    * to sliding windows. Output: (doc_id, fp, fp32, fp_roll) ordered.
    */
  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", public NeurIPS
    * paper): every NON-target document scored by how target-like its
    * hashed-unigram distribution is — the standard lever for steering
    * a raw web corpus toward a quality domain without training a
    * model. Features are portable-hashed token buckets
    * ([[PortableHash.hash32]] mod `buckets`); the weight is the
    * per-token average log-likelihood ratio
    * `Σ_b tf_b · (ln p_target(b) − ln p_source(b)) / n_tokens`
    * under add-1-smoothed bucket unigram distributions (target =
    * `source == targetSource` docs; source = everything else, the
    * population being resampled).
    *
    * Scale shape: two map-side-combinable aggregations (per-doc bucket
    * tf; per-bucket corpus counts), then the `buckets`-row log-ratio
    * table BROADCASTS onto the doc-bucket frame — the corpus is never
    * joined against itself and nothing scales past Σ tokens. Per-doc
    * sums accumulate in DECIMAL(28,9) (order-independent under any
    * partitioning, the [[unigramLogProb]] discipline), so the score
    * hash-matches the oracle bit-for-bit.
    * Output: (doc_id, n_tokens, avg_log_ratio) over non-target docs,
    * ordered by doc_id. Positive = more target-like than the source
    * average. `ngram` selects the feature order: 1 = hashed unigrams
    * (the cheap default), 2 = hashed bigrams — the feature set Xie et
    * al. report as best-performing (see [[dsirTf]]).
    */
  def dsirWeights(docs: DataFrame, targetSource: String, buckets: Int = 64,
                  ngram: Int = 1): DataFrame =
    unorderedWeights(docs, targetSource, buckets, ngram).orderBy(col("doc_id"))

  /** [[dsirWeights]] without its output order, for consumers that
    * impose their own. */
  private def unorderedWeights(docs: DataFrame, targetSource: String, buckets: Int,
                               ngram: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2 (got $buckets)")
    require(ngram >= 1, s"ngram must be >= 1 (got $ngram)")
    // tf feeds BOTH the bucket-count build and the score join. Left
    // lazy, the two consumers are near-identical subtrees that
    // Catalyst CANNOT reuse: the score side's `source != target`
    // filter (on a grouping column) is pushed below its aggregate to
    // the scan, so the canonicalized exchanges differ and the corpus
    // pays the tokenize/shingle explode twice per run (two Generate
    // branches in q158's plan). Pinning the doc-bucket frame — tiny
    // by construction, ≤ `buckets` rows per doc — collapses that to
    // ONE explode pass plus a checkpoint of the aggregated rows.
    val tf = graft.operators.Dedup.materialize(dsirTf(docs, buckets, ngram))
    dsirScore(tf, dsirBucketCounts(tf, targetSource), targetSource, buckets)
  }

  /** Per-bucket target/source token counts from a doc-bucket tf frame
    * — ONE definition shared by the inline path and the persisted
    * state writer, so the q155 state-equals-full-corpus contract can
    * never drift on the counting rule.
    */
  private def dsirBucketCounts(tf: DataFrame, targetSource: String,
                               by: Seq[String] = Nil): DataFrame = {
    val isTarget = col("source") === targetSource
    tf.groupBy((by :+ "b").map(col): _*).agg(
      sum(when(isTarget, col("tf")).otherwise(0L)).as("tc"),
      sum(when(!isTarget, col("tf")).otherwise(0L)).as("sc"))
  }

  /** The shared back half of [[dsirWeights]] and the persisted-state
    * form: bucket counts → broadcast log-ratio table → decimal per-doc
    * sums over the non-target doc-bucket frame. `bucketCounts` must
    * carry (b, tc, sc); `tf` must carry (doc_id, source, b, tf).
    */
  private def dsirScore(tf: DataFrame, bucketCounts: DataFrame,
                        targetSource: String, buckets: Int): DataFrame = {
    // corpus totals as a one-row aggregate crossed onto the ≤ buckets
    // rows: a window keyed on a literal plans as an unpartitioned one
    val totals = bucketCounts.agg(sum(col("tc")).as("tt"), sum(col("sc")).as("st"))
    val lr = bucketCounts.crossJoin(totals)
      .select(col("b"),
        (log((col("tc") + 1L).cast("double") / (col("tt") + buckets)) -
         log((col("sc") + 1L).cast("double") / (col("st") + buckets))).as("lr"))
    tf.filter(col("source") =!= targetSource)
      .join(broadcast(lr), Seq("b"), "left")
      // a bucket the ratio table has never seen means the contract was
      // violated (a batch scored before its counts were appended) —
      // FAIL LOUDLY: an inner join would silently drop those tf rows
      // and emit a plausible-looking weight over a partial token set.
      // The inline path cannot hit this (its table derives from tf).
      .withColumn("lr", coalesce(col("lr"), raise_error(format_string(
        "dsir: bucket %s absent from the distribution table — score a " +
          "batch only AFTER persistDsirState appended its counts", col("b")))
        .cast("double")))
      .withColumn("wl", (col("lr") * col("tf")).cast("decimal(28,9)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("wl")).as("w_sum"), sum(col("tf")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (col("w_sum").cast("double") / col("n_tokens")).as("avg_log_ratio"))
  }

  /** Per-doc hashed-bucket term frequencies — the front half shared by
    * the inline and persisted DSIR paths. `ngram = 1` hashes single
    * whitespace tokens (bit-compatible with the original unigram tier);
    * `ngram >= 2` hashes space-joined word n-grams, the Dedup.shingles
    * windowing WITHOUT the distinct (these are term FREQUENCIES) —
    * Xie et al. 2023 report hashed BIGRAMS as the best-performing
    * feature set, so 2 is the quality default and 1 the cheap one.
    * Docs shorter than `ngram` tokens contribute no features and drop
    * out of the scored population, exactly as zero-token docs do at
    * ngram = 1.
    */
  private def dsirTf(docs: DataFrame, buckets: Int, ngram: Int,
                     carry: Seq[String] = Nil): DataFrame = {
    val keys = (Seq("doc_id", "source") ++ carry).map(col)
    val grams =
      if (ngram == 1)
        docs.select(keys :+ explode(tokens).as("t"): _*)
      else
        docs.select(keys :+ tokens.as("w"): _*)
          .filter(size(col("w")) >= ngram)
          .select(keys :+ explode(expr(
            s"transform(sequence(0, size(w)-$ngram), i -> array_join(slice(w, i+1, $ngram), ' '))"
          )).as("t"): _*)
    grams
      .select(keys :+ (PortableHash.hash32(col("t")) % buckets).as("b"): _*)
      .groupBy(keys :+ col("b"): _*)
      .agg(count(lit(1)).as("tf"))
  }

  /** Total n-gram count of a batch under the given (buckets, ngram)
    * params — the cell-additive invariant
    * [[graft.streaming.DsirStream.migratePositionalBids]] checks per
    * positional bid before trusting the batch-to-file numbering: a
    * bid's (tc+sc) state total must equal its presumed file's recount.
    */
  private[graft] def dsirBatchTotal(batch: DataFrame, buckets: Int, ngram: Int): Long =
    dsirTf(batch, buckets, ngram)
      .agg(coalesce(sum(col("tf")), lit(0L)).as("t")).head().getLong(0)

  /** Persist a batch's DSIR bucket counts as ADDITIVE state: one
    * appended parquet table of (b, tc, sc) rows per batch. Counts are
    * pure sums, so state from any sequence of appends equals the
    * counts of the concatenated corpus — the same cell-additive
    * contract as the KMV/CMS/centroid state tier (q139/q147/q148),
    * which is what makes the backfill read STATE, not documents.
    * Single-table appends: a torn write can lose a batch's rows but
    * can never corrupt previously committed ones.
    */
  def persistDsirState(batch: DataFrame, targetSource: String,
                       statePath: String, buckets: Int = 64,
                       ngram: Int = 1, batchId: String = "",
                       knownBids: Option[scala.collection.Set[String]] = None): Unit = {
    require(buckets >= 2, s"buckets must be >= 2 (got $buckets)")
    require(ngram >= 1, s"ngram must be >= 1 (got $ngram)")
    // the bucket count AND the n-gram order ride every state row: a
    // reader hashing at a DIFFERENT count maps tokens into a
    // subset/superset of the state's bucket domain — the subset case
    // never hits the unseen-bucket raise and would score silently
    // wrong — and counts accumulated over unigrams are meaningless
    // against bigram features (both land in [0, buckets), so NOTHING
    // at the bucket level betrays the mix). Both mismatches must be
    // detectable from the state itself.
    appendDsirCells(
      dsirBucketCounts(dsirTf(batch, buckets, ngram), targetSource),
      statePath, buckets, ngram, s"persist:$batchId", batchId.nonEmpty, knownBids)
  }

  /** [[persistDsirState]] for several batches in one job: each row's
    * batch id is in its `bidCol` column, cells are counted per (batch
    * id, bucket), and each batch's cells carry the stamp
    * `persist:<batch id>` — the stamp its own [[persistDsirState]] call
    * would land, so a later replay check decides per batch. No replay
    * check here: the caller passes only rows of batches whose stamp the
    * state lacks.
    */
  def persistDsirStateByBatch(batch: DataFrame, bidCol: String, targetSource: String,
                              statePath: String, buckets: Int, ngram: Int): Unit = {
    require(buckets >= 2, s"buckets must be >= 2 (got $buckets)")
    require(ngram >= 1, s"ngram must be >= 1 (got $ngram)")
    writeDsirCells(
      dsirBucketCounts(dsirTf(batch, buckets, ngram, Seq(bidCol)), targetSource, Seq(bidCol))
        .withColumn("bid", concat(lit("persist:"), col(bidCol))).drop(bidCol),
      statePath, buckets, ngram)
  }

  /** The shared DSIR state append: stamps the param and batch-identity
    * columns and, when `checkReplay`, SKIPS the write if this exact
    * (operation-qualified) batch id already landed — the sum-shaped
    * state's replay guard. Counts are additive, so a re-delivered
    * batch would silently DOUBLE its contribution; unlike the
    * key-shaped tiers (whose content-addressed rows make replays
    * self-cancelling) the folded sums carry no per-doc identity, so
    * idempotence must come from an explicit identity the orchestrator
    * owns (its run/execution date — exactly the identity the
    * reference's own retrying DAG already has). An empty batchId
    * stamps `bid = ""` and never checks: at-least-once, the
    * pre-round-12 behavior.
    */
  /** One-shot migration of a pre-stamp DSIR state table to the
    * current layout. Early state rows carried only (b, tc, sc, nb) —
    * the ng (n-gram order) and bid (batch identity) stamps came
    * later. Appending current-layout rows to such a table creates a
    * MIXED-schema parquet dir whose resolved schema depends on which
    * file footer Spark samples (no mergeSchema on the hot read path),
    * so the stamp guards would fail with a confusing
    * AnalysisException instead of their intended messages. Detect the
    * old layout (schema-level or row-level, via a mergeSchema read)
    * and rewrite ONCE with the historical defaults — ngram = 1 (the
    * only order that existed pre-stamp) and bid = "" (at-least-once,
    * no replay identity) — committed as a new generation
    * ([[StateTable.commit]]), so a crash never strands a half-migrated
    * table. Idempotent: a current-layout table returns without touching
    * storage.
    */
  /** Paths already checked/migrated this JVM: every writer to a DSIR
    * state table lives in this process, so one check per path per JVM
    * is sound — and the daily turn touches the state ~5 times
    * (params probe, up to three appends, scoring), so memoizing turns
    * four redundant mergeSchema probes into map lookups.
    */
  private val dsirMigrationChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def migrateDsirStateIfNeeded(spark: org.apache.spark.sql.SparkSession,
                                       statePath: String): Unit = {
    if (dsirMigrationChecked.contains(statePath)) return
    val st = StateTable(spark, statePath)
    if (!st.exists(StateTable.Buckets)) return
    // mergeSchema: a mixed dir must resolve to the UNION schema here,
    // whatever footer the default reader would have sampled
    val raw = spark.read.option("mergeSchema", "true").parquet(st.path(StateTable.Buckets))
    val cols = raw.columns.toSet
    require(cols.contains("nb"),
      s"dsir state at $statePath carries no nb (bucket count) stamp — " +
        "unknown provenance, refusing to append to or migrate it")
    val stale =
      if (!cols.contains("ng") || !cols.contains("bid")) true
      else !raw.filter(col("ng").isNull || col("bid").isNull).limit(1).isEmpty
    if (!stale) { dsirMigrationChecked.add(statePath); return }
    st.commit(StateTable.Buckets) { p =>
      val withNg =
        if (cols.contains("ng")) raw.withColumn("ng", coalesce(col("ng"), lit(1)))
        else raw.withColumn("ng", lit(1))
      val full =
        if (cols.contains("bid")) withNg.withColumn("bid", coalesce(col("bid"), lit("")))
        else withNg.withColumn("bid", lit(""))
      full.write.parquet(p(StateTable.Buckets))
    }
    dsirMigrationChecked.add(statePath)
  }

  private def appendDsirCells(cells: DataFrame, statePath: String,
                              buckets: Int, ngram: Int,
                              bid: String, checkReplay: Boolean,
                              knownBids: Option[scala.collection.Set[String]] = None): Unit = {
    val spark = cells.sparkSession
    migrateDsirStateIfNeeded(spark, statePath)
    // the replay check: a caller holding a pre-read bid snapshot (the
    // daily turn reads the state ONCE via dsirStateSummary) answers it
    // as a set lookup; anyone else pays one small read. The snapshot is
    // sound for the turn's own append sequence — a retry's bids are all
    // in the pre-turn snapshot, and a crash-resume's missing sub-bids
    // are missing from it too, so exactly the unwritten ones land.
    if (checkReplay && (knownBids match {
      case Some(bids) => bids.contains(bid)
      case None => StateTable(spark, statePath).exists(StateTable.Buckets) &&
        !dsirCells(spark, statePath).filter(col("bid") === bid).limit(1).isEmpty
    })) return
    writeDsirCells(cells.withColumn("bid", lit(bid)), statePath, buckets, ngram)
  }

  /** Append stamped (b, tc, sc, bid) cells with the param stamps. */
  private def writeDsirCells(cells: DataFrame, statePath: String,
                             buckets: Int, ngram: Int): Unit = {
    val spark = cells.sparkSession
    migrateDsirStateIfNeeded(spark, statePath)
    StateTable(spark, statePath).append(StateTable.Buckets, cells
      .select(col("b"), col("tc"), col("sc"),
        lit(buckets).as("nb"), lit(ngram).as("ng"), col("bid")))
  }

  /** RETRACT a previously persisted batch's contribution from the
    * DSIR distribution state — the edit/removal path the
    * cell-additive contract makes possible WITHOUT any rewrite: counts
    * are pure integer sums, so appending the NEGATED counts of the
    * superseded rows cancels them exactly (integer addition is
    * associative and invertible), and the state then sums to the
    * current corpus as if the old rows were never there. An edited
    * document is a retract (its old text) + persist (its new text);
    * a removed document is a retract alone. Unlike the signature/index
    * tiers — whose per-key state needs [[graft.operators.Dedup.compactSignatures]]-style
    * key surgery — no compaction pass is ever required here; a
    * periodic [[graft.sources.Sinks.compact]] merging the small
    * per-batch files is purely a file-count optimization.
    *
    * The caller must pass the superseded rows AS PERSISTED (the same
    * text/source the original append saw — the snapshot diff's
    * `old` side provides exactly that); retracting rows that were
    * never appended drives bucket counts negative, the same
    * wrong-worklist misuse class the signature compaction documents.
    * Same (nb, ng) stamp and cross-param rejection as
    * [[persistDsirState]].
    */
  def retractDsirState(supersededRows: DataFrame, targetSource: String,
                       statePath: String, buckets: Int = 64,
                       ngram: Int = 1, batchId: String = "",
                       knownBids: Option[scala.collection.Set[String]] = None): Unit = {
    require(buckets >= 2, s"buckets must be >= 2 (got $buckets)")
    require(ngram >= 1, s"ngram must be >= 1 (got $ngram)")
    // the operation qualifier keeps a retract and a persist of the
    // SAME batch id distinct — an edit is exactly that pair
    appendDsirCells(
      dsirBucketCounts(dsirTf(supersededRows, buckets, ngram), targetSource)
        .select(col("b"), (-col("tc")).as("tc"), (-col("sc")).as("sc")),
      statePath, buckets, ngram, s"retract:$batchId", batchId.nonEmpty, knownBids)
  }

  /** The persisted DSIR cells (b, tc, sc, nb, ng, bid) of a state root. */
  private[graft] def dsirCells(spark: org.apache.spark.sql.SparkSession,
                               statePath: String): DataFrame =
    spark.read.parquet(StateTable(spark, statePath).path(StateTable.Buckets))

  /** The (buckets, ngram) stamp a persisted DSIR state table was
    * written under — for a MAINTAINER (e.g. the daily loop's DSIR
    * tier) that must append/retract at exactly the writer's params
    * without trusting its caller to repeat them correctly. Bounded
    * driver read (the state is `buckets` rows per batch). Requires a
    * single consistent stamp; a mixed table is already poisoned and
    * must fail here rather than grow further.
    */
  def dsirStateParams(spark: org.apache.spark.sql.SparkSession,
                      statePath: String): (Int, Int) = {
    migrateDsirStateIfNeeded(spark, statePath)
    val params = dsirCells(spark, statePath)
      .select(col("nb"), col("ng")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    require(params.length == 1,
      s"dsir state at $statePath carries ${params.length} distinct " +
        s"(buckets, ngram) stamps [${params.mkString(",")}] — expected exactly one")
    params.head
  }

  /** [[dsirStateParams]] plus the state's distinct batch-id stamps, in
    * ONE bounded read — for the daily turn, which otherwise pays a
    * separate small read for the param probe, the derived-stamp
    * context digest, and each of its up-to-three appends' replay
    * checks (~5 driver-coordinated jobs against a table of `buckets`
    * rows per batch). The bid set is a consistent PRE-TURN snapshot:
    * passed as `knownBids` to [[persistDsirState]]/[[retractDsirState]]
    * it answers replay checks as set lookups, and the semantics are
    * exactly the read-per-append ones — a retried turn finds all its
    * bids in the snapshot and skips; a crash-resumed turn finds only
    * the sub-batches that landed and appends the rest. Single writer
    * per state path assumed (as everywhere in this tier).
    */
  def dsirStateSummary(spark: org.apache.spark.sql.SparkSession,
                       statePath: String): (Int, Int, Set[String]) = {
    migrateDsirStateIfNeeded(spark, statePath)
    val rows = dsirCells(spark, statePath)
      .select(col("nb"), col("ng"), col("bid")).distinct()
      .collect()
    val params = rows.map(r => (r.getInt(0), r.getInt(1))).distinct
    require(params.length == 1,
      s"dsir state at $statePath carries ${params.length} distinct " +
        s"(buckets, ngram) stamps [${params.mkString(",")}] — expected exactly one")
    (params.head._1, params.head._2, rows.map(_.getString(2)).toSet)
  }

  /** Score a batch against PERSISTED distribution state: the batch
    * contributes its own token pass (it must — its counts are part of
    * the corpus), but the DISTRIBUTIONS come from the state table's
    * per-bucket sums. After every ingested batch has appended its
    * counts ([[persistDsirState]]), scoring any document slice equals
    * the full-corpus [[dsirWeights]] restricted to that slice —
    * re-scoring under drifted distributions never rescans old text,
    * only the `buckets`-row-per-batch state.
    */
  def dsirWeightsFromState(batch: DataFrame, spark: org.apache.spark.sql.SparkSession,
                           statePath: String, targetSource: String,
                           buckets: Int = 64, ngram: Int = 1): DataFrame = {
    // `buckets` and `ngram` must match the writer's: hashing at a
    // different count maps tokens to buckets the state never saw (the
    // raise_error contract catches the mismatch at run time, with a
    // misleading message — validate here too so the obvious misuse
    // fails clearly), and unigram counts scored against bigram
    // features never trip ANY bucket-level check (same [0, buckets)
    // domain), so the stamped params are the only defense
    require(buckets >= 2, s"buckets must be >= 2 (got $buckets)")
    require(ngram >= 1, s"ngram must be >= 1 (got $ngram)")
    migrateDsirStateIfNeeded(spark, statePath)
    val raw = dsirCells(spark, statePath)
    // ONE bounded driver collect serves both the params validation and
    // the ratio table: the state aggregates to ≤ buckets rows per
    // (nb, ng) combo, so collecting the grouped sums costs the single
    // scan the params-only probe used to cost — and the score join's
    // build side becomes a LocalRelation, cutting the second state
    // scan, the exchange under the totals window, and the broadcast
    // materialization from every read-back (the job-wave constant is
    // the loop tier's dominant cost — VERDICT r18 item 5). Every
    // persisted batch must have hashed at THIS bucket count and n-gram
    // order: a smaller reader count maps into a subset of seen
    // buckets, which the unseen-bucket raise in dsirScore cannot catch.
    val stateRows = raw.groupBy(col("b"), col("nb"), col("ng"))
      .agg(sum(col("tc")).as("tc"), sum(col("sc")).as("sc")).collect()
    val params = stateRows.map(r => (r.getInt(1), r.getInt(2))).distinct.toSeq
    require(params.forall(_ == ((buckets, ngram))),
      s"dsir state at $statePath was written with (buckets, ngram) " +
        s"${params.mkString(",")} but this reader hashes at ($buckets, $ngram) — " +
        "distributions are incomparable across bucket counts or n-gram orders")
    import spark.implicits._
    val state = stateRows.toSeq
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
      .toDF("b", "tc", "sc")
    dsirScore(dsirTf(batch, buckets, ngram), state, targetSource, buckets)
      .orderBy(col("doc_id"))
  }

  /** Importance RESAMPLING on [[dsirWeights]]: the top-`k` most
    * target-like source documents, deterministically tie-broken by
    * doc_id — the selection step that actually builds the steered
    * training mix. The top-k is a TakeOrderedAndProject heap (bounded
    * per-partition memory, no global sort of the corpus); ranks are
    * minted AFTER the k-row cut, over its one partition.
    * Output: (rnk, doc_id, n_tokens, avg_log_ratio) ordered by rnk.
    */
  def dsirResample(docs: DataFrame, targetSource: String, k: Int,
                   buckets: Int = 64, ngram: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val order = Seq(col("avg_log_ratio").desc, col("doc_id"))
    graft.plans.GlobalRank(dsirWeights(docs, targetSource, buckets, ngram)
      .orderBy(order: _*).limit(k), order)
      .select(col("rnk"), col("doc_id"), col("n_tokens"), col("avg_log_ratio"))
      .orderBy(col("rnk"))
  }

  /** BUDGET-constrained DSIR selection — the form a training-mix build
    * actually runs: take documents in decreasing target-likeness until
    * `tokenBudget` tokens are claimed, not until k documents. The
    * contract is the greedy PREFIX-START rule: a document is kept iff
    * the tokens selected before it total < `tokenBudget` (so the last
    * kept document may overshoot by at most its own length — the
    * deterministic choice; the strict cum<=budget rule would silently
    * under-fill whenever the boundary document is long).
    *
    * Scale shape — a global score-ordered prefix sum WITHOUT a global
    * window: [[graft.plans.GlobalRank]] range-partitions the narrow
    * (doc_id, n_tokens, score) frame on (score desc, doc_id) and
    * stamps each row's rank and tokens-before from per-partition
    * carries, so no stage sees more than its partition and one plan
    * serves every corpus size (a small corpus coalesces to one
    * partition and stamps with no extra job). The budget filter
    * prunes everything past the boundary before any downstream
    * consumer.
    * Output: (rnk, doc_id, n_tokens, cum_tokens, avg_log_ratio)
    * ordered by rnk; cum_tokens is the inclusive running total.
    */
  def dsirResampleBudget(docs: DataFrame, targetSource: String,
                         tokenBudget: Long, buckets: Int = 64,
                         ngram: Int = 1): DataFrame = {
    require(tokenBudget >= 1, s"tokenBudget must be >= 1 (got $tokenBudget)")
    val order = Seq(col("avg_log_ratio").desc, col("doc_id"))
    val sel = unorderedWeights(docs, targetSource, buckets, ngram)
    graft.plans.GlobalRank(sel, order, sumOf = Some(col("n_tokens")))
      .filter(col("cum_before") < tokenBudget)
      .select(col("rnk"), col("doc_id"), col("n_tokens"),
        (col("cum_before") + col("n_tokens")).as("cum_tokens"), col("avg_log_ratio"))
      // rnk follows this order, which the ranked frame already holds
      .orderBy(order: _*)
  }

  /** PER-SOURCE budget mixture — the step that actually builds
    * tomorrow's training mix: each source gets its own token budget
    * (the mixture weights, in tokens) and fills it with its most
    * target-like documents first, under [[dsirResampleBudget]]'s
    * prefix-start rule per source. The target source itself is the
    * steering distribution, never a selectable slice (budgets naming
    * it are rejected; [[dsirWeights]] scores only non-target docs).
    *
    * Scale shape: [[dsirResampleBudget]]'s [[graft.plans.GlobalRank]]
    * with `source` as the group key leading the range key — rank and
    * tokens-before restart per source, and a source spanning
    * partitions stitches through the operator's per-partition carries.
    * Output: (source, rnk, doc_id, n_tokens, cum_tokens,
    * avg_log_ratio) ordered by (source, rnk); rnk restarts per source.
    */
  def dsirMixtureBudget(docs: DataFrame, targetSource: String,
                        budgets: Map[String, Long], buckets: Int = 64,
                        ngram: Int = 1): DataFrame = {
    require(budgets.nonEmpty, "budgets must name at least one source")
    budgets.foreach { case (s, b) =>
      require(b >= 1, s"budget for '$s' must be >= 1 (got $b)") }
    require(!budgets.contains(targetSource),
      s"'$targetSource' is the steering target, not a selectable slice")
    val order = Seq(col("avg_log_ratio").desc, col("doc_id"))
    val sel = unorderedWeights(docs, targetSource, buckets, ngram)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .filter(col("source").isin(budgets.keys.toSeq: _*))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("avg_log_ratio"))
    graft.plans.GlobalRank(sel, order, groupBy = Seq(col("source")),
        sumOf = Some(col("n_tokens")))
      .filter(col("cum_before") < element_at(typedLit(budgets), col("source")))
      .select(col("source"), col("rnk"), col("doc_id"), col("n_tokens"),
        (col("cum_before") + col("n_tokens")).as("cum_tokens"), col("avg_log_ratio"))
      // (source, rnk) follows this order, which the ranked frame holds
      .orderBy(col("source") +: order: _*)
  }

  def fingerprint(docs: DataFrame): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    docs.select(
      col("doc_id"),
      md5(norm).as("fp"),
      PortableHash.hash32(norm).as("fp32"),
      expr(
        // slice guards against split's trailing empty string
        s"""aggregate(
           |  slice(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ''),
           |        1, length(regexp_replace(lower(trim(text)), '\\\\s+', ' '))),
           |  CAST(0 AS BIGINT),
           |  (acc, c) -> (acc * 31 + ascii(c)) % 2147483647)""".stripMargin).as("fp_roll"))
      .orderBy(col("doc_id"))
  }
}
