package graft.operators

import graft.sources.StateTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * North-star extension (BASELINE.json): no counterpart exists in the
  * reference; semantics are defined by this engine (SURVEY.md §7.2 step
  * 6) and pinned by the DuckDB oracle + ScalaTest.
  *
  * - [[cosineTopK]]   — brute-force cosine top-k: the correctness
  *                      baseline. Query side is broadcast; candidate
  *                      side streams, so at 100 TB this is one scan of
  *                      the corpus per query batch, no shuffle.
  * - [[topPairs]]     — highest-cosine pairs corpus-wide (near-dup
  *                      ranking view of the same kernel).
  * - [[signLshBuckets]] / [[cosineTopKLsh]] — random-hyperplane sign-LSH:
  *                      the scale path. Hyperplane coefficients derive
  *                      from the portable hash (no RNG state to ship);
  *                      vectors sharing a bucket are compared exactly.
  *
  * Scale design: vectors are L2-normalized ONCE per row (a projection
  * before the join boundary), so each candidate pair costs a single
  * 64-lane fused dot product — not three — and the global top-k goes
  * through `orderBy(...).limit(k)` (planned as a distributed
  * TakeOrderedAndProject: per-partition heaps, no single-partition
  * sort). All arithmetic is sequential double folds, bit-reproducible
  * by the DuckDB oracle.
  */
object Similarity {

  /** Sequential-fold dot product — graft.functions.DotProduct, a
    * codegen'd native expression bit-identical to
    * `aggregate(zip_with(a, b, (p,q) -> p*q), 0D, (acc,z) -> acc+z)`.
    */
  private def dotExpr(a: String, b: String): String =
    s"${graft.functions.VectorExprs.DotName}($a, $b)"

  /** Micro-unit (1e-6) fixed-point quantize of a double vector — the
    * shared lane encoding for every graft_vsum centroid fold. ONE
    * definition so the scale constant and the half-up rounding rule
    * can never drift between the k-means update, the outlier
    * centroid, and the drift report (their downstream divisors all
    * assume the same 1e6 scale); a single divergent site would
    * silently break the cross-operator bit-identity the oracles pin.
    */
  private def quantizeMicro(c: String): String =
    s"transform($c, x -> cast(floor(x * 1000000.0D + 0.5D) as bigint))"

  /** Zero-norm guard contract (every normalization site in this file):
    * an all-zero vector (a failed encoder output) divides by a guarded
    * divisor of 1 and so normalizes to ITSELF rather than `0/0 = NaN`
    * — under Spark's NaN-is-greatest ordering a NaN unit vector would
    * rank as the #1 neighbour of every query and pass every
    * `cosine >= minCos` gate; a zero one scores cosine 0 everywhere
    * and falls out naturally. Implemented everywhere as the hoisted
    * `_nrm = CASE WHEN n² = 0 THEN 1 ELSE sqrt(n²) END` column feeding
    * the ORIGINAL single-divide transform — an array-level CASE form
    * measurably broke cross-consumer subplan reuse (SCALING.md). The
    * SAME guard lives in the DuckDB oracle's normalize kernel
    * (SparkEntry.unitSql), so both engines agree on degenerate input.
    */

  /** (vec_id, u): unit-normalized double vectors — norms computed once
    * per row, not once per pair. The squared norm is HOISTED to its
    * own column before the guarded divide: inside a transform lambda
    * `dot(v,v)` re-evaluates per ELEMENT, and the zero-norm CASE
    * predicate would add one more — measured ~1.9x on the
    * recall-probe path when left inline. Values are bit-identical
    * either way (same IEEE ops, different evaluation count).
    */
  private def normalized(df: DataFrame, keep: String*): DataFrame = {
    graft.functions.VectorExprs.register(df.sparkSession)
    // `keep` columns ride the normalize pass verbatim so consumers that
    // need e.g. the label never join the corpus back against itself
    // just to re-attach a column the scan already had (a corpus-sized
    // shuffle join saved; values bit-identical either way).
    val ks = keep.map(col)
    df.select(col("vec_id") +: ks :+ expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"): _*)
      .select(col("vec_id") +: ks :+ col("v") :+ expr(dotExpr("v", "v")).as("_n2"): _*)
      .select(col("vec_id") +: ks :+ col("v") :+
        expr("CASE WHEN _n2 = 0D THEN 1D ELSE sqrt(_n2) END").as("_nrm"): _*)
      .select(col("vec_id") +: ks :+ expr("transform(v, x -> x / _nrm)").as("u"): _*)
  }

  /** Top-k nearest neighbours (cosine) for vec_id < nQueries.
    * Output: (qid, rnk, nid, cosine) ordered by (qid, rnk).
    */
  def cosineTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame =
    cosineTopKOf(normalized(embeddings), nQueries, k)

  /** [[cosineTopK]] over an ALREADY-normalized (vec_id, u) frame — the
    * recall harnesses normalize (and pin) once and feed both the brute
    * and the approximate side from the same subtree instead of each
    * side re-scanning and re-normalizing the corpus. Values are
    * bit-identical: same expressions, evaluated once.
    */
  private def cosineTopKOf(e: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("u").as("qu"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), expr(dotExpr("qu", "u")).as("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"), col("cosine"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Int8-quantized top-k (the 4×-memory-reduction ANN path): unit
    * vectors are quantized to integer lanes in [-127, 127]
    * (`floor(u·127 + 0.5)` — exact in both engines, no rounding-mode
    * ambiguity), and scoring is the EXACT i64 dot of the quantized
    * lanes via the native codegen `graft_dotl` kernel — zero float
    * accumulation anywhere, so results are trivially reproducible
    * across partitionings and engines. At 100 TB the quantized corpus
    * is a quarter the bytes of the f32 one — scan time and shuffle
    * width shrink proportionally; ranking quality vs exact cosine is
    * asserted in tests (recall ≥ 0.8 at k=5 on the testdata).
    * Output: (qid, rnk, nid, qdot) ordered by (qid, rnk).
    */
  def cosineTopKInt8(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame =
    cosineTopKInt8Of(normalized(embeddings), nQueries, k)

  private def cosineTopKInt8Of(en: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val e = en
      .select(col("vec_id"),
        expr("transform(u, x -> cast(floor(x * 127.0D + 0.5D) as bigint))").as("qv"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qq"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        expr(s"${graft.functions.VectorExprs.DotLongName}(qq, qv)").as("qdot"))
    val w = Window.partitionBy(col("qid")).orderBy(col("qdot").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"), col("qdot"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Top-n most similar pairs corpus-wide (vec_a < vec_b) — the
    * exact-recall O(n²) correctness baseline, TEST-ONLY: the catalog
    * qid (q19) is owned by [[topPairsLsh]], and this brute form exists
    * solely so SimilarityLshSpec can assert the bucketed plan against
    * exact recall. Never reachable from SparkEntry.queries.
    * Output: (rnk, vec_a, vec_b, cosine) ordered by rnk.
    */
  def topPairs(embeddings: DataFrame, n: Int): DataFrame = {
    val e = normalized(embeddings)
    val order = Seq(col("cosine").desc, col("vec_a"), col("vec_b"))
    val top = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        expr(dotExpr("a.u", "b.u")).as("cosine"))
      .orderBy(order: _*)
      .limit(n) // TakeOrderedAndProject: per-partition top-n heaps, no global sort
    graft.plans.GlobalRank(top, order)
      .select(col("rnk"), col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy(col("rnk"))
  }

  /** Corpus-derived hyperplane count: the smallest `p >= minPlanes`
    * with `2^p * targetBucket >= n` — i.e. enough buckets that the
    * MEAN bucket holds at most `targetBucket` vectors. Integer-exact
    * on purpose (no floating log2 whose ulp could flip the answer at a
    * power-of-two corpus size), so the DuckDB oracle reproduces it
    * with the same `min(p) WHERE (1 << p) * targetBucket >= n` scan.
    *
    * This is the scale guard for every bucketed pair operator: with a
    * FIXED plane count the candidate volume Σ_b |b|² is Θ(n²/2^p) —
    * quadratic at any operating point — while with planes derived from
    * n the mean bucket stays ≤ targetBucket and the expected candidate
    * volume is Θ(n · targetBucket), linear in the corpus. At the
    * testdata sizes the derivation reduces to the catalog's historical
    * constants: n=500 → 2 planes, n=2000 → 4, n=50000 → 9.
    */
  def derivePlanes(n: Long, targetBucket: Long = 125L, minPlanes: Int = 2): Int = {
    require(targetBucket > 0 && minPlanes >= 0 && minPlanes <= 62)
    var p = minPlanes
    while (p < 62 && (1L << p) * targetBucket < n) p += 1
    p
  }

  /** Corpus-derived k-means cluster count: `max(minK, ceil(n /
    * targetCluster))`, integer-exact (`(n + t - 1) / t`). Same role as
    * [[derivePlanes]] for the SemDeDup candidate generator: fixed k
    * means Θ(n²/k) intra-cluster pairs; k ∝ n keeps the mean cluster
    * at targetCluster vectors and the pair volume linear. n=500 → 8,
    * n=2000 → 32.
    */
  def deriveK(n: Long, targetCluster: Long = 64L, minK: Int = 8): Int = {
    require(targetCluster > 0 && minK >= 1)
    math.max(minK.toLong, (n + targetCluster - 1) / targetCluster).toInt
  }

  /** Deterministic hyperplane coefficient for plane `p`, dim `d`: the
    * portable hash of "p_d" mapped to [-0.5, 0.5). Same value whether
    * computed here (driver), by Spark's conv(md5(...)), or by the
    * DuckDB oracle.
    */
  private[operators] def lshCoef(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    (java.lang.Long.parseLong(hex, 16) % 1000) / 1000.0 - 0.5
  }

  /** Sign-LSH bucket id per vector: `planes` random hyperplanes, bit p
    * set iff dot(v, c_p) > 0. Coefficients are materialized driver-side
    * as literal arrays (they depend only on (p, d)), so each plane test
    * is one codegen'd `graft_dot` against a constant — not a per-row
    * rebuild of the coefficient array. `dim` is the embedding
    * dimension (vectors shorter than `dim` use the leading lanes, as
    * graft_dot folds over the common prefix).
    */
  def signLshBuckets(embeddings: DataFrame, planes: Int, dim: Int): DataFrame = {
    graft.functions.VectorExprs.register(embeddings.sparkSession)
    val e = embeddings.select(
      col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val bitExprs = (0 until planes).map { p =>
      val coefs = (0 until dim).map(d => s"${lshCoef(p, d)}D").mkString(", ")
      s"CASE WHEN ${dotExpr("v", s"array($coefs)")} > 0 " +
        s"THEN shiftleft(CAST(1 AS BIGINT), $p) ELSE CAST(0 AS BIGINT) END"
    }
    e.select(col("vec_id"), col("v"), expr(bitExprs.mkString("(", " + ", ")")).as("bucket"))
  }

  /** IVF (inverted-file) approximate top-k — the coarse-quantizer
    * alternative to sign-LSH. Deterministic construction (no RNG, no
    * training iterations): the first `nlist` vectors by id act as
    * centroids; every vector joins the cell of its most-similar
    * centroid; a query probes its `nprobe` nearest cells and scores
    * exactly within them. Centroid assignment ties break on centroid
    * id, so the DuckDB oracle reproduces the structure bit-for-bit.
    * At 100 TB the cell column becomes the table's partition key and a
    * probe reads nprobe/nlist of the corpus — this operator's join
    * keys are exactly that layout.
    * Output: (qid, rnk, nid, cosine) ordered by (qid, rnk).
    */
  def cosineTopKIvf(embeddings: DataFrame, nQueries: Int, k: Int, nlist: Int, nprobe: Int): DataFrame = {
    val (cents, assign) = ivfStructure(embeddings, nlist)
    ivfQuery(cents, assign, nQueries, k, nprobe)
  }

  /** The IVF index STRUCTURE — (centroids (cid, cu), assignments
    * (vec_id, u, cell)) — shared by the inline query above and the
    * persisted-index path ([[buildIvfIndex]]). Deterministic: first
    * `nlist` vectors by id are centroids; cell = argmax-cosine
    * centroid, ties to the lowest cid.
    */
  private[operators] def ivfStructure(embeddings: DataFrame, nlist: Int): (DataFrame, DataFrame) =
    ivfStructureOf(normalized(embeddings), nlist)

  private def ivfStructureOf(e: DataFrame, nlist: Int): (DataFrame, DataFrame) = {
    val cents = e.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cid"), col("u").as("cu"))
    (cents, assignToCells(e, cents))
  }

  /** Argmax-cosine cell assignment (ties to the lowest cid) of unit
    * vectors against a centroid frame — the SINGLE definition both
    * the inline build and the incremental append ride, because the
    * append's bit-identical-to-rebuild guarantee is exactly "both
    * sites assign identically".
    */
  private def assignToCells(e: DataFrame, cents: DataFrame): DataFrame = {
    val byVec = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
    e.join(broadcast(cents))
      .select(col("vec_id"), col("u"), col("cid"), expr(dotExpr("u", "cu")).as("csim"))
      .withColumn("crn", row_number().over(byVec)).filter(col("crn") === 1)
      .select(col("vec_id"), col("u"), col("cid").as("cell"))
  }

  /** Query an IVF structure: each query (a corpus vector with
    * vec_id < nQueries) probes its `nprobe` nearest cells and scores
    * exactly within them. Works identically on the inline structure
    * and one loaded from a lake table (ANN IndexSpec asserts it).
    */
  private def ivfQuery(cents: DataFrame, assign: DataFrame,
                       nQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val byQ = Window.partitionBy(col("qid")).orderBy(col("qsim").desc, col("cid"))
    val qprobe = assign.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("u").as("qu"))
      .join(broadcast(cents))
      .select(col("qid"), col("qu"), col("cid"), expr(dotExpr("qu", "cu")).as("qsim"))
      .withColumn("crn", row_number().over(byQ)).filter(col("crn") <= nprobe)
      .select(col("qid"), col("qu"), col("cid").as("cell"))
    val scored = assign.join(broadcast(qprobe), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), expr(dotExpr("qu", "u")).as("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"), col("cosine"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Build the IVF index ONCE and persist it as a lake table — at
    * 100 TB the centroid argmax over the full corpus is the expensive
    * half of every IVF query, and rebuilding it per query run (what
    * the inline [[cosineTopKIvf]] does) is pure waste. Layout: the
    * root's [[StateTable.Centroids]] (tiny, broadcasts on load) and
    * [[StateTable.Assignments]] PARTITIONED BY cell — the on-disk realization
    * of "the cell column becomes the table's partition key": a probe
    * of nprobe cells reads exactly nprobe/nlist of the corpus via
    * partition pruning, no scan of the rest.
    */
  def buildIvfIndex(embeddings: DataFrame, nlist: Int, path: String): Unit = {
    val st = StateTable(embeddings.sparkSession, path)
    writeIvfIndex(ivfStructure(embeddings, nlist),
      st.path(StateTable.Centroids), st.path(StateTable.Assignments))
  }

  /** [[buildIvfIndex]] over a LIVE index — the full periodic rebuild
    * ([[recenterIvfIndex]]'s corpus-fed sibling, for when the rebuild
    * should also pick up re-normalized vectors or a new `nlist`).
    * A plain buildIvfIndex at the same path overwrites the two
    * members one after the other, so a concurrent reader can load NEW
    * centroids with OLD assignments (cells keyed to centroids that no
    * longer exist); committing both as one generation
    * ([[StateTable.commit]]) makes that mix impossible. Spent
    * tombstones are dropped with the old generation.
    */
  def rebuildIvfIndex(embeddings: DataFrame,
                      spark: org.apache.spark.sql.SparkSession,
                      nlist: Int, path: String): Unit =
    StateTable(spark, path).commit(StateTable.Centroids, StateTable.Assignments) { p =>
      writeIvfIndex(ivfStructure(embeddings, nlist),
        p(StateTable.Centroids), p(StateTable.Assignments))
    }

  private def writeIvfIndex(index: (DataFrame, DataFrame), centsDir: String,
                            assignDir: String): Unit = {
    index._1.write.mode("overwrite").parquet(centsDir)
    index._2.write.mode("overwrite").partitionBy("cell").parquet(assignDir)
  }

  /** Load a persisted IVF index: (centroids, assignments). The cell
    * partition column comes back integer-typed from directory
    * inference — recast to long so join keys match the inline path.
    */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): (DataFrame, DataFrame) = {
    val st = StateTable(spark, path)
    // merge-on-read: content-addressed tombstones (see
    // [[tombstoneIvfIndex]]) are anti-joined out of every load, so a
    // tombstoned assignment is invisible without any rewrite. u is a
    // deterministic function of the embedding (normalized()), so
    // full-row matching is exact.
    (spark.read.parquet(st.path(StateTable.Centroids)),
      st.live(StateTable.Assignments).withColumn("cell", col("cell").cast("long")))
  }

  /** O(|edits|) stale-key healing for the persisted IVF index, as
    * [[graft.operators.Dedup.tombstoneSignatures]] does for signatures:
    * changed vectors' old assignment rows and removed vectors' rows
    * are tombstoned (content-addressed, full row); changed vectors'
    * CURRENT rows re-enter via the same centroid-assignment path the
    * daily append rides. Both writes are |edits|-sized; the
    * assignments rewrite is [[compactIvfIndex]]'s, at maintenance
    * cadence.
    */
  def tombstoneIvfIndex(currentChanged: DataFrame,
                        spark: org.apache.spark.sql.SparkSession, path: String,
                        removedKeys: DataFrame): Unit = {
    val (cents, assign) = loadIvfIndex(spark, path)
    val staleKeys = currentChanged.select(col("vec_id"))
      .unionByName(removedKeys.select(col("vec_id"))).distinct()
    // |edits| keys; past broadcastable state the probe side broadcasts
    // so the semi scans the assignments map-side instead of exchanging
    // them (Dedup tombstoneSignatures discipline)
    val oldRows = graft.operators.Dedup.materialize(
      assign.join(graft.operators.Dedup.deltaProbeSide(staleKeys, assign),
        Seq("vec_id"), "left_semi").distinct())
    val fresh = graft.operators.Dedup.materialize(
      assignToCells(normalized(currentChanged), cents)
        .withColumn("cell", col("cell").cast("long"))
        .select(oldRows.columns.map(col): _*))
    val st = StateTable(spark, path)
    st.appendTombstones(oldRows.except(fresh))
    st.append(StateTable.Assignments, fresh.except(oldRows), "cell")
  }

  /** Incremental half of the build-once contract: assign ONLY the new
    * vectors against the persisted centroids and append them to the
    * cell-partitioned assignments table — the corpus already in the
    * index is never rescanned. At 100 TB this is the daily-ingest
    * path: index build is a one-time cost, each day pays only for its
    * own batch. Because centroid selection is deterministic (first
    * nlist vec_ids), appending a batch yields a BIT-IDENTICAL index
    * to rebuilding from the union, as long as the original build
    * contained the centroid vectors (IvfIndexSpec asserts it).
    * Re-centering (periodic full rebuild when drift accumulates) is
    * the documented maintenance trade, same as any IVF deployment.
    */
  def appendToIvfIndex(newVectors: DataFrame, spark: org.apache.spark.sql.SparkSession,
                       path: String): Unit = {
    val st = StateTable(spark, path)
    val cents = spark.read.parquet(st.path(StateTable.Centroids))
    st.append(StateTable.Assignments, assignToCells(normalized(newVectors), cents), "cell")
  }

  /** [[compactIvfIndex]] gated on the cadence rule
    * ([[StateTable.due]]). Returns whether the rewrite ran.
    */
  def compactIvfIndexIfNeeded(spark: org.apache.spark.sql.SparkSession,
                              path: String, staleKeys: DataFrame,
                              maxTombstoneFrac: Double = 0.1): Boolean = {
    val due = StateTable(spark, path).due(StateTable.Assignments, maxTombstoneFrac)
    if (due) compactIvfIndex(spark, path, staleKeys)
    due
  }

  /** Stale-key compaction for the persisted IVF index — the
    * maintenance half of [[appendToIvfIndex]]'s append-only contract.
    * Rewrites the assignments dropping every vec_id in `staleKeys`:
    * REMOVED vectors, plus the OLD rows of CHANGED vectors (re-append
    * the current version afterwards via [[appendToIvfIndex]] — the
    * daily loop's `emb_changes` frame names both classes). The
    * centroid table is left untouched, so post-compaction (+
    * re-append for the changed keys) the index is bit-identical to a
    * fresh [[buildIvfIndex]] over the current corpus PROVIDED the
    * centroid vectors themselves are not among the edits
    * (StateCompactionSpec asserts; an edited centroid vector is the
    * re-centering event that warrants the documented full rebuild —
    * assignments keyed to a stale centroid are wrong everywhere, not
    * just at the edited rows).
    *
    * Commits a new assignments generation ([[StateTable.commit]]) with
    * the cell partitioning preserved so probe-time partition pruning
    * survives; the per-cell `repartition` also merges the
    * one-file-per-batch debris daily appends leave, so this doubles
    * as the table's small-file compaction.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      staleKeys: DataFrame): Unit =
    StateTable(spark, path).commit(StateTable.Assignments) { p =>
      // read the merge-on-read view so outstanding tombstones fold
      // into the rewrite (loadIvfIndex applies them)
      loadIvfIndex(spark, path)._2
        .join(staleKeys.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .repartition(col("cell"))
        .write.partitionBy("cell").parquet(p(StateTable.Assignments))
    }

  /** Rebuild the IVF structure FROM STATE — the periodic maintenance
    * event, with no corpus re-read: the assignments table stores each
    * vector's unit form, so centroid refresh, full reassignment, and
    * the fold-in of append debris and outstanding tombstones all
    * derive from the merge-on-read view alone.
    *
    * This heals the one edit the incremental tiers can't: a CENTROID
    * vector's own edit/removal. Tombstone/compact update its
    * assignment row, but the centroids table still carries the old
    * vector, so probes keep routing against a centroid that no longer
    * exists in the corpus (results stay well-defined — cells are just
    * partitions — but drift from what a fresh build would answer).
    * Re-centering re-derives the centroid set with the build's own
    * rule (the `nlist` smallest surviving vec_ids) and reassigns
    * every vector, leaving the index IDENTICAL to
    * [[buildIvfIndex]] over the current corpus (StateCompactionSpec;
    * q166 pins it to the inline-IVF oracle) — at |state| cost, not
    * corpus cost.
    *
    * Both members commit as one generation ([[StateTable.commit]]),
    * so readers never observe new centroids with old assignments or
    * vice versa; spent tombstones are dropped with the old generation.
    */
  def recenterIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       nlist: Int = 0): Unit = {
    val (cents, assign) = loadIvfIndex(spark, path)
    val k = if (nlist > 0) nlist else cents.count().toInt
    val e = assign.select(col("vec_id"), col("u"))
    val newCents = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("u").as("cu"))
    val newAssign = assignToCells(e, newCents)
    // both writes execute before the manifest flip and read the
    // ORIGINAL index files, so the rebuild is consistent even while live
    StateTable(spark, path).commit(StateTable.Centroids, StateTable.Assignments) { p =>
      writeIvfIndex((newCents, newAssign), p(StateTable.Centroids), p(StateTable.Assignments))
    }
  }

  /** Query-many half of the build-once contract: identical results to
    * [[cosineTopKIvf]] on the same corpus/parameters (IvfIndexSpec),
    * but the corpus scan + centroid argmax are already on disk — a
    * query run touches only the probed cell partitions.
    */
  def cosineTopKIvfIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                           nQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val (cents, assign) = loadIvfIndex(spark, path)
    ivfQuery(cents, assign, nQueries, k, nprobe)
  }

  /** Spherical k-means assignment after `iters` Lloyd rounds over the
    * unit vectors — the semantic-clustering primitive behind
    * cluster-balanced corpus curation and IVF index training. Every
    * step is deterministic and engine-portable: centroids initialize
    * to the first k unit vectors (vec_id < k), assignment is argmax
    * cosine with ties to the lowest centroid id, and the centroid
    * update sums integer-quantized lanes (`floor(x·1e6 + 0.5)` as i64
    * — exact and associative, so the mean is identical under any
    * partitioning and in the DuckDB oracle) before renormalizing.
    *
    * Scale shape per round: the k×dim centroid frame broadcasts; the
    * assignment is one corpus scan + per-vec argmax over k candidate
    * rows; the update folds quantized vectors into k i64 lane buffers
    * via the native graft_vsum aggregate — dim longs per cluster per
    * partition over the wire, map-side combinable. Empty clusters
    * drop out (standard Lloyd degeneracy) and later rounds assign
    * against the survivors. Centroids stay a DataFrame end to end —
    * no driver-side model state to ship.
    * Output: (vec_id, cluster_id) ordered by vec_id.
    */
  def kmeansAssign(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters): round 1 produces the assignment")
    val e = normalized(embeddings)
    var cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("u").as("cu"))
    var assign: DataFrame = e.limit(0)
    for (i <- 1 to iters) {
      val byVec = Window.partitionBy(col("vec_id")).orderBy(col("cs").desc, col("cid"))
      assign = e.join(broadcast(cents))
        .select(col("vec_id"), col("u"), col("cid"), expr(dotExpr("u", "cu")).as("cs"))
        .withColumn("rn", row_number().over(byVec)).filter(col("rn") === 1)
        .select(col("vec_id"), col("u"), col("cid"))
      if (i < iters) cents = updateCentroids(assign)
    }
    assign.select(col("vec_id"), col("cid").cast("long").as("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** Lloyd update: integer-quantized lane sums per cluster → renormalized
    * unit centroids (cid, cu). Shared by [[kmeansAssign]] and
    * [[kmeansAssignCoarse]]. Input columns: (vec_id, u, cid).
    */
  private def updateCentroids(assign: DataFrame): DataFrame =
    // per-cluster lane sums via the native array-sum aggregate
    // (graft_vsum): one map-side-combinable fold into k i64 buffers —
    // no posexplode of n·dim rows, no (cid, pos) shuffle, no
    // collect_list rebuild. i64 addition is exact and associative, so
    // the mean lanes (and every oracle) are bit-identical.
    assign
      .select(col("cid"), expr(quantizeMicro("u")).as("qa"))
      .groupBy(col("cid"))
      // count(qa), NOT count(*): graft_vsum SKIPS null vectors exactly
      // as the explode form emitted no lane rows for them, so the mean
      // divisor must skip them too — count(*) would divide by a member
      // count inflated by null-embedding rows. A cluster whose members
      // are ALL null folds to a NULL sxs and is dropped below, the
      // explode form's Lloyd degeneracy (no lane rows -> no group).
      .agg(expr(s"${graft.functions.VectorExprs.VSumName}(qa)").as("sxs"),
        count(col("qa")).as("cnt"))
      .filter(col("sxs").isNotNull)
      .select(col("cid"),
        expr("transform(sxs, s -> cast(s as double) / (cnt * 1000000.0D))").as("cv"))
      .select(col("cid"), col("cv"), expr(
        s"CASE WHEN ${dotExpr("cv", "cv")} = 0D THEN 1D " +
          s"ELSE sqrt(${dotExpr("cv", "cv")}) END").as("_nrm"))
      .select(col("cid"), expr("transform(cv, x -> x / _nrm)").as("cu"))

  /** Product-quantization ADC top-k — the memory-compression tier of
    * the ANN family (brute [[cosineTopK]] / int8 [[cosineTopKInt8]] /
    * LSH [[cosineTopKLsh]] / IVF cover latency; PQ covers FOOTPRINT):
    * each int8 unit vector is split into `m` subvectors, each
    * subvector replaced by the id of its nearest codeword from a
    * per-subspace codebook of `ks` entries — the stored corpus
    * shrinks from dim·4 B of f32 (256 B at dim 64) to m codes
    * (m ≤ 1 B each at ks ≤ 256), a 64× compression at the defaults,
    * which is what lets a 100 TB embedding corpus fit a cluster's
    * aggregate RAM for scanning.
    *
    * Query-time ADC (asymmetric distance computation): the query
    * keeps full precision; a per-query table of m·ks partial dots
    * (query subvector · codeword) is built once, and each candidate's
    * approximate dot is m table lookups summed — never a dim-wide
    * multiply per candidate.
    *
    * Determinism/oracle story: everything after normalization is
    * EXACT i64 — vectors are int8-quantized (`floor(u·127+0.5)`),
    * codeword assignment maximizes 2·dot(x,c) − dot(c,c) (= argmin
    * L2, all-integer, ties to the lowest cid), the single Lloyd
    * update rounds each lane mean half-up via
    * `floor((2·Σ+n)/(2n))` (exact in doubles at these magnitudes),
    * and ADC scores are i64 sums of i64 table entries — so the oracle
    * replays the whole train→encode→scan pipeline to the bit.
    *
    * Scale shape: codebooks train on a subvector melt (n·m narrow
    * rows, one combinable groupBy per Lloyd stage); encoding is a
    * broadcast join against m·ks codewords; the ADC scan joins the
    * code table (n·m rows) to a broadcast m·ks·nQueries lookup
    * table, partial-aggregates the per-(query, candidate) sums
    * map-side, and takes top-k per query on the partial-heap
    * operator. One corpus scan, one combinable shuffle, no window
    * sort.
    *
    * ADC ranks are lossy (that is the compression trade), so the
    * final answer is produced the way production PQ systems do it:
    * the ADC scan emits a `rerank`-deep shortlist per query, and the
    * shortlist alone is re-scored with the EXACT int8 dot (a
    * broadcast semi-join back into the corpus scan — nQueries·rerank
    * row fetches, not a second full scan). Recall@k vs the exact
    * scan is asserted in tests (the q87 harness pattern); widen
    * `rerank` to buy recall with shortlist size, never with a wider
    * scan.
    *
    * Output: (qid, rnk, nid, qdot) ordered by (qid, rnk) — qdot is
    * the exact int8 dot of the reranked candidate.
    */
  def pqTopK(embeddings: DataFrame, m: Int, ks: Int,
             nQueries: Int, k: Int, rerank: Int): DataFrame = {
    require(ks >= 1, s"ks must be >= 1 (got $ks)")
    val e = pqInt8(embeddings)
    pqDimCheck(e, m)
    // melted once for both the Lloyd pass and the encode (the returned
    // frame consumes it lazily, so the blocks stay pinned — no release)
    val sv = graft.operators.Dedup.materialize(pqMelt(e, m))
    val c1 = pqCodebooks(sv, ks)
    val codes = pqAssign(sv, c1).select(col("vec_id"), col("s"), col("cid"))
    pqQuery(e, c1, codes, m, nQueries, k, rerank)
  }

  /** int8-quantized unit vectors: (vec_id, qv) — the exact-arithmetic
    * base frame every PQ stage (train, encode, rerank) derives from.
    */
  private def pqInt8(embeddings: DataFrame): DataFrame =
    normalized(embeddings)
      .select(col("vec_id"),
        expr("transform(u, x -> cast(floor(x * 127.0D + 0.5D) as bigint))").as("qv"))

  /** Melt to (vec_id, s, x): one row per subspace, x = the s-th
    * dim/m-wide slice of the int8 vector. dim must be divisible by m
    * (slice width is size(qv) div m, so a remainder's tail lanes
    * would otherwise silently drop out of every dot product) —
    * enforced by [[pqDimCheck]] at every public entry point rather
    * than per row here: a per-row assert in the corpus melt measured
    * ~1.4-1.9x on the PQ bench queries, while a one-row probe per
    * operator call is ~free.
    */
  private def pqMelt(e: DataFrame, m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1 (got $m)")
    e.select(col("vec_id"), explode(expr(
      s"transform(sequence(0, ${m - 1}), " +
        s"s -> struct(s, slice(qv, s * (size(qv) div $m) + 1, size(qv) div $m) as x))")).as("sx"))
      .select(col("vec_id"), col("sx.s").as("s"), col("sx.x").as("x"))
  }

  /** One-row probe guarding the silent-truncation case: the vector
    * dim must be divisible by m or tail lanes would vanish from every
    * codebook/ADC dot. Runs once per operator call (limit-1 job). */
  private def pqDimCheck(e: DataFrame, m: Int): Unit =
    e.select(size(col("qv")).as("d")).limit(1).collect().headOption.foreach { r =>
      val dim = r.getInt(0)
      require(dim % m == 0,
        s"PQ requires the vector dim to be divisible by m (dim=$dim, m=$m)")
    }

  /** Nearest codeword per (vector, subspace): argmax 2·x·c − c·c,
    * ties to the lowest cid — pure i64, partitioning-invariant.
    * The argmax is a combinable max(struct(score, −cid, …)) — struct
    * ordering is lexicographic and (score, cid) is unique per group,
    * so this equals the window-sort formulation row for row while
    * aggregating map-side (no n·m·ks-row sort shuffle; the groupBy
    * reduces ks candidates per key to one before anything moves).
    * Single definition shared by training, the inline encode, and the
    * incremental index append — the append's bit-identical-to-rebuild
    * guarantee is exactly "every site assigns identically".
    */
  private def pqAssign(sv: DataFrame, cents: DataFrame): DataFrame = {
    val dotl = graft.functions.VectorExprs.DotLongName
    sv.join(broadcast(cents), Seq("s"))
      .select(col("vec_id"), col("s"),
        struct((lit(2L) * expr(s"$dotl(x, cv)") - expr(s"$dotl(cv, cv)")).as("score"),
          (lit(0L) - col("cid")).as("ncid"), col("cid"), col("x")).as("cand"))
      .groupBy(col("vec_id"), col("s"))
      .agg(max(col("cand")).as("best"))
      .select(col("vec_id"), col("s"), col("best.x").as("x"), col("best.cid").as("cid"))
  }

  /** Per-subspace codebooks: deterministic init (the first ks vectors'
    * subvectors seed each subspace) + one Lloyd round with
    * half-up-rounded integer means. m·ks rows (~128) but an expensive
    * lineage (a full assignment over n·m rows) consumed by multiple
    * downstream branches — materialized once instead of trusting
    * exchange reuse across them.
    */
  private def pqCodebooks(sv: DataFrame, ks: Int): DataFrame = {
    val c0 = sv.filter(col("vec_id") < ks)
      .select(col("s"), col("vec_id").as("cid"), col("x").as("cv"))
    // per-(subspace, code) lane sums via graft_vsum: one map-side fold
    // into s·ks i64 buffers, then the half-up-rounded integer Lloyd
    // update applied lane-wise on the summed array — no posexplode,
    // no (s, cid, pos) shuffle, no collect_list rebuild; identical
    // integer values, oracle untouched
    pqAssign(sv, c0)
      .select(col("s"), col("cid"), col("x"))
      .groupBy(col("s"), col("cid"))
      // count(x), not count(*): the null-vector skip contract shared
      // with updateCentroids; an all-null codeword group drops out
      .agg(expr(s"${graft.functions.VectorExprs.VSumName}(x)").as("sxs"),
        count(col("x")).as("cnt"))
      .filter(col("sxs").isNotNull)
      .select(col("s"), col("cid"),
        expr("transform(sxs, sx -> cast(floor((2.0D * sx + cnt) / (2.0D * cnt)) as bigint))").as("cv"))
      .localCheckpoint()
  }

  /** ADC scan + exact rerank against an already-encoded corpus: build
    * the per-query lookup table (nQueries·m·ks partial dots), sum m
    * table entries per candidate, shortlist `rerank` deep on the
    * partial-heap operator, re-score the shortlist with the exact int8
    * dot. Works identically on inline codes and codes loaded from a
    * lake table (PqIndexSpec asserts it).
    */
  private def pqQuery(e: DataFrame, c1: DataFrame, codes: DataFrame, m: Int,
                      nQueries: Int, k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank must be >= k (got $rerank < $k)")
    val dotl = graft.functions.VectorExprs.DotLongName
    val tab = pqMelt(e.filter(col("vec_id") < nQueries), m)
      .select(col("vec_id").as("qid"), col("s"), col("x").as("qx"))
      .join(c1, Seq("s"))
      .select(col("qid"), col("s"), col("cid"), expr(s"$dotl(qx, cv)").as("d"))
    val adc = codes
      .join(broadcast(tab), Seq("s", "cid"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d")).as("adc_dot"))
      .select(col("qid"), col("vec_id").as("nid"), col("adc_dot"))
    val shortlist = graft.plans.TopK.perGroup(adc, Seq(col("qid")),
      Seq(col("adc_dot").desc, col("nid").asc), rerank)
      .select(col("qid"), col("nid"))
    val qvecs = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qq"))
    val reranked = e.select(col("vec_id").as("nid"), col("qv").as("nv"))
      .join(broadcast(shortlist), Seq("nid"))
      .join(broadcast(qvecs), Seq("qid"))
      .select(col("qid"), col("nid"), expr(s"$dotl(qq, nv)").as("qdot"))
    graft.plans.TopK.perGroup(reranked, Seq(col("qid")),
      Seq(col("qdot").desc, col("nid").asc), k)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("qdot").desc, col("nid"))).cast("long"))
      .select(col("qid"), col("rnk"), col("nid"), col("qdot"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Build the PQ index ONCE and persist it as a lake table — the
    * FOOTPRINT analog of [[buildIvfIndex]]'s latency contract: at
    * 100 TB the expensive halves of every PQ query are codebook
    * training and corpus encoding, and the encoded corpus is the
    * artifact worth keeping (n rows × m smallint codes ≈ 16 B/vector
    * at the defaults vs 256 B of f32 — the compression that lets the
    * scan live in aggregate RAM). Layout: the root's
    * [[StateTable.Codebooks]] (m·ks rows, broadcasts on load) and
    * [[StateTable.Codes]], one row per vector
    * with its m-code array, smallint-typed (parquet
    * dictionary+RLE-encodes these to ~nothing).
    */
  def buildPqIndex(embeddings: DataFrame, m: Int, ks: Int, path: String): Unit = {
    val st = StateTable(embeddings.sparkSession, path)
    writePqIndex(embeddings, m, ks, st.path(StateTable.Codebooks), st.path(StateTable.Codes))
  }

  /** Codebook RETRAINING over a LIVE index — the periodic maintenance
    * event [[appendToPqIndex]]'s contract defers (retrained codebooks
    * change every vector's codes, so this is always a full rebuild).
    * Same atomicity argument as [[rebuildIvfIndex]]: a plain
    * buildPqIndex at the live path exposes a window where readers
    * decode OLD codes against NEW codebooks — silently wrong
    * distances, the worst failure shape — so both members commit as
    * one generation. Spent tombstones are dropped with the old one.
    */
  def retrainPqIndex(embeddings: DataFrame,
                     spark: org.apache.spark.sql.SparkSession,
                     m: Int, ks: Int, path: String): Unit =
    StateTable(spark, path).commit(StateTable.Codebooks, StateTable.Codes) { p =>
      writePqIndex(embeddings, m, ks, p(StateTable.Codebooks), p(StateTable.Codes))
    }

  private def writePqIndex(embeddings: DataFrame, m: Int, ks: Int,
                           codebooksDir: String, codesDir: String): Unit = {
    require(ks >= 1 && ks <= 32767, s"ks must fit a smallint codebook id (got $ks)")
    val e = pqInt8(embeddings)
    pqDimCheck(e, m)
    // one materialization of the melted subspace view: it feeds the
    // codebook Lloyd pass AND the encode pass — un-checkpointed, the
    // corpus quantize+melt runs twice in the operator whose point is
    // paying the corpus cost once
    val sv = graft.operators.Dedup.materialize(pqMelt(e, m))
    val c1 = pqCodebooks(sv, ks)
    c1.write.mode("overwrite").parquet(codebooksDir)
    encodeCodes(sv, c1).write.mode("overwrite").parquet(codesDir)
    graft.operators.Dedup.releaseCheckpoint(sv)
  }

  /** The ONE encode-and-write block both the one-shot build and the
    * incremental append go through — appendToPqIndex's
    * append-equals-one-shot-encode guarantee (PqIndexSpec) is exactly
    * the claim that both paths encode identically, so they must share
    * the code rather than stay identical by luck.
    */
  private def encodeCodes(sv: DataFrame, c1: DataFrame): DataFrame =
    pqAssign(sv, c1)
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("s"),
        col("cid").cast("smallint").as("c")))).as("sc"))
      .select(col("vec_id"), expr("transform(sc, p -> p.c)").as("codes"))

  /** Merge-on-read view of the PQ code table ([[StateTable.live]]).
    * Encoding is deterministic against the persisted codebooks, so
    * full-row (vec_id + codes) matching is exact and a re-encoded
    * changed vector's new row survives the anti-join.
    */
  private def pqCodesView(spark: org.apache.spark.sql.SparkSession,
                          path: String): DataFrame =
    StateTable(spark, path).live(StateTable.Codes)

  /** Memoized subspace count of a persisted PQ index, keyed on the
    * codebooks directory's file signature (names + mtimes + lengths —
    * one driver-side listing, no Spark job). The count is a property
    * of the tiny codebooks artifact, yet each of the three index
    * operators re-derived it with its own agg+head job — three driver
    * actions per daily PQ turn for a constant. Any codebook rewrite
    * (a retrain commits a new generation) changes the signature and
    * invalidates.
    */
  private val pqMMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Int)]()
  private def pqSubspaces(spark: org.apache.spark.sql.SparkSession,
                          path: String, c1: DataFrame): Int = {
    val dir = new org.apache.hadoop.fs.Path(StateTable(spark, path).path(StateTable.Codebooks))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sig = fs.listStatus(dir).map(s =>
      s"${s.getPath.getName}:${s.getModificationTime}:${s.getLen}")
      .sorted.mkString("|")
    val cached = pqMMemo.get(path)
    if (cached != null && cached._1 == sig) cached._2
    else {
      val m = c1.agg(max(col("s"))).head().getInt(0) + 1
      pqMMemo.put(path, (sig, m))
      m
    }
  }

  /** O(|edits|) stale-key healing for the persisted PQ code table,
    * as [[tombstoneIvfIndex]] does for assignments: superseded code
    * rows (changed vectors' old encodings, removed vectors) are
    * content-tombstoned, changed vectors re-encode against the
    * UNTOUCHED persisted codebooks and append. Codebook retraining
    * remains the periodic full-rebuild event ([[appendToPqIndex]]'s
    * contract).
    */
  def tombstonePqIndex(currentChanged: DataFrame,
                       spark: org.apache.spark.sql.SparkSession, path: String,
                       removedKeys: DataFrame): Unit = {
    val st = StateTable(spark, path)
    val c1 = spark.read.parquet(st.path(StateTable.Codebooks))
    val m = pqSubspaces(spark, path, c1)
    val staleKeys = currentChanged.select(col("vec_id"))
      .unionByName(removedKeys.select(col("vec_id"))).distinct()
    val codes = pqCodesView(spark, path)
    val oldRows = graft.operators.Dedup.materialize(
      codes.join(graft.operators.Dedup.deltaProbeSide(staleKeys, codes),
        Seq("vec_id"), "left_semi").distinct())
    val e = pqInt8(currentChanged)
    pqDimCheck(e, m)
    val fresh = graft.operators.Dedup.materialize(
      encodeCodes(pqMelt(e, m), c1).select(oldRows.columns.map(col): _*))
    st.appendTombstones(oldRows.except(fresh))
    st.append(StateTable.Codes, fresh.except(oldRows))
  }

  /** Load a persisted PQ index: (codebooks, codes melted back to
    * (vec_id, s, cid) — the join shape [[pqQuery]] consumes, with cid
    * re-widened to long so keys match the inline path, plus m read
    * back from the codebooks so queries and appends can never
    * disagree with the index about its own subspace count).
    */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession, path: String)
  : (DataFrame, DataFrame, Int) = {
    val c1 = spark.read.parquet(StateTable(spark, path).path(StateTable.Codebooks))
    // m is a property of the index, not a caller opinion: passing a
    // mismatched m would silently sum a subset of each vector's codes
    // (and truncate dot products) — derive it from the artifact
    val m = pqSubspaces(spark, path, c1)
    val codes = pqCodesView(spark, path)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "c")))
      .select(col("vec_id"), col("s").cast("int").as("s"), col("c").cast("long").as("cid"))
    (c1, codes, m)
  }

  /** Incremental half of the build-once contract: encode ONLY the new
    * vectors against the persisted codebooks and append their code
    * rows — the already-encoded corpus is never rescanned. Because
    * encoding depends only on the persisted codebooks (never on what
    * else is already in the index), appending batches in any split
    * order produces exactly the code table of encoding the union
    * against those codebooks in one shot (PqIndexSpec asserts it).
    * NOTE the contract is weaker than [[appendToIvfIndex]]'s
    * append-equals-rebuild: PQ codebooks are Lloyd-TRAINED on the
    * build corpus, so a full rebuild over the union would retrain
    * them and generally differ. Codebooks are a versioned artifact;
    * retraining is the periodic maintenance event, as in any
    * deployed PQ system.
    */
  def appendToPqIndex(newVectors: DataFrame, spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit = {
    val st = StateTable(spark, path)
    val c1 = spark.read.parquet(st.path(StateTable.Codebooks))
    val m = pqSubspaces(spark, path, c1)
    val e = pqInt8(newVectors)
    pqDimCheck(e, m)
    st.append(StateTable.Codes, encodeCodes(pqMelt(e, m), c1))
  }

  /** [[compactPqIndex]] gated on the cadence rule
    * ([[StateTable.due]]). Returns whether the rewrite ran.
    */
  def compactPqIndexIfNeeded(spark: org.apache.spark.sql.SparkSession,
                             path: String, staleKeys: DataFrame,
                             maxTombstoneFrac: Double = 0.1): Boolean = {
    val due = StateTable(spark, path).due(StateTable.Codes, maxTombstoneFrac)
    if (due) compactPqIndex(spark, path, staleKeys)
    due
  }

  /** Stale-key compaction for the persisted PQ index — the
    * [[compactIvfIndex]] analog for the code table: rewrites the
    * codes dropping every vec_id in `staleKeys` (removed
    * vectors, or a deprecated batch being rolled back; re-append the
    * current version of changed vectors via [[appendToPqIndex]]).
    * The codebooks are preserved untouched, so the post-compaction
    * contract is the append path's own: the code table equals a
    * one-shot encode of the current corpus AGAINST THE PERSISTED
    * CODEBOOKS (StateCompactionSpec asserts). Codebook RETRAINING on
    * the edited corpus is deliberately out of scope — retrained
    * codebooks change every vector's codes, which is the documented
    * periodic-full-rebuild trade, exactly like IVF re-centering.
    * Commits a new codes generation ([[StateTable.commit]]); the flat
    * rewrite also merges the one-file-per-batch append debris.
    */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     staleKeys: DataFrame): Unit =
    StateTable(spark, path).commit(StateTable.Codes) { p =>
      // merge-on-read view: outstanding tombstones fold into the rewrite
      pqCodesView(spark, path)
        .join(staleKeys.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .write.parquet(p(StateTable.Codes))
    }

  /** Query-many half of the build-once contract: identical results to
    * [[pqTopK]] on the same corpus/parameters (PqIndexSpec), but
    * codebook training and corpus encoding are already on disk — a
    * query run scans only the m-smallint code table plus the
    * shortlist's exact-rerank row fetches.
    */
  def pqTopKIndexed(embeddings: DataFrame, spark: org.apache.spark.sql.SparkSession,
                    path: String, nQueries: Int, k: Int, rerank: Int): DataFrame = {
    val (c1, codes, m) = loadPqIndex(spark, path)
    val e = pqInt8(embeddings)
    pqDimCheck(e, m)
    pqQuery(e, broadcast(c1), codes, m, nQueries, k, rerank)
  }

  /** Coarse (two-level) k-means assignment — the implemented scale
    * path for the Θ(n·k) flat argmax that [[kmeansAssign]] pays when
    * k is corpus-derived ([[deriveK]]: k ∝ n, so flat assignment is
    * Θ(n²/targetCluster)). The ⌈√k⌉ lowest-cid centroids double as
    * super-centroids; every centroid registers under its nearest
    * super, each vector probes its `nprobe` nearest supers and runs
    * exact argmax ONLY over the centroids registered there —
    * per-vector candidate work drops from k to ≈ √k·(1 + nprobe),
    * the standard IVF coarse-quantizer trade applied to Lloyd itself.
    * With `nprobe >= ⌈√k⌉` every super is probed and the assignment
    * equals the flat one EXACTLY (asserted in MixtureKmeansSpec);
    * below that it is approximate with ties broken identically
    * (cosine desc, lowest cid), still deterministic and
    * partitioning-invariant.
    * Output: (vec_id, cluster_id) ordered by vec_id.
    */
  def kmeansAssignCoarse(embeddings: DataFrame, k: Int, iters: Int, nprobe: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val m = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val e = normalized(embeddings)
    var cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("u").as("cu"))
    var assign: DataFrame = e.limit(0)
    for (i <- 1 to iters) {
      // the m lowest-cid survivors are this round's super-centroids
      val supers = cents
        .withColumn("srn", row_number().over(Window.orderBy(col("cid"))))
        .filter(col("srn") <= m)
        .select(col("cid").as("sid"), col("cu").as("su"))
      // each centroid registers under its nearest super (k·m rows, broadcast-tiny)
      val registry = cents.crossJoin(broadcast(supers))
        .select(col("cid"), col("cu"), col("sid"), expr(dotExpr("cu", "su")).as("cs"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("cid")).orderBy(col("cs").desc, col("sid"))))
        .filter(col("rn") === 1)
        .select(col("sid"), col("cid"), col("cu"))
      // vectors probe their nprobe nearest supers, then argmax over
      // the registered candidates only
      val probed = e.crossJoin(broadcast(supers))
        .select(col("vec_id"), col("u"), col("sid"), expr(dotExpr("u", "su")).as("ss"))
        .withColumn("prn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("ss").desc, col("sid"))))
        .filter(col("prn") <= nprobe)
        .select(col("vec_id"), col("u"), col("sid"))
      assign = probed.join(broadcast(registry), Seq("sid"))
        .select(col("vec_id"), col("u"), col("cid"), expr(dotExpr("u", "cu")).as("cs"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("cs").desc, col("cid"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("u"), col("cid"))
      if (i < iters) cents = updateCentroids(assign)
    }
    assign.select(col("vec_id"), col("cid").cast("long").as("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** SemDeDup-style semantic near-duplicate pairs: cluster the corpus
    * with spherical k-means ([[kmeansAssign]]), then score exact
    * cosine ONLY within a cluster — the third candidate-generation
    * family next to sign-LSH buckets and IVF cells. Near-duplicates
    * sit at cosine ≈ 1, which k-means co-clusters by construction, so
    * recall loss concentrates at the threshold boundary (same trade as
    * LSH, tunable via k).
    *
    * Scale shape: the pair join is a shuffle-partitioned equi-join on
    * cluster_id — never all-pairs. Candidate volume is Σ_c |c|² ≈ n²/k
    * under balance; k grows with the corpus (k ≈ n/⟨cluster⟩ keeps the
    * per-cluster pair work constant per partition), exactly how
    * SemDeDup runs at web scale.
    * Output: (cluster_id, vec_a, vec_b, cosine) ordered by (vec_a, vec_b).
    */
  def semanticNearDups(embeddings: DataFrame, k: Int, iters: Int, minCos: Double): DataFrame = {
    val e = normalized(embeddings)
    val t = e.join(kmeansAssign(embeddings, k, iters), Seq("vec_id"))
    t.as("a").join(t.as("b"),
        col("a.cluster_id") === col("b.cluster_id") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cluster_id").as("cluster_id"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        expr(dotExpr("a.u", "b.u")).as("cosine"))
      .filter(col("cosine") >= minCos)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Recall@k harness core: per-query overlap of an approximate
    * (qid, nid) result set against the exact brute-force one. The join
    * is on (qid, nid) over 2·nQueries·k rows, so the evaluation costs
    * what the two searches cost. The ratio is a small-integer division
    * — exactly representable, engine-portable.
    * Output: (qid, n_matched, recall) ordered by qid.
    */
  private def recallOf(brute: DataFrame, approx: DataFrame): DataFrame = {
    val matched = brute.join(approx, Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_matched"))
    brute.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(matched, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        (coalesce(col("n_matched"), lit(0L)).cast("double") / col("n_exact")).as("recall"))
      .orderBy(col("qid"))
  }

  /** Recall@k of the sign-LSH ANN path against the exact brute-force
    * answer — the evaluation harness every approximate index needs
    * before it replaces the exact scan in production. Both sides are
    * the existing oracle-checked operators.
    * Output: (qid, n_matched, recall) ordered by qid.
    */
  def recallAtK(embeddings: DataFrame, nQueries: Int, k: Int,
                planes: Int, dim: Int): DataFrame =
    recallOf(
      cosineTopK(embeddings, nQueries, k).select(col("qid"), col("nid")),
      cosineTopKLsh(embeddings, nQueries, k, planes, dim).select(col("qid"), col("nid")))

  /** Recall@k of the IVF coarse-quantizer path ([[cosineTopKIvf]])
    * against brute force. Monotone in `nprobe`: probing more cells can
    * only add candidates, so recall at nprobe=nlist is exactly 1
    * (asserted in SimilarityLshSpec).
    * Output: (qid, n_matched, recall) ordered by qid.
    */
  def recallAtKIvf(embeddings: DataFrame, nQueries: Int, k: Int,
                   nlist: Int, nprobe: Int): DataFrame = {
    // ONE normalize pass feeds both sides (VERDICT r20 item 6): the
    // brute and IVF subtrees each re-scanned the corpus and
    // re-normalized it (a projection Catalyst cannot dedup across the
    // join), so the pass ran 2× per evaluation. Pinning the normalized
    // frame runs it once; both sides read the checkpointed rows.
    // Output bit-identical: same expressions, evaluated once.
    val e = Dedup.materialize(normalized(embeddings))
    val (cents, assign) = ivfStructureOf(e, nlist)
    recallOf(
      cosineTopKOf(e, nQueries, k).select(col("qid"), col("nid")),
      ivfQuery(cents, assign, nQueries, k, nprobe).select(col("qid"), col("nid")))
  }

  /** Recall@k of the int8-quantized full-scan path ([[cosineTopKInt8]])
    * against brute force — measures pure ranking fidelity lost to
    * 8-bit lane quantization (no candidate pruning on this path, so
    * any miss is a quantization tie-flip near the k boundary).
    * Output: (qid, n_matched, recall) ordered by qid.
    */
  def recallAtKInt8(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    // same one-normalize-pass sharing as [[recallAtKIvf]]
    val e = Dedup.materialize(normalized(embeddings))
    recallOf(
      cosineTopKOf(e, nQueries, k).select(col("qid"), col("nid")),
      cosineTopKInt8Of(e, nQueries, k).select(col("qid"), col("nid")))
  }

  /** Embedding-cosine near-duplicate pairs: all (vec_a < vec_b) with
    * cosine >= minCos — the vector-space member of the dedup tier
    * (exact / Jaccard / MinHash / SimHash / embedding-cosine). Same
    * normalize-once + single-codegen-dot kernel as top-k. This is the
    * exact-recall correctness baseline (O(n²) pair join), TEST-ONLY:
    * the catalog qid (q32) is owned by [[embeddingNearDupsLsh]], which
    * generates candidates via [[signLshBuckets]] bucketing; this brute
    * form backs the SimilarityLshSpec subset/equality assertions and
    * is never reachable from SparkEntry.queries.
    * Output: (vec_a, vec_b, cosine) ordered.
    */
  def embeddingNearDups(embeddings: DataFrame, minCos: Double): DataFrame = {
    val e = normalized(embeddings)
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        expr(dotExpr("a.u", "b.u")).as("cosine"))
      .filter(col("cosine") >= minCos)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** (vec_id, u, bucket): unit vectors tagged with their sign-LSH
    * bucket — the shared candidate-generation input of the bucketed
    * pair operators.
    */
  private def bucketed(embeddings: DataFrame, planes: Int, dim: Int): DataFrame =
    // guarded divisor hoisted per row, as in [[normalized]]
    signLshBuckets(embeddings, planes, dim)
      .select(col("vec_id"), col("v"), col("bucket"),
        expr(dotExpr("v", "v")).as("_n2"))
      .select(col("vec_id"), col("v"), col("bucket"),
        expr("CASE WHEN _n2 = 0D THEN 1D ELSE sqrt(_n2) END").as("_nrm"))
      .select(col("vec_id"),
        expr("transform(v, x -> x / _nrm)").as("u"),
        col("bucket"))

  /** 100 TB form of [[embeddingNearDups]]: candidate pairs are
    * generated only within a sign-LSH bucket — a shuffle-partitioned
    * equi-join on the bucket id, never all-pairs — then scored with the
    * exact cosine and filtered at minCos. With 2^planes buckets the
    * candidate volume drops from n²/2 to Σ_b |bucket_b|²/2 (≈ n²/2^p
    * under balance), and the join parallelizes across buckets. Recall
    * < 1 by construction: a qualifying pair whose vectors land in
    * different buckets is missed — the standard LSH trade, tunable via
    * `planes` (fewer planes = bigger buckets = higher recall).
    * Output: (vec_a, vec_b, cosine) ordered.
    */
  def embeddingNearDupsLsh(embeddings: DataFrame, minCos: Double, planes: Int, dim: Int): DataFrame = {
    val b = bucketed(embeddings, planes, dim)
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        expr(dotExpr("a.u", "b.u")).as("cosine"))
      .filter(col("cosine") >= minCos)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** 100 TB form of [[topPairs]]: the same bucket equi-join candidate
    * generation as [[embeddingNearDupsLsh]], with the global top-n
    * planned as TakeOrderedAndProject over the candidate set
    * (per-partition heaps — no global sort, no all-pairs join).
    * Top-ranked pairs are overwhelmingly near-duplicates, which LSH
    * buckets together by design, so recall loss concentrates in the
    * low-cosine tail. Output: (rnk, vec_a, vec_b, cosine) by rnk.
    */
  def topPairsLsh(embeddings: DataFrame, n: Int, planes: Int, dim: Int): DataFrame = {
    val b = bucketed(embeddings, planes, dim)
    val order = Seq(col("cosine").desc, col("vec_a"), col("vec_b"))
    val top = b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        expr(dotExpr("a.u", "b.u")).as("cosine"))
      .orderBy(order: _*)
      .limit(n) // TakeOrderedAndProject: per-partition top-n heaps
    graft.plans.GlobalRank(top, order)
      .select(col("rnk"), col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy(col("rnk"))
  }

  /** [[topPairsLsh]] at the corpus-derived operating point: `planes`
    * comes from [[derivePlanes]] over a cheap metadata-only corpus
    * count, so the candidate volume stays Θ(n · targetBucket) — linear
    * — at ANY corpus size instead of Θ(n²/2^p) at a frozen p. This is
    * the catalog form (q19); the explicit-planes overload remains for
    * fixed-operating-point comparison rows (q57) and tests.
    */
  def topPairsLshAuto(embeddings: DataFrame, n: Int, dim: Int): DataFrame =
    topPairsLsh(embeddings, n, derivePlanes(embeddings.count()), dim)

  /** [[embeddingNearDupsLsh]] at the corpus-derived operating point
    * (see [[topPairsLshAuto]]); the catalog form (q32).
    */
  def embeddingNearDupsLshAuto(embeddings: DataFrame, minCos: Double, dim: Int): DataFrame =
    embeddingNearDupsLsh(embeddings, minCos, derivePlanes(embeddings.count()), dim)

  /** [[semanticNearDups]] at the corpus-derived cluster count: `k`
    * comes from [[deriveK]] so the mean cluster stays at targetCluster
    * vectors and intra-cluster pair volume is linear in n — how
    * SemDeDup actually runs at web scale (k grows with the corpus).
    * The catalog form (q93).
    */
  def semanticNearDupsAuto(embeddings: DataFrame, iters: Int, minCos: Double): DataFrame =
    semanticNearDups(embeddings, deriveK(embeddings.count()), iters, minCos)

  /** LSH-accelerated top-k: exact cosine computed only against vectors
    * in the query's bucket. Recall < 1 by construction; the 100 TB
    * trade. Output: (qid, rnk, nid, cosine) ordered by (qid, rnk).
    */
  def cosineTopKLsh(embeddings: DataFrame, nQueries: Int, k: Int, planes: Int, dim: Int): DataFrame = {
    val b = bucketed(embeddings, planes, dim)
    val q = b.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("u").as("qu"), col("bucket").as("qbucket"))
    val scored = b.join(broadcast(q), col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), expr(dotExpr("qu", "u")).as("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"), col("cosine"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** kNN majority-vote label classification: the labeled vectors with
    * `vec_id >= nQueries` are the train set; each query (`vec_id <
    * nQueries`) takes its k exact-cosine nearest train neighbours and
    * predicts the most frequent neighbour label (ties broken by the
    * smaller label — deterministic, engine-portable). The standard
    * weak-supervision / label-propagation primitive for seeding
    * training-data taxonomies from a small labeled pool.
    *
    * Scale shape: the query side is bounded (a labeling batch, not the
    * corpus) and broadcast, so scoring is ONE pass over the train
    * corpus with no shuffle of the corpus itself; the top-k window and
    * vote agg shuffle only nQueries·n candidate rows, and at real
    * scale the scoring join swaps to the IVF/LSH candidate generators
    * above without touching the vote logic.
    * Output: (qid, true_label, pred_label, votes) ordered by qid.
    */
  def knnClassify(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val el = normalized(
      embeddings.withColumn("label", col("label").cast("long")), "label")
    val q = el.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("u").as("qu"), col("label").as("true_label"))
    val train = el.filter(col("vec_id") >= nQueries)
    val scored = train.crossJoin(broadcast(q))
      .select(col("qid"), col("true_label"), col("label"), col("vec_id").as("nid"),
        expr(dotExpr("qu", "u")).as("cosine"))
    majorityVote(scored, k)
  }

  /** The vote half of kNN classification, shared by every candidate
    * generator: per-query top-k by cosine (ties to the lower nid),
    * label counts, majority with ties to the smaller label.
    * Input columns: (qid, true_label, label, nid, cosine).
    *
    * The top-k stage is the custom partial-heap operator
    * ([[graft.plans.TopK.perGroup]]), not a row_number window: the
    * candidate frame is nQueries x corpus rows, and the window form
    * would shuffle and full-sort ALL of it per query, while the heap
    * form reduces each map partition to <= k rows per query BEFORE the
    * exchange — the shuffle carries nQueries x k rows total no matter
    * how big the train corpus gets. (cosine desc, nid) is a total
    * order, so the kept row set is identical to the window form's.
    */
  private def majorityVote(scored: DataFrame, k: Int): DataFrame = {
    val votes = graft.plans.TopK.perGroup(scored,
        Seq(col("qid")), Seq(col("cosine").desc, col("nid")), k)
      .groupBy(col("qid"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val pick = Window.partitionBy(col("qid")).orderBy(col("votes").desc, col("label"))
    votes.withColumn("vr", row_number().over(pick)).filter(col("vr") === 1)
      .select(col("qid"), col("true_label"), col("label").as("pred_label"), col("votes"))
      .orderBy(col("qid"))
  }

  /** IVF-accelerated [[knnClassify]]: candidates come from the coarse
    * quantizer's probed cells (exactly [[cosineTopKIvf]]'s generator)
    * instead of a full train scan, and the vote logic is shared
    * verbatim — the promised "swap the candidate generator, keep the
    * classifier" scale path. With `nprobe = nlist` every cell is
    * probed and the result equals the brute [[knnClassify]] exactly
    * (asserted in TrainingOpsSpec); at scale nprobe ≪ nlist touches
    * only ~nprobe/nlist of the corpus per query batch.
    * Output: (qid, true_label, pred_label, votes) ordered by qid.
    */
  def knnClassifyIvf(embeddings: DataFrame, nQueries: Int, k: Int,
                     nlist: Int, nprobe: Int): DataFrame = {
    val e = normalized(
      embeddings.withColumn("label", col("label").cast("long")), "label")
    val cents = e.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cid"), col("u").as("cu"))
    val ranked = e.join(broadcast(cents))
      .select(col("vec_id"), col("u"), col("label"), col("cid"),
        expr(dotExpr("u", "cu")).as("csim"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))))
    val train = ranked.filter(col("crn") === 1 && col("vec_id") >= nQueries)
      .select(col("vec_id"), col("u"), col("label"), col("cid").as("cell"))
    val qprobe = ranked.filter(col("vec_id") < nQueries && col("crn") <= nprobe)
      .select(col("vec_id").as("qid"), col("u").as("qu"),
        col("label").as("true_label"), col("cid").as("cell"))
    val scored = train.join(broadcast(qprobe), Seq("cell"))
      .select(col("qid"), col("true_label"), col("label"), col("vec_id").as("nid"),
        expr(dotExpr("qu", "u")).as("cosine"))
    majorityVote(scored, k)
  }

  /** Distance-to-centroid outlier scoring: cosine of each unit vector
    * against the corpus centroid, most outlying first — the embedding-
    * space quality filter (mislabeled / off-distribution documents sit
    * far from the data's mean direction). The centroid is computed
    * from micro-unit-quantized i64 lane sums (exactly as
    * [[kmeansAssign]]'s update step) so it is order-independent and
    * bit-reproducible in any engine; the emitted score is fixed-point
    * i64 (`floor(cos·1e6 + 0.5)`) for the same reason.
    *
    * Scale shape: one map-side-combinable groupBy over dim·n quantized
    * lanes (dim rows out), centroid broadcast back via a 1-row cross
    * join, then a codegen dot per row — no corpus shuffle anywhere;
    * the top-n is a TakeOrderedAndProject heap, not a global sort.
    * Output: (rnk, vec_id, label, cos_fp) ordered by rnk (ascending cosine).
    */
  def embeddingOutliers(embeddings: DataFrame, n: Int): DataFrame = {
    val e = normalized(embeddings)
    // centroid via the native array-sum aggregate (graft_vsum): each
    // partition folds its quantized vectors into ONE i64 lane buffer
    // (map-side partial), no posexplode of n·dim rows, no per-pos
    // shuffle, no collect_list rebuild — and i64 addition is exact and
    // associative, so the array is bit-identical to the explode form
    // and the oracle is untouched. Lane order rides the array itself.
    val cv = e
      .select(expr(quantizeMicro("u")).as("qa"))
      // count(qa) + the not-null filter: graft_vsum skips null vectors
      // like the explode form's absent lane rows, so the mean divisor
      // skips them too; an all-null corpus folds to NULL sxs and the
      // filter restores the explode form's empty-centroid-frame shape
      // (empty crossJoin -> empty report, not a NULL-score corpus).
      .agg(expr(s"${graft.functions.VectorExprs.VSumName}(qa)").as("sxs"),
        count(col("qa")).as("cnt"))
      .filter(col("sxs").isNotNull)
      .select(expr("transform(sxs, s -> cast(s as double) / (cnt * 1000000.0D))").as("cv"))
      .select(col("cv"), expr(
        s"CASE WHEN ${dotExpr("cv", "cv")} = 0D THEN 1D " +
          s"ELSE sqrt(${dotExpr("cv", "cv")}) END").as("_nrm"))
      .select(expr("transform(cv, x -> x / _nrm)").as("cu"))
    val scored = e.crossJoin(broadcast(cv))
      .select(col("vec_id"),
        expr(s"cast(floor(${dotExpr("u", "cu")} * 1000000.0D + 0.5D) as bigint)").as("cos_fp"))
      .orderBy(col("cos_fp").asc, col("vec_id"))
      .limit(n) // TakeOrderedAndProject: per-partition bottom-n heaps
    // the label joins the n SURVIVORS, never the corpus: at 100 TB
    // this is a broadcast of n rows against one pass of the label
    // table, not a corpus-wide carry or corpus×corpus join. They are
    // ranked first, while they are still the limit's one partition.
    val lab = embeddings.select(col("vec_id"), col("label").cast("long").as("label"))
    graft.plans.GlobalRank(scored, Seq(col("cos_fp").asc, col("vec_id")))
      .join(lab, Seq("vec_id"))
      .select(col("rnk"), col("vec_id"), col("label"), col("cos_fp"))
      .orderBy(col("rnk"))
  }

  /** Per-label embedding centroid drift — the distribution-shift
    * diagnostic: each label's mean-vector direction scored by cosine
    * against the global mean direction, fixed-point i64. A label whose
    * centroid sits far from the corpus mean direction (low drift_fp)
    * is the slice to re-balance or audit before training.
    *
    * Everything past the unit-normalize is INTEGER lane arithmetic:
    * per-(label, pos) micro-unit lane sums (i64), quantized mean lanes
    * `mq = floor(sx/cnt + 0.5)` (micro-units, i64), and then norms and
    * the label-vs-global dot as plain i64 `SUM(mq·mq)` / `SUM(mq·gq)`
    * over lane ROWS — no vector rebuild, no float accumulation
    * anywhere, so every aggregate is order-independent and the whole
    * report is engine-portable bit-for-bit. The only float ops are
    * per-row scalar divisions/sqrt on exact integer operands. The
    * global sums are the per-label sums re-added (integer addition is
    * associative), so global and per-label views can never disagree.
    * A zero centroid (all-zero label) takes divisor 1e6 — micro-unit
    * for the 1.0 of the file-wide zero-norm guard contract — and
    * scores drift 0 naturally.
    *
    * Scale shape: the corpus folds into |labels| i64 lane buffers via
    * the native graft_vsum aggregate (map-side combinable, dim longs
    * per label per partition over the wire); the global rollup
    * re-aggregates the tiny (label, pos) lane rows, not the corpus;
    * the dot/norm agg joins |labels|·dim lane rows against a broadcast
    * dim-row global lane table (carrying the windowed global norm²)
    * and combines map-side.
    * Output: (label, n_members, drift_fp) ordered by label.
    *
    * VALUE-SEMANTICS NOTE (see README "Value-semantics changes"): the
    * integer-lane rework quantizes mean lanes to micro-units before
    * the norm/dot, so drift_fp values differ in low digits from the
    * earlier float-lane implementation. Consumers pinning exact prior
    * values must re-baseline; the ranking interpretation is unchanged.
    */
  def labelCentroidDrift(embeddings: DataFrame): DataFrame = {
    // per-label lane sums via the native array-sum aggregate: the
    // corpus folds into |labels| i64 buffers with map-side partials
    // (dim longs per label per partition over the wire — the
    // posexplode form shuffled n·dim quantized-lane ROWS); the tiny
    // per-label arrays then explode into the (label, pos) lane rows
    // the rest of the integer pipeline consumes, values bit-identical
    val lanes = normalized(
        embeddings.withColumn("label", col("label").cast("long")), "label")
      .select(col("label"), expr(quantizeMicro("u")).as("qa"))
      .groupBy(col("label"))
      // count(qa): n_members counts vectors that actually contributed
      // lanes (graft_vsum skips nulls; the explode form never emitted
      // rows for them). An all-null label folds to NULL sxs and drops
      // out at the posexplode below — same as having no lane rows.
      .agg(expr(s"${graft.functions.VectorExprs.VSumName}(qa)").as("sxs"),
        count(col("qa")).as("cnt"))
      .select(col("label"), col("cnt"), posexplode(col("sxs")).as(Seq("pos", "sx")))
      .select(col("label"), col("pos"), col("sx"), col("cnt"))
    // quantized mean lane in micro-units: sx is already a micro-unit
    // sum, so the mean lane is one exact-operand double divide + round
    val mq = expr("cast(floor(cast(sx as double) / cnt + 0.5D) as bigint)")
    val lm = lanes.select(col("label"), col("pos"), col("cnt"), mq.as("mq"))
    // the GLOBAL norm² rides every broadcast lane row via a window
    // over the dim-row gq frame (trivially single-partition), so each
    // label reads it with max() — no separate global-agg branch, no
    // final cross join, and NO reliance on every label covering every
    // dim lane (a ragged label under-summing sum(gq²) in its own
    // group would silently diverge from the oracle's global gnrm2)
    val gq = lanes.groupBy(col("pos"))
      .agg(sum(col("sx")).as("sx"), sum(col("cnt")).as("cnt"))
      .select(col("pos"), mq.as("gq"))
      .withColumn("gnrm2", sum(col("gq") * col("gq"))
        .over(Window.partitionBy(lit(1))))
    val perLabel = lm.join(broadcast(gq), Seq("pos"))
      .groupBy(col("label"))
      .agg(max(col("cnt")).as("n_members"), // cnt is constant across a group's lanes
        sum(col("mq") * col("mq")).as("nrm2"),
        sum(col("mq") * col("gq")).as("dot"),
        max(col("gnrm2")).as("gnrm2")) // constant across rows: the global norm²
    val div = (side: String) => // micro-unit norm; 1e6 = guarded unit divisor
      s"CASE WHEN $side = 0L THEN 1000000.0D ELSE sqrt(cast($side as double)) END"
    perLabel
      .select(col("label"), col("n_members"),
        expr(s"cast(floor(cast(dot as double) / (${div("nrm2")} * ${div("gnrm2")})" +
          " * 1000000.0D + 0.5D) as bigint)").as("drift_fp"))
      .orderBy(col("label"))
  }

  /** Cluster-quality evaluation: purity of each [[kmeansAssign]]
    * cluster against the ground-truth `label` column — members, the
    * majority label, and purity as exact parts-per-million (integer
    * `maj·1e6 div n`, no float division to drift between engines). The
    * standard acceptance check before using clusters for curation
    * (SemDeDup, mixture balancing): low-purity clusters mean k is too
    * small or the embedding space is poor.
    *
    * Scale shape: rides [[kmeansAssign]] (broadcast centroids, one
    * corpus pass per Lloyd round) plus two map-side-combinable
    * groupBys over (cluster, label) — at most k·|labels| rows after
    * the first agg.
    * Output: (cluster_id, n_members, maj_label, purity_ppm) ordered by cluster_id.
    */
  def clusterPurity(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val lab = embeddings.select(col("vec_id"), col("label").cast("long").as("label"))
    val byLabel = kmeansAssign(embeddings, k, iters).join(lab, Seq("vec_id"))
      .groupBy(col("cluster_id"), col("label"))
      .agg(count(lit(1)).as("n"))
    val pick = Window.partitionBy(col("cluster_id")).orderBy(col("n").desc, col("label"))
    byLabel.withColumn("rn", row_number().over(pick))
      .groupBy(col("cluster_id"))
      .agg(sum(col("n")).as("n_members"),
        max(when(col("rn") === 1, col("label"))).as("maj_label"),
        max(when(col("rn") === 1, col("n"))).as("maj_n"))
      .select(col("cluster_id"), col("n_members"), col("maj_label"),
        expr("maj_n * 1000000L div n_members").as("purity_ppm"))
      .orderBy(col("cluster_id"))
  }
}
