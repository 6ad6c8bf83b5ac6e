package graft.operators

import graft.functions.PortableHash
import graft.sources.StateTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * North-star extension (BASELINE.json): no counterpart exists in the
  * reference; semantics are defined by this engine (SURVEY.md §7.2 step
  * 6) and pinned by the DuckDB oracle + ScalaTest.
  *
  * Tiers, in increasing tolerance to variation:
  *  - [[exact]]        — hash-groupBy on the raw text (one shuffle).
  *  - [[jaccardPairs]] — exact word n-gram Jaccard via a shingle
  *                       self-join (the correctness baseline);
  *                       [[jaccardPairsCapped]] is its 100 TB form
  *                       (stop-shingle document-frequency cap bounds
  *                       every join bucket).
  *  - [[minhashLsh]]   — MinHash signatures + banded LSH candidate
  *                       generation, then exact verification of the
  *                       candidates only: cost is O(docs × shingles)
  *                       for signatures plus the (small) candidate
  *                       set, never all-pairs.
  *  - [[simhashPairs]] — 32-bit SimHash signatures, paired via
  *                       lossless pigeonhole chunk banding.
  * The vector-space tier (embedding cosine) lives in
  * [[Similarity.embeddingNearDups]].
  *
  * AQE note: the shingle subplan appears on several branches of these
  * plans; adaptive execution reuses the identical shuffle stages at
  * runtime, so the tokenize+explode work runs once, not per-branch
  * (verified against the executed plans — see SCALING.md).
  */
object Dedup {

  /** Materialize a frame that feeds multiple plan branches.
    *
    * Default: `localCheckpoint()` — eager, truncates lineage, keeps
    * blocks on executor storage. Measured fastest here, but a lost
    * executor on a real cluster loses the blocks AND the lineage to
    * rebuild them, killing the job. Setting the system property
    * `graft.materialize=persist` selects `persist(DISK_ONLY)` instead:
    * blocks spill to local disk but full lineage is retained, so a
    * lost executor's partitions are recomputed from source — the
    * fault-tolerant mode for long cluster runs. Both preserve the
    * frame's partitioning (downstream self-joins still skip their
    * shuffle); results are identical either way (asserted in
    * DedupSpec). Perf delta at sf0.01: see SCALING.md.
    *
    * Lifecycle: persist-mode blocks are NOT dropped when the query
    * finishes — Spark has no query-scoped unpersist hook, and the
    * long-lived cluster session this flag targets would otherwise
    * accumulate DISK_ONLY blocks across invocations. Every persisted
    * frame is therefore tracked, and [[releaseMaterialized]] drops
    * them all; call it between pipeline stages (or run
    * `spark.catalog.clearCache()` periodically — see the cluster-knobs
    * section of README.md).
    */
  private val persistedFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Weak registry of every frame the engine `localCheckpoint()`s.
    * Checkpoint blocks outlive their query: ContextCleaner only
    * reclaims them after a DRIVER GC collects the frame, and a large
    * quiet heap may not GC for the whole life of a 190-query sweep —
    * measured as the round-17 end-of-sweep degradation (q23's samples
    * rising monotonically 1.4→5.6 s; 33–42 s second-pass blowups on
    * q186/q187): the memory store fills with dead checkpoint blocks
    * and later queries pay the eviction churn. [[releaseMaterialized]]
    * drops every tracked frame's blocks deterministically; weak
    * references keep the registry itself from pinning frames a caller
    * never releases (the GC/ContextCleaner path still works).
    */
  private val trackedCheckpoints = scala.collection.mutable.ArrayBuffer
    .empty[java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]

  /** Register an engine-created checkpoint frame for deterministic
    * release; returns the frame. The registry weak-refs the
    * checkpoint's RDD, NOT the DataFrame: a consumer plan keeps the
    * RDD strongly reachable long after the wrapper Dataset the loop
    * built is garbage — with a DataFrame weakref, a GC between query
    * and release left the RDD unreleasable by anyone (our ref dead,
    * ContextCleaner blocked by the live plan reference; observed as a
    * flaky one-RDD census leak). The RDD weakref has the dual
    * lifetime: reachable-by-a-plan → we can release it; collected →
    * ContextCleaner already has it. No-op cost when release is never
    * called (weak refs — the registry never extends block lifetime).
    */
  private[graft] def trackCheckpoint(df: DataFrame): DataFrame = {
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        trackedCheckpoints.synchronized {
          trackedCheckpoints += new java.lang.ref.WeakReference(l.rdd)
        }
      case _ => ()
    }
    df
  }

  /** True iff the optimizer can prove the frame empty (a LocalRelation
    * with no rows — e.g. a turn fed a statically-empty delta side).
    * Driver-only plan inspection, no job. Used to skip materialization
    * and state-append jobs whose input is provably zero rows: the
    * append of an empty frame writes no data rows either way, so the
    * skip is semantics-preserving — it only removes the empty-file
    * write and its job-launch constant (the dominant cost of the
    * micro-batched turn queries, VERDICT r16 item 4).
    */
  private[graft] def staticallyEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.isEmpty
      case _ => false
    }

  private[graft] def materialize(df: DataFrame): DataFrame =
    if (staticallyEmpty(df)) df // nothing to pin; skip the checkpoint job
    else if (sys.props.get("graft.materialize").contains("persist")) {
      val p = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      p.count() // force eager materialization, matching localCheckpoint
      persistedFrames.synchronized { persistedFrames += p }
      p
    } else trackCheckpoint(df.localCheckpoint())

  /** [[materialize]] fused with the row count its callers need anyway
    * (the count gates the delta-broadcast hints, so every micro-batched
    * turn and CC round paid pin-then-count as two driver actions).
    * The pin stays the eager localCheckpoint; the count then reads the
    * ALREADY-materialized checkpoint blocks at the RDD level —
    * `toRdd.count()` over a LogicalRDD is a bare job with no SQL
    * execution (no analysis/optimization/AQE wrapper), so the pair
    * costs one driver action instead of two. (A lazy-checkpoint form
    * was tried first and won nothing: `Dataset.localCheckpoint` wraps
    * an execution whether or not it is eager.)
    */
  private[graft] def materializeCounted(df: DataFrame): (DataFrame, Long) =
    if (staticallyEmpty(df)) (df, 0L)
    else if (sys.props.get("graft.materialize").contains("persist")) {
      val p = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val n = p.count()
      persistedFrames.synchronized { persistedFrames += p }
      (p, n)
    } else {
      val m = materialize(df)
      (m, m.queryExecution.toRdd.count())
    }

  /** Unpersist every DISK_ONLY frame pinned by persist-mode
    * [[materialize]] calls since the last release (no-op in the
    * default localCheckpoint mode). Safe to call while downstream
    * results are still referenced: unpersisting only drops the cached
    * blocks, and the retained lineage recomputes them if a consumer
    * re-executes.
    */
  def releaseMaterialized(): Unit = {
    persistedFrames.synchronized {
      persistedFrames.foreach(_.unpersist(blocking = false))
      persistedFrames.clear()
    }
    // checkpoint-mode frames: drop the blocks of every tracked frame
    // still reachable. ONLY safe between queries — a released frame
    // cannot be re-executed (lineage was truncated). Sequential
    // drivers (Bench, batch jobs between pipeline stages) call this;
    // concurrent ones (Verify's thread pool) must not.
    trackedCheckpoints.synchronized {
      trackedCheckpoints.foreach { ref =>
        Option(ref.get()).foreach(_.unpersist(blocking = false))
      }
      trackedCheckpoints.clear()
    }
  }

  /** Drop the executor blocks of a `localCheckpoint()`-ed frame once a
    * later round has superseded it. The iterative operators
    * (propagation / star contraction) checkpoint a frame per round;
    * without this, a 25-round run pins 25 full label/edge copies on
    * executor storage for the life of the job — at corpus scale that
    * evicts blocks other queries need. `Dataset.unpersist` cannot do
    * it (it only releases CacheManager entries, not checkpoint
    * blocks), so the checkpointed RDD is unpersisted directly.
    *
    * ROOT-match only, never a tree search: the frame must BE a
    * checkpoint (its logical plan root is the LogicalRDD), not merely
    * derive from one. A collectFirst over the whole plan found the
    * CALLER'S materialized input as a leaf — the round-18 bpe32k probe
    * crashed with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND minutes later when
    * the encode re-read the corpus frame the trainer's first round had
    * silently released. A loop may only release what it checkpointed.
    */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Word n-gram shingle set per document: (doc_id, shingle), distinct. */
  def shingles(docs: DataFrame, n: Int): DataFrame =
    shinglesRaw(docs, n).distinct()

  /** The exploded (doc_id, shingle) rows BEFORE the distinct — for
    * [[jaccardPairsCappedUnordered]], which dedups and computes the
    * df cap on one shingle-keyed exchange instead of letting the
    * distinct spend its own (doc_id, shingle)-keyed one first.
    */
  private def shinglesRaw(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(
        expr(s"transform(sequence(0, size(w)-$n), i -> array_join(slice(w, i+1, $n), ' '))")
      ).as("shingle"))

  /** Duplicated-span inventory: every word n-gram span occurring in at
    * least `minDf` DISTINCT documents, with its document frequency,
    * total occurrence count, and first owner — the boilerplate
    * detector (exact-substring dedup at n-gram granularity, the
    * Lee et al. "Deduplicating Training Data" diagnostic): spans with
    * high df are headers/footers/license blocks to strip before
    * training.
    *
    * Scale shape: one narrow explode (no distinct — occurrences
    * counted too) into ONE map-side-combinable groupBy keyed on the
    * span; count-distinct over doc_id rides the same exchange. No
    * joins, no pair enumeration — linear in total corpus tokens.
    * Output: (span, n_docs, occurrences, first_doc) ordered by
    * (n_docs desc, span).
    */
  def dupSpans(docs: DataFrame, n: Int, minDf: Int): DataFrame =
    docs
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(
        expr(s"transform(sequence(0, size(w)-$n), i -> array_join(slice(w, i+1, $n), ' '))")
      ).as("span"))
      .groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDf)
      .orderBy(col("n_docs").desc, col("span"))

  /** Cross-source duplication matrix: near-duplicate pairs (from the
    * DF-capped Jaccard generator) rolled up by unordered source pair —
    * the provenance diagnostic behind dedup policy ("which feeds copy
    * from which?"): a hot (source_lo, source_hi) cell means one feed
    * mirrors another and can be dropped wholesale instead of pair-by-
    * pair. `max_jaccard` is an order-independent witness (no float
    * summation, so the cell is engine-exact).
    *
    * Scale shape: rides [[jaccardPairsCapped]]'s output-bound pair
    * list; the two source lookups are equi-joins keyed on doc id, and
    * the rollup is one map-side-combinable groupBy over ≤ |sources|²
    * result rows.
    * Output: (source_lo, source_hi, n_pairs, max_jaccard) ordered by
    * (n_pairs desc, source_lo, source_hi).
    */
  def crossSourceDups(docs: DataFrame, n: Int, minJ: Double, maxDf: Int): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    jaccardPairsCappedUnordered(docs, n, minJ, maxDf)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), Seq("doc_b"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_lo"),
        greatest(col("src_a"), col("src_b")).as("source_hi"))
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("n_pairs").desc, col("source_lo"), col("source_hi"))
  }

  /** Exact dedup: group by content fingerprint, keep the lowest doc_id.
    * Output: (fp, keep_id, n_copies) ordered by keep_id.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** All document pairs with word-n-gram Jaccard >= minJ.
    * Output: (doc_a, doc_b, jaccard) ordered by (doc_a, doc_b).
    */
  def jaccardPairs(docs: DataFrame, n: Int, minJ: Double): DataFrame = {
    val sh = shingles(docs, n)
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    withJaccard(inter, cnt)
      .filter(col("jaccard") >= minJ)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 100 TB variant of [[jaccardPairs]]: shingles with document
    * frequency above `maxDf` are dropped BEFORE the pair join — the
    * standard stop-shingle cap that bounds every join bucket at
    * maxDf², making worst-case cost linear in corpus size × maxDf.
    * Jaccard is then computed over the capped shingle universe:
    * identical to the exact result whenever no shingle exceeds the cap
    * (asserted in tests). Otherwise the deviation is TWO-SIDED, not an
    * under-approximation: a capped shingle shared by both docs shrinks
    * the intersection (score drops), but one present in only ONE doc
    * shrinks that doc's count alone (score RISES — e.g. A={x,s},
    * B={x} with s capped goes from 1/2 to 1/1), so a pair can clear
    * `minJ` that the exact operator rejects. That is the standard
    * stop-word contract: boilerplate shingles carry no identity
    * signal, and scores are over the informative universe only.
    */
  def jaccardPairsCapped(docs: DataFrame, n: Int, minJ: Double, maxDf: Int): DataFrame =
    jaccardPairsCappedUnordered(docs, n, minJ, maxDf).orderBy(col("doc_a"), col("doc_b"))

  /** [[jaccardPairsCapped]] WITHOUT the final global sort — for the
    * SET-semantics consumers (connected components, keep-best,
    * leak-free split, PageRank, cross-source rollup, the curated
    * chain): each one canonicalizes/groups/joins the pair rows, so
    * the ordered form's range sort — a sampling pass plus an exchange
    * that lands INSIDE the consumer's first checkpoint — is dead
    * weight. The ordered form stays the public/oracle contract (q11
    * returns the pair table directly; persisted pair artifacts keep
    * it for stable file layout).
    */
  private[graft] def jaccardPairsCappedUnordered(docs: DataFrame, n: Int, minJ: Double, maxDf: Int): DataFrame = {
    // ONE shingle-keyed exchange serves the dedup, the df cap AND the
    // self-join's co-partitioning: the raw exploded rows repartition
    // by shingle; the (doc_id, shingle) dropDuplicates then needs no
    // exchange of its own (hash-partitioning on a subset of the
    // grouping keys satisfies its distribution), and the df count
    // window rides the same partitioning — previously the distinct
    // spent a full (doc_id, shingle)-keyed exchange of the exploded
    // set before the window exchanged the distinct set AGAIN by
    // shingle. The window (sort-based, streaming) keeps the cap
    // skew-safe at corpus scale: a boilerplate shingle's rows stream
    // through the count, they are never collected into memory.
    // materialize once: this frame feeds BOTH self-join sides plus
    // the per-doc counts, and no ReusedExchange fires across those
    // branches — without it the text explode + window runs 3-4x per
    // query (and again in every downstream consumer: clusters,
    // keep-best, PageRank). Both materialize modes preserve the
    // shingle partitioning, so the self-join still skips its shuffle;
    // -Dgraft.materialize=persist selects the lineage-safe DISK_ONLY
    // form for fault-tolerant cluster runs (see [[materialize]]).
    val capped = materialize(shinglesRaw(docs, n)
      .repartition(col("shingle"))
      .dropDuplicates(Seq("doc_id", "shingle"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("shingle"))))
      .filter(col("df") <= maxDf)
      .drop("df"))
    val cnt = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = capped.as("a")
      .join(capped.as("b"), col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    withJaccard(inter, cnt)
      .filter(col("jaccard") >= minJ)
  }

  /** MinHash + banded LSH near-dup detection, exact-verified.
    *
    * numHashes signatures are split into `bands` bands of
    * numHashes/bands rows; docs sharing any band bucket become
    * candidates; candidates are verified with exact Jaccard computed
    * over their shingle sets only.
    * Output: (doc_a, doc_b, jaccard) ordered by (doc_a, doc_b).
    */
  def minhashLsh(docs: DataFrame, n: Int, numHashes: Int, bands: Int, minJ: Double): DataFrame = {
    val (sh, _, cand) = minhashCandidates(docs, n, numHashes, bands)
    // exact verification restricted to candidate pairs
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val interm = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    withJaccard(interm, cnt)
      .filter(col("jaccard") >= minJ)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shared LSH front half: (shingles, signatures, candidate pairs).
    * All numHashes signature mins in ONE map-side-combinable groupBy —
    * no param cross-join (a numHashes× row blowup) and a single
    * shuffle keyed on doc_id alone; band bucket = comma-joined sigs
    * of the band, one (band, bucket) row per band via posexplode.
    */
  private def minhashCandidates(docs: DataFrame, n: Int, numHashes: Int,
                                bands: Int): (DataFrame, DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sh = shingles(docs, n)
    val hashed = sh.select(col("doc_id"), PortableHash.hash32(col("shingle")).as("h"))
    val sigCols = PortableHash.minhashParams(numHashes).map { case (i, a, b) =>
      min((lit(a) * col("h") + lit(b)) % lit(PortableHash.P)).as(s"sig_$i")
    }
    val sigs = hashed.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val buckets = bandBuckets(sigs, numHashes, bands)
    val cand = buckets.as("x").join(buckets.as("y"), Seq("band", "bucket"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    (sh, sigs, cand)
  }

  /** Persist MinHash signature state as a lake table — the near-dup
    * analog of [[graft.operators.Similarity.buildIvfIndex]]'s
    * build-once contract. Layout: ONE table, the root's
    * [[graft.sources.StateTable.Sigs]] member (doc_id, sig_0..n-1) — at 100 TB it is the only structure a
    * daily dedup batch needs (history's TEXT is never re-shingled).
    * Band buckets are a pure function of the signature row
    * ([[bandBuckets]]: a concat over k longs), so they are DERIVED at
    * read time rather than stored: a second table would have to be
    * appended in lockstep with this one, and a failure between the two
    * appends would leave a doc invisible to every future candidate
    * join — silent permanent recall loss. One table, one append, no
    * torn state.
    */
  def persistMinhashSignatures(docs: DataFrame, n: Int, numHashes: Int,
                               bands: Int, path: String): Unit = {
    val (_, sigs, _) = minhashCandidates(docs, n, numHashes, bands)
    sigs.write.mode("overwrite").parquet(StateTable(docs.sparkSession, path).path(StateTable.Sigs))
  }

  /** Max delta rows the incremental state joins BROADCAST (doc rows;
    * the widest broadcast payload is the signature frame at
    * ~numHashes×8 B/row ≈ 15 MB at the default 100k — inside any
    * sane driver/executor budget). Above it (a backfill-sized
    * "delta") the joins keep the shuffle plan. Tunable per deployment
    * via -Dgraft.deltaBroadcastRows.
    */
  private[graft] def DeltaBroadcastRows: Long =
    sys.props.get("graft.deltaBroadcastRows").map(_.toLong).getOrElse(100000L)

  /** Gated broadcast of a DELTA-sized side (the caller supplies the
    * measured row count — deltas are materialized or file-backed, so
    * the count is one cheap pass over pinned/small data). Checkpointed
    * deltas have opaque planner stats, so without the hint every
    * state-vs-delta join sort-merge-shuffles the STATE side.
    */
  private[graft] def gatedBroadcast(df: DataFrame, rows: Long): DataFrame =
    if (rows <= DeltaBroadcastRows) broadcast(df) else df

  /** Delta side of a state-vs-delta SEMI/INNER join (tombstone heals,
    * stale-row probes): broadcast-hint it only when the STATE side is
    * past the planner's own broadcast threshold — below it the planner
    * broadcasts the state keys itself and the hint's materialize+count
    * would add jobs for nothing — and the measured delta fits
    * [[DeltaBroadcastRows]]. Same asymptotics as [[deltaAntiState]]
    * for the join kinds that CAN build on the delta side.
    */
  private[graft] def deltaProbeSide(delta: DataFrame, state: DataFrame): DataFrame = {
    val bcastBytes = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    val stateSmall = bcastBytes > 0 &&
      state.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(bcastBytes)
    if (stateSmall) delta
    else {
      val (pinned, rows) = materializeCounted(delta)
      gatedBroadcast(pinned, rows)
    }
  }

  /** Replay/append filter — rows of `delta` whose `cols` tuple is
    * absent from `stateKeys` — WITHOUT shuffling the state once the
    * state outgrows broadcast. A plain
    * `delta.join(stateKeys, cols, "left_anti")` cannot avoid it then:
    * anti joins only build on the RIGHT side (both broadcast and
    * shuffled hash variants), so a big state is exchanged on EVERY
    * append — per micro-batch in the stream fronts, per turn in the
    * daily loop, and at 100 TB the exchanged side is the state table.
    *
    * Three-way gate, cheapest check first (all driver-only):
    *  1. state's estimated bytes within the planner's broadcast
    *     threshold → keep the plain anti (the planner broadcasts the
    *     state keys itself; adding our shape would only add jobs —
    *     measured +30% on the sf0.1 stream-ingest queries, whose
    *     state IS broadcastable at that scale);
    *  2. big state, delta within [[DeltaBroadcastRows]] → pin the
    *     delta once and semi-restrict the state's keys to the
    *     broadcast delta keys map-side (one state SCAN, no exchange —
    *     the same scan the anti would do), then anti-join the delta
    *     against that delta-bounded hit set, also broadcast.
    *     Algebraically exact: delta ▷ K ≡ delta ▷ (K ⋉ delta);
    *  3. big state AND oversized delta (a backfill) → the plain anti
    *     (genuinely exchange-worthy on both sides).
    */
  private[graft] def deltaAntiState(delta: DataFrame, stateKeys: DataFrame,
                                    cols: Seq[String]): DataFrame = {
    val bcastBytes = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    val stateSmall = bcastBytes > 0 &&
      stateKeys.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(bcastBytes)
    if (stateSmall) delta.join(stateKeys, cols, "left_anti")
    else {
      val (pinned, pinnedRows) = materializeCounted(delta)
      if (pinnedRows <= DeltaBroadcastRows) {
        val hits = stateKeys.join(
          broadcast(pinned.select(cols.map(col): _*).distinct()), cols, "left_semi")
        pinned.join(broadcast(hits), cols, "left_anti")
      } else pinned.join(stateKeys, cols, "left_anti")
    }
  }

  /** Band-bucket rows (doc_id, band, bucket) from a signature frame —
    * shared by the inline LSH front half and the persisted-state paths.
    */
  private def bandBuckets(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { band =>
      concat_ws(",", (0 until rowsPerBand).map(p =>
        col(s"sig_${band * rowsPerBand + p}").cast("string")): _*)
    }
    sigs.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
  }

  /** Incremental near-dup detection of a NEW batch against persisted
    * signature state (plus itself): candidates come from the bucket
    * equi-join of the new batch's bands against history ∪ new — so
    * old×old pairs (already adjudicated in previous runs) are never
    * re-emitted and history is touched only through its signature
    * rows (numHashes longs per doc; band buckets derive from them in
    * one narrow map) — and verification is the estimator form
    * ([[minhashLshEstimated]]), reading historical SIGNATURES, not
    * text. Appends the new batch's state to `path`, so tomorrow's
    * run sees today's docs as history — the daily-ingest loop.
    * Output: (doc_a, doc_b, est_jaccard) ordered, ≥1 endpoint new.
    */
  def incrementalMinhashEstimated(newDocs: DataFrame, n: Int, numHashes: Int,
                                  bands: Int, minJ: Double, path: String): DataFrame =
    incrementalMinhashEstimatedUnordered(newDocs, n, numHashes, bands, minJ, path)
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[incrementalMinhashEstimated]] WITHOUT the final global sort —
    * for sinks (the micro-batched turn writes each batch's pairs to
    * parquet, where row order is dead weight): the range sort costs a
    * sampling job + an exchange PER MICRO-BATCH, the loop queries'
    * dominant cost class. The ordered form stays the public contract
    * (catalog/oracle comparisons are row-order sensitive).
    */
  private[graft] def incrementalMinhashEstimatedUnordered(
      newDocs: DataFrame, n: Int, numHashes: Int,
      bands: Int, minJ: Double, path: String): DataFrame = {
    val spark = newDocs.sparkSession
    val (_, rawNewSigs, _) = minhashCandidates(newDocs, n, numHashes, bands)
    // one materialization: the new batch's shingle+signature plan
    // feeds the buckets derivation, the state appends below, AND the
    // returned result — without this it would re-shingle the batch
    // three times, in the operator whose point is never re-shingling.
    // DELTA-BROADCAST gate (VERDICT r17 item 3 + the at-scale plan):
    // every state-vs-delta join below has the bounded DAILY DELTA as
    // its small side. Left to the planner, the delta's checkpointed
    // stats are opaque, so both sides shuffle — per micro-batch that
    // is ~4 extra AQE stage-jobs (the loop queries' dominant cost),
    // and at 100 TB it re-exchanges the whole signature STATE every
    // turn. When the delta is provably small, broadcast it: the state
    // table is then never shuffled — history flows map-side through
    // every join. Oversized deltas (backfills) keep the shuffle plan.
    // The pin and the gate's count are ONE fused action (the count
    // materializes the lazy checkpoint), not a checkpoint job plus a
    // count execution — per micro-batch turn that is one fewer driver
    // action wave.
    val (newSigs, deltaRows) = materializeCounted(rawNewSigs)
    val bcastDelta = deltaRows <= DeltaBroadcastRows
    def deltaSide(df: DataFrame): DataFrame =
      if (bcastDelta) broadcast(df) else df
    // the band-bucket frame carries bands× as many rows as the
    // signature frame, so ITS broadcast is gated on the bucket-row
    // count — an explicit hint bypasses the planner's size check, and
    // gating buckets on doc rows alone would broadcast bands× the
    // documented worst case under a wide banding config (ADVICE r18)
    val bcastBuckets = deltaRows * bands <= DeltaBroadcastRows
    def bucketSide(df: DataFrame): DataFrame =
      if (bcastBuckets) broadcast(df) else df
    val newBuckets = bandBuckets(newSigs, numHashes, bands)
    // history buckets are derived from the one state table (see
    // persistMinhashSignatures: no second table to tear on append),
    // through the merge-on-read view so tombstoned rows never mint
    // candidates ([[loadSignatures]]). History EXCLUDES the batch's
    // own keys: on a first run that exclusion matches nothing, and on
    // a DUPLICATE run (an orchestrator retry re-delivering a batch the
    // first attempt already ingested — the reference's double-append
    // flaw, spotify_dag.py retries) it keeps each doc single-rowed, so
    // the emitted pairs are IDENTICAL to the first run's.
    val state = loadSignatures(spark, path)
    val histSigs = state.join(deltaSide(newSigs.select(col("doc_id"))),
      Seq("doc_id"), "left_anti")
    val allBuckets = bandBuckets(histSigs, numHashes, bands).unionByName(newBuckets)
    val allSigs = histSigs.unionByName(newSigs)
    val cand = allBuckets.as("x").join(bucketSide(newBuckets).as("y"), Seq("band", "bucket"))
      .filter(col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    val agree = (0 until numHashes).map(i =>
      when(col(s"a.sig_$i") === col(s"b.sig_$i"), 1).otherwise(0))
      .reduce(_ + _)
    val result = cand
      .join(allSigs.as("a"), col("doc_a") === col("a.doc_id"))
      .join(allSigs.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (agree.cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJ)
    // ingest: today's batch becomes tomorrow's history — ONE append to
    // the single state table, so there is no window in which a doc is
    // half-ingested. The append is CONTENT-FILTERED against the rows
    // state already holds for the batch's keys, making a duplicate run
    // a state no-op (its signatures are deterministic re-derivations of
    // the same text, so the except cancels them) while a genuine
    // re-ingest under a recycled key still lands its new rows. Note the
    // returned frame reads the pre-append file listing
    // (InMemoryFileIndex snapshots at read time), so consuming `result`
    // after this append still sees history ∪ new exactly once.
    // A provably-empty batch (the stream drain's embedding turns pass
    // a statically-empty doc side) appends zero rows either way — skip
    // the empty-file write and its job wave, the same guard as the
    // DSIR/IVF/PQ appends.
    if (!staticallyEmpty(newSigs))
      StateTable(spark, path).append(StateTable.Sigs, newSigs.except(
        state.join(deltaSide(newSigs.select(col("doc_id"))), Seq("doc_id"), "left_semi")))
    result
  }

  /** Merge-on-read view of the signature state
    * ([[graft.sources.StateTable.live]]). EVERY state reader goes
    * through this, so a tombstoned row is invisible the moment its
    * tombstone lands — no rewrite on the read path, ever.
    *
    * Tombstones match on the FULL row (doc_id + every signature
    * column), not the key: a changed doc's re-signed CURRENT row
    * differs from its tombstoned old row and survives the anti-join,
    * so deletion and re-ingest never race. Signatures are
    * deterministic functions of text, so content-addressing is exact.
    */
  def loadSignatures(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    StateTable(spark, path).live(StateTable.Sigs)

  /** O(|edits|) stale-key healing for the signature state — the
    * merge-on-read alternative to [[compactSignatures]]' rewrite, for
    * the cadence problem the compaction probe measures: a full
    * rewrite is corpus-linear (0.64–0.84× of a re-sign at the ×100
    * staging), so paying it EVERY daily turn nearly doubles loop
    * cost. Tombstoning instead appends the superseded rows'
    * content-addressed copies to the root's tombstones and the changed
    * docs' re-signed current rows to the state — both |edits|-sized
    * appends — and [[loadSignatures]] serves the healed view
    * immediately. [[compactSignatures]] remains the periodic
    * maintenance that folds tombstones away (and clears them); until
    * then reads carry one |tombstones|-row anti-join.
    *
    *  - `currentChanged`: CHANGED docs with their CURRENT text (the
    *    daily loop's `newDocs ⋉ changed-keys`); their old state rows
    *    are tombstoned and their fresh signatures appended.
    *  - `removedKeys`: REMOVED doc ids; old rows tombstoned, nothing
    *    re-enters.
    *  - A "changed" doc whose shingle set (hence signature) is
    *    unchanged is a NO-OP on both sides (the two `except`s cancel)
    *    — without this, the content-addressed tombstone would also
    *    swallow the identical re-appended row.
    *
    * Write order is tombstone-then-append: a crash in between leaves
    * the doc temporarily absent from the view (never duplicated, and
    * never a half-signed orphan), and a RETRY self-heals — the old
    * rows are already gone, so the retry's tombstone side is empty
    * and the append side re-lands the fresh rows.
    */
  def tombstoneSignatures(currentChanged: DataFrame, n: Int, numHashes: Int,
                          bands: Int, path: String,
                          removedKeys: DataFrame): Unit = {
    val spark = currentChanged.sparkSession
    val staleKeys = currentChanged.select(col("doc_id"))
      .unionByName(removedKeys.select(col("doc_id"))).distinct()
    // |edits|-sized key set; past broadcastable state the probe side
    // pins+broadcasts so the semi scans the state map-side instead of
    // exchanging it (the edit frames are checkpoint-derived — opaque
    // to the planner's broadcast rule)
    val state = loadSignatures(spark, path)
    val oldRows = materialize(state
      .join(deltaProbeSide(staleKeys, state), Seq("doc_id"), "left_semi")
      .distinct())
    val (_, rawFresh, _) = minhashCandidates(currentChanged, n, numHashes, bands)
    val fresh = materialize(rawFresh)
    val st = StateTable(spark, path)
    st.appendTombstones(oldRows.except(fresh))
    st.append(StateTable.Sigs, fresh.except(oldRows))
  }

  /** [[compactSignatures]] gated on the cadence rule
    * ([[graft.sources.StateTable.due]]), so a scheduler can call this
    * after every healed turn and pay the rewrite only when it buys
    * something. Returns whether the compaction ran.
    */
  def compactSignaturesIfNeeded(currentDocs: DataFrame, n: Int, numHashes: Int,
                                bands: Int, path: String, staleKeys: DataFrame,
                                maxTombstoneFrac: Double = 0.1): Boolean = {
    val due = StateTable(currentDocs.sparkSession, path).due(StateTable.Sigs, maxTombstoneFrac)
    if (due) compactSignatures(currentDocs, n, numHashes, bands, path, staleKeys)
    due
  }

  /** Stale-key compaction for the persisted signature state — the
    * maintenance half that [[incrementalMinhashEstimated]]'s
    * append-only contract defers (Pipelines.dailyIncremental returns
    * CHANGED and REMOVED keys as a worklist instead of auto-appending,
    * because a torn half-append must never orphan a doc). Rewrites
    * the signature table so that afterwards the state equals a fresh
    * [[persistMinhashSignatures]] full build over `currentDocs`
    * (StateCompactionSpec proves set equality; the q156 catalog query
    * pins it against the DuckDB oracle):
    *
    *  - rows whose doc_id is absent from `currentDocs` are dropped —
    *    REMOVED docs, detected from the corpus keys themselves, so a
    *    worklist omission can never leave a ghost signature;
    *  - rows named in `staleKeys` are dropped and recomputed from the
    *    current text — CHANGED docs, the one class the state alone
    *    cannot detect (the whole point of signature state is never
    *    re-reading history's text); the caller owns this worklist,
    *    which is exactly `doc_changes.filter(status = 'changed')`
    *    from the daily loop's snapshot diff;
    *  - current docs missing from state entirely (a lost append) are
    *    recomputed too — compaction self-heals;
    *  - exact duplicate rows from a re-delivered identical batch
    *    collapse (`distinct` — surviving rows are signature-identical
    *    by determinism once stale rows are gone).
    *
    * Commits a new generation through [[graft.sources.StateTable.commit]]
    * (whose protocol keeps the live table readable through the rewrite
    * that reads it, and converges after a crash at any step); the
    * tombstones it folded are spent with the old generation.
    *
    * Scale shape: one pass over the state (numHashes longs per doc,
    * never text), key-only semi/anti joins against the corpus, and a
    * shingle pass over ONLY the recomputed docs. Run at the cadence
    * edits accumulate; a grow-only corpus never needs it.
    */
  def compactSignatures(currentDocs: DataFrame, n: Int, numHashes: Int,
                        bands: Int, path: String, staleKeys: DataFrame): Unit = {
    val spark = currentDocs.sparkSession
    val state = loadSignatures(spark, path)
    val keep = state
      .join(currentDocs.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .join(staleKeys.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .distinct()
    val needFresh = currentDocs
      .join(keep.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val (_, freshSigs, _) = minhashCandidates(needFresh, n, numHashes, bands)
    StateTable(spark, path).commit(StateTable.Sigs) { p =>
      keep.unionByName(freshSigs).write.parquet(p(StateTable.Sigs))
    }
  }

  /** [[minhashLsh]] with ESTIMATOR verification — the measured 100 TB
    * knob for the verification stage. Exact verification joins every
    * candidate pair back to its shingle rows: pairs × shared-shingles
    * intermediate rows (~2B at the 100× probe — the superlinear wall
    * SCALING.md's round-8 section measures). Signature-agreement
    * verification (matching minhash components / numHashes, the
    * unbiased MinHash Jaccard estimator whose error [[minhashEstimateAccuracy]]
    * measures per-candidate, q94) replaces that with two equi-joins
    * against the numHashes-column signature frame and a codegen'd
    * sum-of-whens per pair — per-pair cost O(numHashes), NO shingle
    * explode, so verification stays linear in candidate count all the
    * way up. The trade is the estimator's variance (±1/numHashes
    * resolution) around the threshold; exact verification remains the
    * default at moderate scale.
    * Output: (doc_a, doc_b, est_jaccard) ordered.
    */
  def minhashLshEstimated(docs: DataFrame, n: Int, numHashes: Int,
                          bands: Int, minJ: Double): DataFrame = {
    val (_, sigs, cand) = minhashCandidates(docs, n, numHashes, bands)
    val agree = (0 until numHashes).map(i =>
      when(col(s"a.sig_$i") === col(s"b.sig_$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sigs.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sigs.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (agree.cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJ)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** MinHash estimate-accuracy harness: for every LSH candidate pair,
    * the signature-agreement Jaccard estimate (matching components /
    * numHashes — the unbiased MinHash estimator) next to the exact
    * shingle-set Jaccard, with the absolute error. The measured
    * contract for [[minhashLsh]], parallel to the ANN recall rows
    * (q87/q91/q92): before the estimator replaces exact verification
    * at scale, this row says how far off it runs on real candidates.
    *
    * Scale shape: signatures come from the same single groupBy as
    * [[minhashLsh]]; the agreement count is a numHashes-column compare
    * after two equi-joins on doc id (codegen'd sum of whens, no
    * explode); exact Jaccard is computed for candidates only. All
    * ratios are small-int divisions — exact and engine-portable.
    * Output: (doc_a, doc_b, est_jaccard, jaccard, abs_err) ordered.
    */
  def minhashEstimateAccuracy(docs: DataFrame, n: Int, numHashes: Int,
                              bands: Int, minJ: Double): DataFrame = {
    // the shared front half — the accuracy harness MUST measure the
    // exact candidate generation the operators use, so it calls it
    // rather than re-rolling it (a fix to banding applied to one copy
    // would silently desynchronize the harness from its subject)
    val (sh, sigs, cand) = minhashCandidates(docs, n, numHashes, bands)

    val sa = sigs.toDF(sigs.columns.toIndexedSeq.map(c => if (c == "doc_id") "doc_a" else s"a_$c"): _*)
    val sb = sigs.toDF(sigs.columns.toIndexedSeq.map(c => if (c == "doc_id") "doc_b" else s"b_$c"): _*)
    val agree = (0 until numHashes).map(i =>
      when(col(s"a_sig_$i") === col(s"b_sig_$i"), 1L).otherwise(0L)).reduce(_ + _)
    val est = cand.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (agree.cast("double") / numHashes).as("est_jaccard"))

    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.as("ia"), col("doc_a") === col("ia.doc_id"))
      .join(sh.as("ib"), col("doc_b") === col("ib.doc_id") && col("ia.shingle") === col("ib.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    withJaccard(inter, cnt)
      .filter(col("jaccard") >= minJ)
      .join(est, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"), col("jaccard"),
        abs(col("est_jaccard") - col("jaccard")).as("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 32-bit SimHash signature per doc + Hamming-close pairs.
    * Output: (doc_a, doc_b, sim_a, sim_b, hamming) ordered.
    *
    * Pairing is banded, not all-pairs: the signature is split into
    * `maxHamming + 1` chunks; by pigeonhole, any pair within the
    * Hamming budget leaves at least one chunk untouched, so an
    * equi-join on (chunk_idx, chunk_value) generates a candidate set
    * that provably contains every qualifying pair (lossless — exact
    * verification then drops false candidates). This turns the O(n²)
    * cross join into a shuffle-partitioned equi-join, the same recipe
    * that keeps the operator feasible at 100 TB.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    // a negative budget would silently return zero pairs (posexplode
    // of an empty array) — reject it loudly
    require(maxHamming >= 0, s"maxHamming must be >= 0 (got $maxHamming)")
    val sigs = simhash(docs) // (doc_id, simhash)
    // budget >= 32 admits EVERY pair of 32-bit signatures, so banding
    // cannot prune (a qualifying pair may differ in all chunks): the
    // candidate set is DELIBERATELY the all-pairs join via one
    // constant chunk — the permissive-budget degenerate form, O(n²)
    // by definition of what was asked. Below 32, parts = maxHamming+1
    // chunks of >= 1 bit each (parts <= 32) give the pigeonhole
    // guarantee: a pair within budget agrees on at least one chunk.
    val chunkArr =
      if (maxHamming >= 32) Seq(expr("CAST(0 AS BIGINT)"))
      else {
        val parts = maxHamming + 1
        // chunk p covers bit range [p*32/parts, (p+1)*32/parts)
        val bounds = (0 to parts).map(p => p * 32 / parts)
        (0 until parts).map { p =>
          val lo = bounds(p); val width = bounds(p + 1) - lo
          expr(s"shiftright(simhash, $lo) & ${(1L << width) - 1}")
        }
      }
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array(chunkArr: _*)).as(Seq("chunk_idx", "chunk_val")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      .distinct()
    cand
      .withColumn("hamming", expr("CAST(bit_count(sim_a ^ sim_b) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Incremental exact dedup: rows of `batch` whose content does not
    * already appear in `corpus` — the shape every periodic ingestion
    * run needs (dedupe today's crawl against the historical corpus).
    * Pure anti-join on the content fingerprint: the corpus side is
    * pruned to the one fingerprint column at the scan (column pruning
    * reaches parquet), and the join shuffles fingerprints, never text.
    * Output: (doc_id, fp) ordered by doc_id.
    */
  def incrementalExact(batch: DataFrame, corpus: DataFrame): DataFrame =
    batch.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(corpus.select(md5(col("text")).as("fp")), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))

  /** 100 TB form of [[incrementalExact]]: a Bloom filter over the
    * corpus' content keys (built once — distributed partials OR-merged
    * on the driver, the standard mergeable-sketch shape) prefilters
    * the batch BEFORE any shuffle. Rows the filter rejects are
    * definitely new and bypass the anti-join; only the might-contain
    * set (true dups + fpp false positives) shuffles against the
    * corpus for exact verification, so results are bit-identical to
    * [[incrementalExact]] while the dedup shuffle shrinks from
    * |batch| to |dups| + fpp·|batch|. At a 1 % fpp the filter costs
    * ~1.2 GB per 10^9 corpus docs — broadcast-viable, and shardable
    * by corpus partition when it isn't.
    * Output: (doc_id, fp) ordered by doc_id.
    */
  def incrementalExactBloom(
      batch: DataFrame, corpus: DataFrame,
      expectedItems: Long, fpp: Double): DataFrame = {
    import graft.functions.BloomExprs
    val spark = batch.sparkSession
    val bloom = corpus.select(xxhash64(col("text")).as("k"))
      .stat.bloomFilter("k", expectedItems, fpp)
    val probe = BloomExprs.mightContain(spark, "xxhash64(text)", bloom)
    val keyed = batch.select(
      col("doc_id"), md5(col("text")).as("fp"), probe.as("hit"))
    val definitelyNew = keyed.filter(!col("hit")).select(col("doc_id"), col("fp"))
    val suspects = keyed.filter(col("hit"))
      .join(corpus.select(md5(col("text")).as("fp")), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
    definitelyNew.union(suspects).orderBy(col("doc_id"))
  }

  /** Connected components over a duplicate-pair edge list: every doc
    * that appears in `pairs` is labeled with the smallest doc_id
    * reachable through any chain of pairs — the cluster
    * representative. This is the step that turns pairwise near-dup
    * output (jaccard / minhash / simhash / embedding tiers) into
    * keep-one-per-cluster decisions; without it, A~B and B~C keeps
    * both A and C.
    *
    * Two interchangeable distributed implementations (results
    * identical, asserted in DedupSpec):
    *
    *  - large-star/small-star POINTER JUMPING (DEFAULT): the Kiveris
    *    et al. "Connected Components in MapReduce and Beyond"
    *    alternation, which re-points whole neighborhoods at their
    *    minimum each round and converges in O(log d) rounds — the
    *    100 TB answer for adversarial chain-shaped dup families
    *    (boilerplate that drifts a little per mirror). Measured in
    *    ScaleProbe: a 4096-node chain converges to one component in
    *    13 star rounds ≈ log₂ 4096, where propagation at its 25-round
    *    cap still has 4071 of the 4096 labels unconverged.
    *  - min-label PROPAGATION (`-Dgraft.cc=propagate`, or call the
    *    variant directly): each round is one equi-join (edge.dst →
    *    current label) plus one map-side-combinable min-groupBy.
    *    Rounds needed = cluster DIAMETER — competitive only when
    *    clusters are near-cliques (every member shares most shingles
    *    with every other, so most pairs are direct edges) and the
    *    diameter is known-small; on an unknown 100 TB near-dup graph
    *    the diameter bound is exactly the risk, which is why star is
    *    the shipped default.
    *
    * Both loops stop as soon as a round changes nothing (a limit-1
    * anti-join probe per round — a cheap scalar action on
    * checkpointed blocks), and `localCheckpoint` truncates lineage so
    * plan size stays constant across rounds instead of growing
    * geometrically. maxIter bounds the work; propagation labels are
    * still a valid (if unconverged) refinement when capped.
    * Output: (doc_id, cluster_id) ordered by doc_id.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    if (sys.props.get("graft.cc").contains("propagate")) duplicateClustersPropagate(pairs, maxIter)
    else duplicateClustersStar(pairs, maxIter)

  /** Min-label propagation variant of [[duplicateClusters]]. */
  def duplicateClustersPropagate(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    propagateWithRounds(pairs, maxIter)._1.orderBy(col("doc_id"))

  /** Large-star/small-star pointer-jumping variant of
    * [[duplicateClusters]] (Kiveris et al., SOCC'14 — public
    * algorithm, re-expressed as DataFrame joins/groupBys).
    */
  def duplicateClustersStar(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    starWithRounds(pairs, maxIter)._1.orderBy(col("doc_id"))

  /** (labels, rounds-executed) — rounds exposed for ScaleProbe's
    * convergence measurements.
    */
  private[graft] def propagateWithRounds(pairs: DataFrame, maxIter: Int): (DataFrame, Int) = {
    val edges = trackCheckpoint(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .localCheckpoint())
    var labels = trackCheckpoint(edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .localCheckpoint())
    var changed = true
    var i = 0
    while (changed && i < maxIter) {
      val next = trackCheckpoint(edges
        .join(labels.select(col("doc_id").as("dst"), col("cluster_id").as("nbr")), Seq("dst"))
        .groupBy(col("src").as("doc_id")).agg(min(col("nbr")).as("nbr_min"))
        .join(labels, Seq("doc_id"))
        .select(col("doc_id"), least(col("cluster_id"), col("nbr_min")).as("cluster_id"))
        .localCheckpoint())
      changed = next.join(labels.withColumnRenamed("cluster_id", "old"), Seq("doc_id"))
        .filter(col("cluster_id") =!= col("old")).limit(1).count() > 0
      // the change probe above was the last consumer of the old round's
      // blocks — drop them before the next round checkpoints more
      releaseCheckpoint(labels)
      labels = next
      i += 1
    }
    (labels, i)
  }

  /** (labels, rounds-executed) for the star alternation.
    *
    * Each round: LARGE-STAR — over the symmetric neighbor list, every
    * node re-points its strictly-LARGER neighbors at the neighborhood
    * minimum (connectivity-preserving, proven in the paper); then
    * SMALL-STAR — over the larger→smaller directed form, every node
    * re-points its smaller neighbors AND itself at their minimum. Both
    * halves are one groupBy-min + one equi-join each, edge-list-sized
    * shuffles, no driver-side graph; the edge list only shrinks toward
    * the star form (every node directly attached to its component
    * minimum), so per-round cost falls as it converges. Convergence =
    * the round leaves the edge set unchanged (count + limit-1
    * anti-join probe on checkpointed blocks).
    */
  private[graft] def starWithRounds(pairs: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // ONE materialization of the (expensive) pair-generation subtree:
    // nodes and edges both derive from this narrow two-long frame —
    // checkpointing each from `pairs` directly would run the whole
    // shingle/cap/bucket-join pipeline twice (measured ~2x the round-11
    // pair-gen share of q124)
    val canon = trackCheckpoint(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("src"),
        least(col("doc_a"), col("doc_b")).as("dst"))
      .localCheckpoint())
    val nodes = trackCheckpoint(canon.select(col("src").as("doc_id"))
      .union(canon.select(col("dst").as("doc_id")))
      .distinct()
      .localCheckpoint())
    // canonical larger→smaller edges; the invariant src > dst holds
    // for every edge both halves emit, so no re-canonicalization per round
    // pin + count fused (one action): the count is the convergence
    // probe's baseline and the materializer in one
    var (edges, edgeCount) = materializeCounted(canon
      .filter(col("src") =!= col("dst"))
      .distinct())
    releaseCheckpoint(canon) // nodes+edges were its only consumers
    var changed = true
    var i = 0
    while (changed && i < maxIter) {
      // large-star on the symmetric view: u's min m(u) = least(u, min nbr);
      // emit (v, m(u)) for every neighbor v > u
      val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val largeMin = sym.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      // checkpointed mid-round deliberately: afterLarge feeds BOTH the
      // small-star min groupBy and the re-point join below — without
      // materialization the two consumers recompute it (measured ~14%
      // slower without this checkpoint)
      val afterLarge = trackCheckpoint(sym.join(largeMin, Seq("src"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint())
      // small-star on the directed form: all of u's neighbors are < u,
      // so m(u) = min nbr; emit (u, m(u)) and (v, m(u)) for v ≠ m(u)
      val smallMin = afterLarge.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val withM = afterLarge.join(smallMin, Seq("src"))
      val (next, nextCount) = materializeCounted(
        withM.filter(col("dst") =!= col("m"))
          .select(col("dst").as("src"), col("m").as("dst"))
          .union(withM.select(col("src"), col("m").as("dst")))
          .distinct())
      changed = nextCount != edgeCount ||
        next.join(edges, Seq("src", "dst"), "left_anti").limit(1).count() > 0
      // the change probe was the last consumer of this round's
      // intermediate and of the previous edge frame — drop their
      // blocks before the next round checkpoints more (the FINAL
      // edges frame is kept: the label readout below consumes it)
      releaseCheckpoint(afterLarge)
      releaseCheckpoint(edges)
      edges = next
      edgeCount = nextCount
      i += 1
    }
    // min per doc, not a bare join: at convergence each src has exactly
    // one dst (its component min), but a maxIter-capped exit can leave
    // several dsts per src — the output contract is ONE row per doc_id
    // regardless (labels then a valid, if unconverged, refinement —
    // same degradation contract as the propagation variant)
    val labels = nodes
      .join(edges.select(col("src").as("doc_id"), col("dst").as("lbl")),
        Seq("doc_id"), "left")
      .groupBy(col("doc_id")).agg(min(col("lbl")).as("ml"))
      .select(col("doc_id"), coalesce(col("ml"), col("doc_id")).as("cluster_id"))
    (labels, i)
  }

  /** Dedup with representative selection: collapse each near-dup
    * cluster (from [[duplicateClusters]] over a pair frame) to its
    * best member — here "best" = longest text (`scoreCol` desc),
    * tie-broken to the lowest doc_id. Docs in no pair are their own
    * singleton cluster, so the output is exactly the deduplicated
    * corpus: one surviving doc per cluster, plus the cluster size.
    *
    * Scale shape: the label join is a plain equi-join with NO forced
    * broadcast — on a dup-heavy crawl (30-50% dup rate is normal at
    * 100 TB) the label frame is billions of rows and an unconditional
    * `broadcast()` would OOM the driver. When the label side IS small,
    * AQE's runtime size check converts the join to a broadcast for
    * free; when it isn't, it stays a shuffle join and survives. The
    * argmax is ONE map-side-combinable groupBy via a struct-max
    * (score, -doc_id) — no window, no second pass for the member
    * count.
    * Output: (cluster_id, rep_doc_id, best_score, n_members)
    * ordered by cluster_id.
    */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame, scoreCol: String): DataFrame =
    docs.join(duplicateClusters(pairs), Seq("doc_id"), "left")
      .select(coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("doc_id"), col(scoreCol).cast("long").as("score"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("score"), (-col("doc_id")).as("negid"))).as("best"))
      .select(col("cluster_id"), (-col("best.negid")).as("rep_doc_id"),
        col("best.score").as("best_score"), col("n_members"))
      .orderBy(col("cluster_id"))

  /** Benchmark-contamination scan: for every corpus document, how many
    * distinct word n-grams it shares with ANY document of `benchmark`
    * (the held-out eval set), plus a contaminated flag. The industry-
    * standard pretraining hygiene check (n-gram overlap
    * decontamination).
    *
    * Scale shape: both sides reduce to distinct (doc, gram) /(gram)
    * sets; the join is a plain equi-join on the gram — the benchmark
    * side is tiny by construction (eval sets are
    * thousands of docs, the corpus is billions), so AQE broadcasts it
    * and the corpus side never shuffles. Short docs (< n tokens)
    * surface with n_shared = 0 via the final left join against the
    * corpus keys.
    * Output: (doc_id, n_shared, contaminated) ordered by doc_id.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    n: Int, minShared: Int): DataFrame = {
    val hits = shingles(corpus, n)
      .join(shingles(benchmark, n).select(col("shingle")).distinct(), Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") >= minShared)
      .orderBy(col("doc_id"))
  }

  /** (doc_id, simhash) — 32-bit SimHash over term frequencies.
    * All 32 per-bit weighted sums are columns of ONE map-side-
    * combinable groupBy (no bit-index crossJoin blowup, one shuffle
    * keyed on doc_id), then the signature assembles as a single
    * column expression.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val terms = docs
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), PortableHash.hash32(col("word")).as("h"), col("cnt"))
    val bitCols = (0 until 32).map { j =>
      sum(when(expr(s"shiftright(h, $j) % 2") === 1, col("cnt")).otherwise(-col("cnt"))).as(s"s_$j")
    }
    val assemble = (0 until 32)
      .map(j => s"CASE WHEN s_$j > 0 THEN shiftleft(CAST(1 AS BIGINT), $j) ELSE CAST(0 AS BIGINT) END")
      .mkString("(", " + ", ")")
    terms.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"), expr(assemble).as("simhash"))
  }

  private def withJaccard(inter: DataFrame, cnt: DataFrame): DataFrame =
    inter
      .join(cnt.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("ca.n") + col("cb.n") - col("inter"))).as("jaccard"))
}
