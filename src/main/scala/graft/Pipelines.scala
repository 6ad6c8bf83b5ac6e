package graft

import graft.operators.{RunSummaries, SpotifyFlatten, Validation}
import graft.sources.{Sinks, SpotifySchemas, StateTable}
import org.apache.spark.sql.{Dataset, SparkSession}

/** The reference's three pipeline entry points (SURVEY.md §3), composed
  * from the operator modules. Each takes already-fetched payload JSON
  * (the HTTP fetch is a driver-side connector concern, SURVEY.md S1)
  * and returns the run-summary JSON the orchestrator captures —
  * the XCom analog.
  */
object Pipelines {

  /** EP1 — artist top-tracks: flatten → CSV sink → summary
    * (spotify_etl.py:197-291). Raises if no valid track rows, like the
    * reference ("No valid track data processed").
    */
  def topTracksEtl(spark: SparkSession, payloads: Dataset[String], csvPath: String): String = {
    val flat = SpotifyFlatten.topTracks(
      SpotifySchemas.parse(payloads, SpotifySchemas.topTracksPayload))
    flat.cache()
    try {
      if (flat.isEmpty) throw new RuntimeException("No valid track data processed")
      Sinks.csv(flat, csvPath)
      Sinks.xcomJson(RunSummaries.topTracksSummary(flat))
    } finally flat.unpersist()
  }

  /** EP2 — recently-played ingest: flatten → validate → partitioned
    * append → summary (spotify_etl2.py:231-288). Validation order
    * preserved: failures fire BEFORE the sink. Empty input
    * short-circuits with a no-op summary, as the reference does.
    *
    * Exactly-once under retry, unlike the reference's unguarded append
    * (SURVEY.md §2.10): only plays whose `played_at` the sink does not
    * hold yet are appended, so a re-run of the same feed appends
    * nothing, and a re-run after a crash inside Spark's non-atomic job
    * commit lands exactly the missing rows. No high-water mark: a late
    * page whose plays predate the newest stored play still lands.
    * `tracks_processed` counts the feed's rows, `rows_appended` the
    * rows this run wrote. The summary is aggregated in the validation
    * job and rendered there by Spark's JSON writer, so the XCom line
    * costs no job of its own.
    */
  def recentlyPlayedEtl(
      spark: SparkSession,
      payloads: Dataset[String],
      tablePath: String,
      asOf: java.sql.Date): String = {
    import org.apache.spark.sql.functions.{count, lit, struct, to_json}
    val flat = SpotifyFlatten.recentlyPlayed(
      SpotifySchemas.parse(payloads, SpotifySchemas.recentlyPlayedPayload))
    flat.cache()
    try {
      // raises on duplicate PK
      val report = Validation.check(flat, asOf,
        Seq(to_json(struct(RunSummaries.recentlyPlayedSummaryCols: _*)), count(lit(1))))
      if (!report.valid) return """{"tracks_processed":0,"status":"no_data"}"""
      val unseen = storedPlays(spark, flat, tablePath)
        .map(seen => flat.join(seen, Seq("played_at"), "left_anti").cache())
      try {
        val appended = unseen.map(_.count())
        if (appended.forall(_ > 0)) Sinks.appendPartitioned(unseen.getOrElse(flat), tablePath)
        val rowsAppended = appended.getOrElse(report.extra.getLong(1))
        report.extra.getString(0).stripSuffix("}") + s""","rows_appended":$rowsAppended}"""
      } finally unseen.foreach(_.unpersist())
    } finally flat.unpersist()
  }

  /** The `played_at` keys `tablePath` already holds in the `timestamp`
    * partitions `flat` touches, read from those partition dirs alone;
    * None when it holds none of them. A fresh sink is answered on the
    * driver, with no Spark job. */
  private def storedPlays(spark: SparkSession, flat: org.apache.spark.sql.DataFrame,
                          tablePath: String): Option[org.apache.spark.sql.DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    val dirs = flat.select("timestamp").distinct().collect().map { r =>
      // the sink's own '' -> "unknown" sentinel and partition-path escaping
      val day = if (r.getString(0).isEmpty) "unknown" else r.getString(0)
      new org.apache.hadoop.fs.Path(root,
        "timestamp=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(day))
    }.filter(fs.exists).map(_.toString)
    if (dirs.isEmpty) None
    else Some(spark.read.option("basePath", tablePath).parquet(dirs.toSeq: _*)
      .select("played_at"))
  }

  /** EP3 — recently-played analysis: ranked flatten → display + CSV +
    * summary, one pinned frame feeding all three consumers
    * (new.py:211-267; the pin mirrors the single pandas frame). The pin
    * is a checkpoint, not a cache: AQE does not coalesce a cached
    * plan's final shuffle, so a cached rank would keep every shuffle
    * partition, where a small feed pinned this way ranks and lands in
    * one.
    */
  def recentlyPlayedAnalysis(spark: SparkSession, payloads: Dataset[String], csvPath: String): String = {
    val ranked = graft.operators.Dedup.materialize(SpotifyFlatten.rankedRecentlyPlayed(
      SpotifySchemas.parse(payloads, SpotifySchemas.recentlyPlayedPayload)))
    try {
      Sinks.display(ranked)
      Sinks.csv(ranked, csvPath)
      Sinks.xcomJson(RunSummaries.analysisSummary(ranked))
    } finally graft.operators.Dedup.releaseCheckpoint(ranked)
  }

  /** EP4 (extension) — the near-dup pair table as a SHARED lake
    * artifact. The q64/q74/q124/q127 catalog queries each re-derive
    * the same df-capped Jaccard pairs because catalog queries are
    * deliberately self-contained; a real pipeline computes the pair
    * table ONCE (the expensive half: shingle, cap, bucket-join,
    * verify), persists it, and fans the cheap consumers out from the
    * parquet artifact — clustering (both CC variants), representative
    * selection, and the leakage-free split. At 100 TB the pair table
    * is also the INCREMENTAL unit: a new ingest batch appends its
    * pairs (see Dedup.incrementalMinhashEstimated) instead of
    * re-pairing the corpus. Amortization is measured in ScaleProbe's
    * `neardup_family` probe (shared vs 4x standalone).
    *
    * Parameters mirror the catalog defaults (n=3 shingles, J>=0.5,
    * df cap 20). Returns the four consumers keyed by name as THUNKS:
    * the connected-components consumers run their iterative rounds
    * EAGERLY at DataFrame construction (localCheckpoint per round), so
    * a caller wanting only one consumer must not pay for the others —
    * force exactly the ones you consume.
    */
  def nearDupFamily(spark: SparkSession,
                    docs: org.apache.spark.sql.DataFrame, pairsPath: String,
                    n: Int = 3, minJ: Double = 0.5, maxDf: Int = 20,
                    trainPct: Int = 80): Map[String, () => org.apache.spark.sql.DataFrame] = {
    graft.operators.Dedup.jaccardPairsCapped(docs, n, minJ, maxDf)
      .write.mode("overwrite").parquet(pairsPath)
    nearDupFamilyFromPairs(spark, docs, pairsPath, trainPct)
  }

  /** The consumer half of [[nearDupFamily]]: the family views over an
    * ALREADY-persisted pair table — the lake deployment shape (build
    * once, on a schedule or via [[nearDupFamily]]; consume many). */
  def nearDupFamilyFromPairs(spark: SparkSession,
                             docs: org.apache.spark.sql.DataFrame, pairsPath: String,
                             trainPct: Int = 80): Map[String, () => org.apache.spark.sql.DataFrame] = {
    val pairs = spark.read.parquet(pairsPath)
    Map(
      "clusters" -> (() => graft.operators.Dedup.duplicateClusters(pairs)),
      "clusters_star" -> (() => graft.operators.Dedup.duplicateClustersStar(pairs)),
      "keep_best" -> (() => graft.operators.Dedup.keepBestPerCluster(docs, pairs, "n_chars")),
      "leakfree_split" -> (() => graft.operators.Sampling.leakFreeSplit(docs, pairs, trainPct)))
  }

  /** EP5 (extension) — the DAILY INCREMENTAL LOOP, the capstone the
    * persisted-state tier was built for: snapshot diff decides what
    * re-enters dedup and index append, so a daily run pays for its
    * delta, never the corpus.
    *
    * Composition (all existing, individually oracle-checked parts):
    *  1. [[graft.operators.Snapshot.diff]] on the document snapshots —
    *     the unchanged mass never leaves the fingerprint join (q149).
    *  2. ADDED docs re-enter near-dup detection through
    *     [[graft.operators.Dedup.incrementalMinhashEstimated]] (q126):
    *     candidates from the new batch's bands vs history ∪ new,
    *     history touched only through persisted SIGNATURES, and the
    *     batch's signatures appended so tomorrow sees today as
    *     history.
    *  3. ADDED vectors enter the ANN tier through
    *     [[graft.operators.Similarity.appendToIvfIndex]] (q121's
    *     build-once index): assigned against the persisted centroids
    *     only — bit-identical to a full rebuild containing them
    *     (IvfIndexSpec), at the cost of one batch-sized pass.
    *
    * CHANGED and REMOVED keys are returned as the maintenance
    * worklist and, by default, NOT auto-appended: both state tables
    * are append-only by design (a torn half-append must not orphan a
    * doc — see persistMinhashSignatures), so superseding an existing
    * key takes a MAINTENANCE path. Pass `healEdits = true` to run
    * one inside the loop turn, BEFORE the incremental dedup reads
    * state, selected by `healVia`:
    *  - `"compact"` (default): rewrite both state tables
    *    ([[graft.operators.Dedup.compactSignatures]] /
    *    [[graft.operators.Similarity.compactIvfIndex]]) — corpus-
    *    linear cost, zero read-path overhead afterwards; q162 proves
    *    this healed loop shares the grow-only oracle.
    *  - `"tombstone"`: O(|edits|) content-addressed tombstones + fresh
    *    re-signs/re-assignments
    *    ([[graft.operators.Dedup.tombstoneSignatures]] /
    *    [[graft.operators.Similarity.tombstoneIvfIndex]]) — the daily
    *    cadence mode at 100 TB, where a per-turn state rewrite would
    *    dominate the turn; reads carry a |tombstones| anti-join until
    *    a scheduled compaction folds them away; q164 proves THIS
    *    healed loop shares the same grow-only oracle.
    * Or run maintenance standalone at whatever cadence edits
    * accumulate:
    * [[graft.operators.Dedup.compactSignatures]] with
    * `doc_changes.filter(status = 'changed')` as the stale worklist
    * (removed keys are detected from the corpus itself), and
    * [[graft.operators.Similarity.compactIvfIndex]] with the changed ∪
    * removed `emb_changes` keys followed by [[graft.operators.Similarity.appendToIvfIndex]]
    * of the changed vectors' current rows. Both rewrite-new + swap, and
    * both leave state equal to a fresh full build over the current
    * corpus (StateCompactionSpec; catalog q156/q157). A grow-only
    * corpus — the normal training-data ingest shape — takes the pure
    * fast path and never compacts.
    *
    * Scale shape: the diff is one co-partitionable (key, fingerprint)
    * full-outer join; dedup touches |batch| shingle rows + signature
    * state; index append is |batch| × nlist broadcast scoring. Nothing
    * rescans yesterday's corpus. The incremental ≪ rebuild gap is
    * measured in ScaleProbe's `daily_incremental` probe.
    *
    * `dsirStatePath` opts the DSIR distribution state
    * ([[graft.operators.TextAnalysis.persistDsirState]]) into the same
    * loop turn: added docs append their bucket counts, and under
    * `healEdits` the sum-shaped tier heals by RETRACTION instead of
    * compaction — changed/removed docs' OLD rows (recovered from
    * `oldDocs`, the as-persisted side the retract contract requires)
    * cancel via [[graft.operators.TextAnalysis.retractDsirState]] and
    * changed docs re-persist their current text. The loop reads the
    * (buckets, ngram) stamp off the state itself
    * ([[graft.operators.TextAnalysis.dsirStateParams]]) so a turn can
    * never append at params the day-0 build didn't use.
    *
    * `pqPath` opts the PQ index into the same turn: added vectors
    * encode against the persisted codebooks and append (key-filtered
    * for retries), edits heal by the selected `healVia` mode, and
    * codebook retraining remains the periodic full-rebuild event
    * ([[graft.operators.Similarity.retrainPqIndex]]). q168 pins the
    * healed loop-fed PQ index to the one-shot-encode oracle.
    *
    * THE TURN IS RETRY-IDEMPOTENT (q167): a duplicated run — the
    * orchestrator retry that makes the reference double-append
    * (spotify_dag.py retries=2 with no idempotence) — leaves every
    * state table unchanged and emits the same pairs. Signatures are
    * content-filtered on append (a replay's re-derived rows cancel;
    * history excludes the batch's keys so the pair computation is
    * run-stable), IVF appends are key-filtered against the live view,
    * and the DSIR sums — which carry no per-doc identity to cancel
    * on — skip via the `runId` batch stamp; pass the orchestrator's
    * execution date as `runId` whenever the DSIR tier rides the loop.
    * Without a `runId` the turn derives a run identity with TWO lanes:
    * a content hash of the snapshot diff (keys + statuses + both
    * sides' text fingerprints + row count, two independent hash
    * seeds), and a CONTEXT digest of the DSIR state's existing
    * batch ids EXCLUDING this content's own family. The context lane
    * is what separates an immediate retry from a legitimately
    * recurring identical diff (doc edited A→B, reverted, edited A→B
    * again): the retry sees the same non-family bid set (the original
    * turn's own appends are family, excluded) so the stamp matches
    * and the appends skip, while the recurrence's intervening
    * inverse-edit turn — PROVIDED it also rode the DSIR tier and
    * landed appends — changed the non-family set, so the stamp
    * differs and the sums append normally. That proviso is the
    * derived stamp's soundness assumption: runId-less stamps are
    * sound only when the DSIR tier rides EVERY turn that touches the
    * corpus. A revert turn run without `dsirStatePath` leaves the
    * non-family bid set unchanged, so a later genuine recurrence
    * derives the original stamp and is silently skipped — mixed
    * deployments (some turns with the tier, some without) must pass
    * explicit orchestrator runIds instead. With the assumption held,
    * the at-least-once hole is closed by default; an explicit
    * orchestrator date simply overrides the derived stamp.
    *
    * MIGRATION NOTE (derived-stamp format): unifying the content lane
    * onto [[graft.streaming.StreamIds.contentBid]] changed the
    * fingerprint concatenation from the old inline `concat_ws("", …)`
    * to `concat_ws(" ", …)` (the space closes field-boundary
    * collisions like ("ab","c") vs ("a","bc")), so the SAME diff now
    * derives a DIFFERENT `auto:…` stamp than the pre-unification
    * scheme wrote. DSIR states stamped under the old scheme lose
    * derived-stamp replay idempotence across the upgrade: a retried
    * old turn re-derives a new stamp, misses the replay guard, and
    * double-sums; the family-exclusion marker `:auto:<hash>:` likewise
    * no longer matches old family bids. Old stamps cannot be
    * recomputed (the original diffs are gone), so either rebuild the
    * DSIR state or pass explicit orchestrator `runId`s for every turn
    * that might retry across the upgrade boundary; states stamped
    * exclusively with explicit runIds are unaffected.
    *
    * `maintain` (default ON) runs the cadence-gated compaction trio
    * AFTER the turn's state writes: each tier rewrites iff its
    * measured tombstone fraction exceeds `maxTombstoneFrac`
    * ([[graft.sources.StateTable.due]]), so tombstone-mode
    * deployments bound their read tax WITHOUT any orchestrator
    * compaction DAG — a clean tier costs two count jobs. Set
    * `maintain = false` to keep compaction an externally scheduled
    * event. `manifestPath` appends one audit row per turn (the run
    * identity the turn's state writes actually stamped — explicit or
    * derived, so the audit row correlates with the bid stamps in
    * state — per-tier change counts, post-maintenance live/tombstone
    * counts and fractions, which tiers compacted) — the
    * after-the-fact audit trail retry-idempotence alone doesn't give.
    * The manifest assumes a SINGLE WRITER per manifest path (the
    * daily loop has one orchestrator by construction): `turn_seq` is
    * derived as max(existing)+1 with a non-transactional parquet
    * append, so concurrent turns against one manifest could mint
    * duplicate sequence numbers.
    *
    * Returns the run's frames keyed by name: `doc_changes` /
    * `emb_changes` (added|changed|removed rows), `dedup_pairs` (new
    * near-dup pairs with ≥1 added endpoint). All state paths must
    * exist from a prior full build (persistMinhashSignatures +
    * buildIvfIndex + optional persistDsirState) — day zero IS the
    * full build.
    */
  def dailyIncremental(spark: SparkSession,
                       oldDocs: org.apache.spark.sql.DataFrame,
                       newDocs: org.apache.spark.sql.DataFrame,
                       oldEmb: org.apache.spark.sql.DataFrame,
                       newEmb: org.apache.spark.sql.DataFrame,
                       sigStatePath: String, ivfPath: String,
                       n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                       minJ: Double = 0.5,
                       healEdits: Boolean = false,
                       dsirStatePath: Option[String] = None,
                       dsirTargetSource: String = "src0",
                       healVia: String = "compact",
                       runId: Option[String] = None,
                       pqPath: Option[String] = None,
                       maintain: Boolean = true,
                       maxTombstoneFrac: Double = 0.1,
                       manifestPath: Option[String] = None,
                       bpeVocabPath: Option[String] = None,
                       encodedPath: Option[String] = None,
                       bpeArtifact: Option[graft.operators.TextAnalysis.BpeVocabArtifact] = None,
                       compactionDocs: Option[org.apache.spark.sql.DataFrame] = None): Map[String, org.apache.spark.sql.DataFrame] = {
    require(healVia == "compact" || healVia == "tombstone",
      s"healVia must be 'compact' or 'tombstone' (got '$healVia')")
    // argument-shape errors must fire BEFORE any state mutation: this
    // pair-check used to sit below the signature heal and DSIR
    // appends, where a misconfigured call aborted a half-written turn
    require(bpeVocabPath.isDefined == encodedPath.isDefined,
      "bpeVocabPath and encodedPath come as a pair (the encoded state is " +
        "meaningless without the artifact that defines its ids)")
    import org.apache.spark.sql.functions._
    // ---- turn-completion LEDGER: an explicit runId names the WHOLE
    // turn, so a completed turn's retry (the reference DAG's
    // retries=2 re-enters with the same execution date; a stream
    // checkpoint replay re-enters with the same content digest) is
    // decided by one filesystem probe instead of re-running every
    // tier's replay-guarded job waves — the guards already made the
    // retry a state NO-OP, but a no-op that still paid the full
    // turn's diff + heal + append jobs (the dominant cost at daily
    // cadence; q167 measured ~2× a single turn). The marker lands
    // strictly AFTER every state write, so a turn that crashed
    // mid-state leaves no marker and its retry takes the per-tier
    // crash-resume path below, healing exactly the sub-batches that
    // never landed. Skipped when a manifest rides the turn: the
    // manifest is the audit trail that must RECORD each retry
    // (StateCompactionSpec pins one row per delivery), and an audited
    // deployment wants that row more than the skip. Single writer per
    // state root, as everywhere in this tier.
    val turnMarker =
      if (manifestPath.isDefined) None
      else runId.map(r => new org.apache.hadoop.fs.Path(
        s"$sigStatePath/_turns/${java.net.URLEncoder.encode(r, "UTF-8")}"))
    if (turnMarker.exists(m =>
          m.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(m))) {
      // state already reflects this turn — hand back the same views,
      // LAZY (no materialization, no state mutation, no jobs unless a
      // consumer actually reads them; the pair frame recomputes
      // against post-turn state, which the retry spec pins as
      // emission-identical)
      val docChanges = graft.operators.Snapshot
        .diffFp(oldDocs, newDocs, "doc_id", Seq("text", "lang"))
        .filter(col("status") =!= "unchanged").drop("oh", "nh")
      def fpL(e: org.apache.spark.sql.DataFrame) =
        e.withColumn("_fp", col("embedding").cast("string"))
      val embChanges = graft.operators.Snapshot
        .diff(fpL(oldEmb), fpL(newEmb), "vec_id", Seq("_fp"))
        .filter(col("status") =!= "unchanged")
      val addedDocs = newDocs.join(
        docChanges.filter(col("status") === "added").select("doc_id"), Seq("doc_id"))
      val pairs = graft.operators.Dedup.incrementalMinhashEstimatedUnordered(
        addedDocs, n, numHashes, bands, minJ, sigStatePath)
      return Map(
        "doc_changes" -> docChanges,
        "emb_changes" -> embChanges,
        "dedup_pairs" -> pairs.orderBy(col("doc_a"), col("doc_b")),
        "dedup_pairs_raw" -> pairs)
    }
    // SAME-FRAME shortcut: a caller that passes the identical frame
    // for old and new (the doc-only turn's `emb, emb`, the
    // vector-only turn's `docs, docs` — q163/q167/q168/q170/q173's
    // shapes) has declared that side UNCHANGED by identity, so its
    // diff is empty WITHOUT any data pass. limit(0) folds to a static
    // LocalRelation, every downstream join/append over it collapses
    // in the optimizer (PropagateEmptyRelation), materialize skips
    // the checkpoint job, and the heal blocks are gated off — at
    // sf0.1 the inert side otherwise cost a two-scan fingerprint
    // diff + an empty heal + an empty append write per turn.
    val docsUnchanged = oldDocs eq newDocs
    val embUnchanged = oldEmb eq newEmb
    // job labels (guide §1.5): every eager action of the turn names
    // its tier, so a job ledger / the UI attributes the per-turn
    // action waves without guesswork. Thread-local, cleared at return.
    def label(s: String): Unit =
      spark.sparkContext.setJobDescription(s"dailyIncremental: $s")
    // FROM-EMPTY shortcut (the stream fronts' delta-turn shape): a
    // statically-empty OLD side makes the diff a pure projection of
    // newDocs — every row is "added", no join survives the optimizer
    // (PropagateEmptyRelation). Checkpointing that projection, and
    // the added-keys self-join derived from it, costs two driver
    // actions per micro-batch just to pin what is already a one-file
    // batch scan — at the drain's job-wave-dominated scale the
    // checkpoint costs more than its consumers' re-scans (q188:
    // 10 driver actions per doc turn, of which these were two). Both
    // frames stay LAZY on this path; consumers re-scan the batch.
    val docsFromEmpty = !docsUnchanged && graft.operators.Dedup.staticallyEmpty(oldDocs)
    val embFromEmpty = !embUnchanged && graft.operators.Dedup.staticallyEmpty(oldEmb)
    // the corpus-wide fingerprint diff runs ONCE per table: only the
    // delta (tiny by definition — it's the daily batch) is
    // materialized, and both its consumers (the returned change frame
    // and the added-keys routing join) read the materialized rows
    // diffFp keeps both sides' md5 fingerprints in the materialized
    // delta — the content identity the DSIR run stamp needs, already
    // paid for by the diff's own scan (no second corpus pass)
    val docChangesFp = {
      label("doc snapshot diff")
      val d = graft.operators.Snapshot.diffFp(oldDocs, newDocs, "doc_id", Seq("text", "lang"))
        .filter(col("status") =!= "unchanged")
      if (docsUnchanged) graft.operators.Dedup.materialize(d.limit(0))
      else if (docsFromEmpty) d
      else graft.operators.Dedup.materialize(d)
    }
    val docChanges = docChangesFp.drop("oh", "nh")
    val addedDocKeys = docChanges.filter(col("status") === "added").select("doc_id")
    // `healEdits`: run the compaction tier IN the loop turn, BEFORE the
    // incremental dedup reads state — changed docs re-sign from current
    // text, removed docs fall out, and history is exactly the current
    // non-added corpus, so the loop's output is indistinguishable from
    // the grow-only case (q162 shares q151's oracle). History for the
    // compaction is newDocs MINUS the added batch: the batch enters
    // through the incremental append below, and compacting it in first
    // would double-persist its signatures.
    // current rows of the CHANGED documents — like the added batch, a
    // delta-sized corpus join with up to three healEdits consumers
    // (signature heal, DSIR changed-persist, encoded heal): pin it
    // once when a second consumer exists
    lazy val changedDocKeys = docChanges.filter(col("status") === "changed").select("doc_id")
    lazy val changedCur = {
      val c = newDocs.join(changedDocKeys, Seq("doc_id"))
      // every consumer lives under healEdits: the signature heal
      // (tombstone mode only — compact heals from changedDocKeys), the
      // DSIR changed-persist, the encoded heal. Pin only when a SECOND
      // consumer exists; a single reader re-running the delta join
      // once is cheaper than the checkpoint job it would replace.
      val consumers =
        (if (healEdits && healVia == "tombstone") 1 else 0) +
          (if (healEdits && dsirStatePath.isDefined) 1 else 0) +
          (if (healEdits && bpeVocabPath.isDefined) 1 else 0)
      if (consumers >= 2) graft.operators.Dedup.materialize(c) else c
    }
    // from-empty turns are gated out of every heal block below
    // (ADVICE r20): a diff whose old side is statically empty can
    // contain only 'added' rows, so the changed/removed worklists are
    // empty BY CONSTRUCTION — but the status filters sit over a
    // computed when/otherwise column the optimizer cannot fold, so
    // without the gate each heal consumer still launched jobs over a
    // runtime-empty worklist and re-scanned the lazy diff.
    if (healEdits && !docsUnchanged && !docsFromEmpty) {
      if (healVia == "tombstone")
        // O(|edits|): content-addressed tombstones + fresh re-signs,
        // no state rewrite in the turn — the daily cadence mode; the
        // rewrite is deferred to scheduled compactSignatures
        graft.operators.Dedup.tombstoneSignatures(
          changedCur, n, numHashes, bands,
          sigStatePath,
          docChanges.filter(col("status") === "removed").select("doc_id"))
      else {
        val histDocs = compactionDocs.getOrElse(newDocs)
          .join(addedDocKeys, Seq("doc_id"), "left_anti")
        graft.operators.Dedup.compactSignatures(histDocs, n, numHashes, bands,
          sigStatePath, changedDocKeys)
      }
    }
    // the added batch is DELTA-sized but derives from a corpus-wide
    // join; with the DSIR and/or encoded tiers riding the turn it has
    // up to three consumers (DSIR persist, encoded append, the pair
    // frame) — materialize ONCE so each consumer reads the pinned
    // delta rows instead of re-running the corpus join (the job-wave
    // constant is what dominates the micro-batched turn queries).
    // Without an eager tier consumer the join stays lazy, preserving
    // the pair frame's lazy-by-design contract below. From-empty
    // turns skip both the join (every newDocs row IS the added batch)
    // and the checkpoint (consumers re-scan the one-file batch).
    val addedDocsRaw =
      if (docsFromEmpty) newDocs
      else newDocs.join(addedDocKeys, Seq("doc_id"))
    val addedDocs =
      if ((dsirStatePath.isDefined || bpeVocabPath.isDefined) && !docsFromEmpty)
        graft.operators.Dedup.materialize(addedDocsRaw)
      else addedDocsRaw
    // ---- the turn's RUN IDENTITY, shared by the DSIR stamp and the
    // manifest audit row. Explicit runId wins. Derived form: lane 1 is
    // an order-independent content digest of the materialized diff
    // (two independent hash seeds + row count — one tiny agg over the
    // already-materialized delta, no corpus re-scan); lane 2, present
    // only when the DSIR tier rides the turn, digests the state's
    // existing NON-family batch ids. Excluding the family is what
    // keeps a retry's stamp identical (its own first delivery's
    // appends are family) while a later identical diff — whose
    // intervening inverse-edit turn appended non-family bids,
    // assuming the DSIR tier rides every turn (see the method doc's
    // soundness assumption) — derives a different stamp and appends.
    // ONE digest implementation serves every content identity in the
    // engine (graft.streaming.StreamIds -- the stream fronts' batch ids
    // and this derived run identity), so the "same lane" claims in
    // both scaladocs are true by construction, not by parallel copies
    lazy val contentHash: String = graft.streaming.StreamIds.contentBid(
      docChangesFp, Seq(col("doc_id").cast("string"), col("status"),
        coalesce(col("nh"), lit("")), coalesce(col("oh"), lit(""))))
    // ONE bounded read serves the whole DSIR tier this turn: the
    // (nb, ng) param stamp, the derived-stamp context digest, and the
    // pre-turn bid snapshot the three appends answer their replay
    // checks from — replacing ~5 separate small reads of the same
    // buckets-rows-per-batch table (measured ~1.5s of driver-
    // coordinated job overhead per turn at sf0.1).
    val dsirSummary: Option[(Int, Int, Set[String])] =
      dsirStatePath.map(dp => graft.operators.TextAnalysis.dsirStateSummary(spark, dp))
    lazy val rid: String = runId.getOrElse(dsirSummary match {
      case Some((_, _, bids)) =>
        val famMark = s":auto:$contentHash:"
        val ctx = bids.filterNot(_.contains(famMark))
          .foldLeft(0L)((a, b) => a + graft.functions.PortableHash.hash32Jvm(b))
        f"auto:$contentHash:$ctx%x"
      case None => s"auto:$contentHash"
    })
    // DSIR tier: sum-shaped state — adds append, edits retract+persist
    // (no compaction path exists or is needed; see retractDsirState).
    // Params come off the state's own stamp, never the caller.
    dsirStatePath.foreach { dp =>
      label("dsir tier")
      val (nb, ng, bids) = dsirSummary.get
      val kb = Some(bids)
      if (healEdits && !docsUnchanged && !docsFromEmpty) {
        val editKeys = docChanges
          .filter(col("status").isin("changed", "removed")).select("doc_id")
        graft.operators.TextAnalysis.retractDsirState(
          oldDocs.join(editKeys, Seq("doc_id")), dsirTargetSource, dp, nb, ng,
          batchId = if (rid.isEmpty) "" else s"$rid:edits", knownBids = kb)
        graft.operators.TextAnalysis.persistDsirState(
          changedCur, dsirTargetSource, dp, nb, ng,
          batchId = if (rid.isEmpty) "" else s"$rid:changed", knownBids = kb)
      }
      // a provably-empty added batch appends zero rows either way (no
      // cells, so no bid stamp lands) — skip the job entirely
      if (!graft.operators.Dedup.staticallyEmpty(addedDocs))
        graft.operators.TextAnalysis.persistDsirState(
          addedDocs, dsirTargetSource, dp, nb, ng,
          batchId = if (rid.isEmpty) "" else s"$rid:added", knownBids = kb)
    }
    // ENCODED-CORPUS tier: the frozen tokenizer's (doc_id, ids) rows
    // ride the same turn — added docs append their encodings
    // (key+content-filtered, retry-proof), edits heal by the selected
    // mode, the vocab artifact itself is NEVER retrained here (ids
    // must not shift corpus-wide inside an ingest turn; retraining is
    // the versioned deployment event, like PQ codebooks). The
    // vocab/encoded pair-check fires at the top of the method, before
    // any state mutation.
    for (vp <- bpeVocabPath; ep <- encodedPath) {
      label("encoded tier")
      if (healEdits && !docsUnchanged && !docsFromEmpty) {
        val removed = docChanges.filter(col("status") === "removed").select("doc_id")
        if (healVia == "tombstone")
          graft.operators.TextAnalysis.tombstoneEncodedDocs(changedCur, spark, vp, ep, removed)
        else {
          graft.operators.TextAnalysis.compactEncodedCorpus(spark, ep,
            docChanges.filter(col("status").isin("changed", "removed")).select("doc_id"))
          graft.operators.TextAnalysis.appendEncodedDocs(changedCur, spark, vp, ep)
        }
      }
      // repeated-turn callers (the streaming drain) pass the collected
      // artifact once; a daily batch turn loads it here — same cost,
      // one call per turn either way. Skip the append job when the
      // added batch is provably empty (zero rows land either way).
      if (!graft.operators.Dedup.staticallyEmpty(addedDocs))
        graft.operators.TextAnalysis.appendEncodedDocsWith(addedDocs, spark,
          bpeArtifact.getOrElse(
            graft.operators.TextAnalysis.loadBpeVocabArtifact(spark, vp)), ep)
    }
    // LAZY on purpose: many turns never consume the pair frame, and
    // the expensive candidate join must not run eagerly for them. The
    // one hazard is the post-turn signature compaction below (its
    // commit garbage-collects the files this frame's lazy scan has
    // listed) —
    // so the maintenance block materializes the frame FIRST iff it is
    // actually about to rewrite.
    // the unordered core: the ordered catalog frame is derived lazily
    // at the return (sorting only executes if THAT frame is consumed);
    // sinks write `dedup_pairs_raw` and skip the per-batch range sort
    // an embedding-only turn (the stream drain's emb turns) carries a
    // provably-empty doc delta: it emits no pairs and appends nothing,
    // so skip the signature state load its dedup would pay for it
    label("signature tier: pin + append")
    var pairs =
      if (graft.operators.Dedup.staticallyEmpty(addedDocs))
        addedDocs.select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b"),
          lit(0.0).as("est_jaccard"))
      else graft.operators.Dedup.incrementalMinhashEstimatedUnordered(
        addedDocs, n, numHashes, bands, minJ, sigStatePath)
    // embeddings diff fingerprints the vector bytes via the canonical
    // string form (stable for a given array, engine-portable)
    def fp(e: org.apache.spark.sql.DataFrame) =
      e.withColumn("_fp", col("embedding").cast("string"))
    val embChanges = {
      label("embedding snapshot diff")
      val d = graft.operators.Snapshot.diff(fp(oldEmb), fp(newEmb), "vec_id", Seq("_fp"))
        .filter(col("status") =!= "unchanged")
      if (embUnchanged) graft.operators.Dedup.materialize(d.limit(0))
      // from-empty: a pure "added" projection of the one-file batch —
      // its 1-2 consumers (the key-filtered index appends) re-scan
      // cheaper than the checkpoint action costs
      else if (embFromEmpty) d
      else graft.operators.Dedup.materialize(d)
    }
    if (healEdits && !embUnchanged && !embFromEmpty) {
      val changedEmb = newEmb.join(
        embChanges.filter(col("status") === "changed").select("vec_id"), Seq("vec_id"))
      if (healVia == "tombstone")
        graft.operators.Similarity.tombstoneIvfIndex(changedEmb, spark, ivfPath,
          embChanges.filter(col("status") === "removed").select("vec_id"))
      else {
        // stale assignment rows out (old versions of changed vectors +
        // removed vectors), current versions of the changed back in via
        // the same append path the daily batch rides
        graft.operators.Similarity.compactIvfIndex(spark, ivfPath,
          embChanges.filter(col("status").isin("changed", "removed")).select("vec_id"))
        graft.operators.Similarity.appendToIvfIndex(changedEmb, spark, ivfPath)
      }
    }
    // key-filtered against the live view, so a duplicate run (retry)
    // appends nothing instead of duplicating assignment rows — which
    // would corrupt top-k results (a duplicated neighbor occupies two
    // ranks) until the next compaction. Doc-only turns (the stream
    // drain's shape) carry a provably-empty embedding delta: appending
    // it writes zero assignment rows but still costs a job and leaves
    // an empty file in the index dir per turn, and loading the live
    // view for its anti-join costs the index's footer reads — skip all
    // three.
    val newEmbAdded = newEmb.join(
      embChanges.filter(col("status") === "added").select("vec_id"), Seq("vec_id"))
    label("ivf tier: append")
    if (!graft.operators.Dedup.staticallyEmpty(newEmbAdded))
      graft.operators.Similarity.appendToIvfIndex(newEmbAdded
        .join(graft.operators.Similarity.loadIvfIndex(spark, ivfPath)._2
          .select(col("vec_id")), Seq("vec_id"), "left_anti"), spark, ivfPath)
    // optional PQ tier: same change-routing as IVF — added vectors
    // encode against the persisted codebooks (key-filtered, so a
    // retried turn appends nothing), edits heal by the selected mode;
    // codebook retraining stays the periodic event (retrainPqIndex)
    pqPath.foreach { pp =>
      label("pq tier")
      if (healEdits && !embUnchanged && !embFromEmpty) {
        val changedEmb = newEmb.join(
          embChanges.filter(col("status") === "changed").select("vec_id"), Seq("vec_id"))
        if (healVia == "tombstone")
          graft.operators.Similarity.tombstonePqIndex(changedEmb, spark, pp,
            embChanges.filter(col("status") === "removed").select("vec_id"))
        else {
          graft.operators.Similarity.compactPqIndex(spark, pp,
            embChanges.filter(col("status").isin("changed", "removed")).select("vec_id"))
          graft.operators.Similarity.appendToPqIndex(changedEmb, spark, pp)
        }
      }
      if (!graft.operators.Dedup.staticallyEmpty(newEmbAdded))
        graft.operators.Similarity.appendToPqIndex(newEmbAdded
          .join(graft.operators.Similarity.loadPqIndex(spark, pp)._2
            .select(col("vec_id")).distinct(), Seq("vec_id"), "left_anti"), spark, pp)
    }
    // ---- post-turn cadence-gated maintenance: the tombstone mode's
    // read-side tax (measured ~2x a clean drain at 1% edits) is only
    // bounded if SOMETHING schedules compaction — and an orchestrator
    // that owns no compaction DAG never will. So the loop turn itself
    // runs the trio after its state writes: each tier compacts iff its
    // measured tombstone fraction crossed `maxTombstoneFrac`, and a
    // clean tier (no tombstones) costs no job at all.
    // The worklists are empty — every stale key was already tombstoned
    // or rewritten above; compaction here only folds tombstones away.
    label("maintenance")
    val noDocKeys = newDocs.select(col("doc_id")).limit(0)
    val noVecKeys = newEmb.select(col("vec_id")).limit(0)
    val sigCompacted = maintain && {
      val due = StateTable(spark, sigStatePath).due(StateTable.Sigs, maxTombstoneFrac)
      if (due) {
        // about to rewrite the dir the lazy pair plan file-listed:
        // pin the pairs NOW so a later consumer never reads the
        // deleted pre-compaction files
        pairs = graft.operators.Dedup.materialize(pairs)
        graft.operators.Dedup.compactSignatures(
          compactionDocs.getOrElse(newDocs), n, numHashes, bands,
          sigStatePath, noDocKeys)
      }
      due
    }
    val ivfCompacted = maintain && graft.operators.Similarity.compactIvfIndexIfNeeded(
      spark, ivfPath, noVecKeys, maxTombstoneFrac)
    val pqCompacted = pqPath.exists(pp => maintain &&
      graft.operators.Similarity.compactPqIndexIfNeeded(spark, pp, noVecKeys, maxTombstoneFrac))
    val encCompacted = encodedPath.exists(ep => maintain &&
      graft.operators.TextAnalysis.compactEncodedCorpusIfNeeded(
        spark, ep, noDocKeys, maxTombstoneFrac))
    // ---- run manifest: one appended row per turn makes a bad turn
    // AUDITABLE after the fact (retry-idempotence makes it harmless,
    // not visible). Counts come off the already-materialized change
    // frames; fractions/liveness are the FAST footer-count form
    // (live = stored − tombstones, exact whenever every tombstone
    // shadows exactly one stored row — every clean state; retry
    // debris can only make it an undercount), post-maintenance, so
    // the row records the state a reader would see. The exact
    // merge-on-read count costs an anti-join SCAN PER TIER per turn —
    // audit numbers must not out-cost the turn; call
    // [[graft.sources.StateTable.stats]] directly when an exact
    // census is actually needed.
    manifestPath.foreach { mp =>
      label("run manifest")
      import spark.implicits._
      def statusCounts(ch: org.apache.spark.sql.DataFrame): Map[String, Long] =
        ch.groupBy(col("status")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      val dc = statusCounts(docChanges)
      val ec = statusCounts(embChanges)
      val (sigLive, sigTombs, sigFrac) = StateTable(spark, sigStatePath).statsFast(StateTable.Sigs)
      val (ivfLive, ivfTombs, ivfFrac) = StateTable(spark, ivfPath).statsFast(StateTable.Assignments)
      val (pqLive, pqTombs, pqFrac) = pqPath
        .map(StateTable(spark, _).statsFast(StateTable.Codes))
        .getOrElse((-1L, -1L, -1.0))
      val (encLive, encTombs, encFrac) = encodedPath
        .map(StateTable(spark, _).statsFast(StateTable.Ids))
        .getOrElse((-1L, -1L, -1.0))
      val manifestDir = new org.apache.hadoop.fs.Path(mp)
      val fs = manifestDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // max+1, not count+1: a partially-written dir (crash between
      // read and append) can lose a row but can never repeat a
      // sequence number. Single-writer assumed (see scaladoc).
      val turnSeq =
        if (fs.exists(manifestDir))
          spark.read.parquet(mp)
            .agg(coalesce(max(col("turn_seq")), lit(0L))).head().getLong(0) + 1L
        else 1L
      import org.apache.spark.sql.types._
      val manifestSchema = StructType(Seq(
        StructField("turn_seq", LongType), StructField("run_id", StringType),
        StructField("docs_added", LongType), StructField("docs_changed", LongType),
        StructField("docs_removed", LongType),
        StructField("emb_added", LongType), StructField("emb_changed", LongType),
        StructField("emb_removed", LongType),
        StructField("sig_live", LongType), StructField("sig_tombs", LongType),
        StructField("sig_frac", DoubleType), StructField("sig_compacted", BooleanType),
        StructField("ivf_live", LongType), StructField("ivf_tombs", LongType),
        StructField("ivf_frac", DoubleType), StructField("ivf_compacted", BooleanType),
        StructField("pq_live", LongType), StructField("pq_tombs", LongType),
        StructField("pq_frac", DoubleType), StructField("pq_compacted", BooleanType),
        StructField("enc_live", LongType), StructField("enc_tombs", LongType),
        StructField("enc_frac", DoubleType), StructField("enc_compacted", BooleanType)))
      val row = org.apache.spark.sql.Row(
        turnSeq, rid,
        dc("added"), dc("changed"), dc("removed"),
        ec("added"), ec("changed"), ec("removed"),
        sigLive, sigTombs, sigFrac, sigCompacted,
        ivfLive, ivfTombs, ivfFrac, ivfCompacted,
        pqLive, pqTombs, pqFrac, pqCompacted,
        encLive, encTombs, encFrac, encCompacted)
      spark.createDataFrame(
          java.util.Collections.singletonList(row), manifestSchema)
        .write.mode("append").parquet(mp)
    }
    // the completion marker is the LAST write of the turn: its
    // existence certifies every state mutation above committed.
    // ATOMIC (VERDICT r20 item 8): a temp file renamed into place, so
    // a crash mid-write leaves only the '~tmp' debris the probe never
    // trusts — a half-created marker DIRECTORY (the old mkdirs form)
    // would read as "turn complete" to a concurrent or later reader.
    // '~' never survives URLEncoder (→ %7E), so no runId's encoded
    // marker can collide with another marker's temp name.
    spark.sparkContext.setJobDescription(null)
    turnMarker.foreach { m =>
      val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(m.getParent)
      val tmp = new org.apache.hadoop.fs.Path(m.getParent, m.getName + "~tmp")
      fs.create(tmp, true).close()
      require(fs.rename(tmp, m) || fs.exists(m),
        s"turn marker rename failed for $m")
    }
    Map(
      "doc_changes" -> docChanges,
      "emb_changes" -> embChanges,
      "dedup_pairs" -> pairs.orderBy(col("doc_a"), col("doc_b")),
      "dedup_pairs_raw" -> pairs)
  }

  /** The DELTA-FED daily turn — for deployments whose arrivals come AS
    * a delta (an ingest queue, a CDC feed, the per-tier stream fronts'
    * batch shape) rather than as full snapshots. [[dailyIncremental]]'s
    * one O(corpus) term is the snapshot fingerprint diff
    * (`tools/scaleprobe_r14_dailysplit.jsonl`: the slim floor); here
    * the caller passes the delta directly and the same diff machinery
    * runs over |delta| rows, so the WHOLE turn is batch- and
    * state-scoped.
    *
    * `oldDelta` holds the AS-PERSISTED rows of changed and removed
    * documents (the retraction contract's old side); `newDelta` the
    * CURRENT rows of added and changed documents. Statuses derive from
    * the same key/fingerprint diff the snapshot form uses, so the
    * derived run identity hashes to the SAME value a snapshot-fed
    * retry of the same delta would — the two forms interoperate on one
    * state.
    *
    * Two operations genuinely need the full corpus and are gated on
    * `currentDocs`: compact-mode healing (its history rebuild) and the
    * cadence-gated SIGNATURE compaction (its membership filter +
    * lost-append re-signs; the IVF/PQ/encoded gates rebuild from state
    * and need nothing). Both requirements fail loudly; `maintain`
    * therefore defaults OFF here — a delta deployment bounds its
    * tombstone read-tax either by passing `currentDocs` with
    * `maintain = true` or by scheduling
    * [[graft.operators.Dedup.compactSignatures]] at its own cadence.
    * Returns the same frames as [[dailyIncremental]].
    */
  def dailyIncrementalDelta(spark: SparkSession,
                            oldDelta: org.apache.spark.sql.DataFrame,
                            newDelta: org.apache.spark.sql.DataFrame,
                            oldEmbDelta: org.apache.spark.sql.DataFrame,
                            newEmbDelta: org.apache.spark.sql.DataFrame,
                            sigStatePath: String, ivfPath: String,
                            n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                            minJ: Double = 0.5,
                            healEdits: Boolean = false,
                            dsirStatePath: Option[String] = None,
                            dsirTargetSource: String = "src0",
                            healVia: String = "tombstone",
                            runId: Option[String] = None,
                            pqPath: Option[String] = None,
                            maintain: Boolean = false,
                            maxTombstoneFrac: Double = 0.1,
                            manifestPath: Option[String] = None,
                            bpeVocabPath: Option[String] = None,
                            encodedPath: Option[String] = None,
                            bpeArtifact: Option[graft.operators.TextAnalysis.BpeVocabArtifact] = None,
                            currentDocs: Option[org.apache.spark.sql.DataFrame] = None)
      : Map[String, org.apache.spark.sql.DataFrame] = {
    require(healVia == "tombstone" || currentDocs.isDefined,
      "compact-mode healing rebuilds history from the full corpus — " +
        "pass currentDocs or heal via tombstones")
    require(!maintain || currentDocs.isDefined,
      "gated signature compaction re-signs from the full corpus — " +
        "pass currentDocs or keep maintain = false and schedule " +
        "compactSignatures externally")
    dailyIncremental(spark, oldDelta, newDelta, oldEmbDelta, newEmbDelta,
      sigStatePath, ivfPath, n, numHashes, bands, minJ, healEdits,
      dsirStatePath, dsirTargetSource, healVia, runId, pqPath, maintain,
      maxTombstoneFrac, manifestPath, bpeVocabPath, encodedPath,
      bpeArtifact, compactionDocs = currentDocs)
  }

  /** EP6 (extension) — the end-to-end CURATION RUN: the three quality
    * tiers composed in their production order over one corpus.
    *
    *  1. NEAR-DUP collapse: capped-Jaccard pairs → connected
    *     components → one representative per cluster, best `n_chars`
    *     ([[graft.operators.Dedup.keepBestPerCluster]], q74).
    *  2. QUALITY gate: the representatives pass the integer logit
    *     keep rule ([[graft.operators.TextAnalysis.qualityLogit]],
    *     q102 — per-doc features only, so restricting it to survivors
    *     changes nothing about each doc's score).
    *  3. DSIR steering: the deduped, quality-kept corpus is scored
    *     against the target domain and the top-k most target-like
    *     docs selected ([[graft.operators.TextAnalysis.dsirResample]],
    *     q153). The importance distributions are computed over the
    *     CURATED corpus — steering decides among survivors; it never
    *     resurrects a dropped duplicate.
    *
    * Order matters and is the production order: dedup first (a
    * 1000-copy boilerplate cluster must not dominate the DSIR source
    * distribution), quality second (junk must not hold a resampling
    * slot), steering last (it allocates the final token budget).
    *
    * Scale shape: the pair table is the expensive half and is the
    * SAME artifact [[nearDupFamily]] persists — a real deployment
    * passes `pairs` from the lake instead of re-deriving (the catalog
    * form q154 stays deliberately self-contained, like q74/q127).
    * Everything downstream is doc_id equi-joins plus the DSIR
    * broadcast-table aggregation; nothing scales past Σ tokens.
    * Output: (rnk, doc_id, n_tokens, avg_log_ratio) ordered by rnk.
    */
  def curatedSelection(docs: org.apache.spark.sql.DataFrame,
                       targetSource: String, k: Int,
                       n: Int = 3, minJ: Double = 0.5, maxDf: Int = 20,
                       pairs: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val pairTable = pairs.getOrElse(
      // unordered: every consumer below is set-semantics (CC canon,
      // keep-best groupBy, quality/DSIR joins) — the ordered form's
      // range sort would land inside the CC canon checkpoint
      graft.operators.Dedup.jaccardPairsCappedUnordered(docs, n, minJ, maxDf))
    // Deliberately LAZY end to end: the whole chain resolves into ONE
    // SQL execution at the consumer, so Catalyst's ReusedExchange
    // deduplicates the identical shared subtrees (`reps` under both
    // the survivor join and the quality features) — measured: pinning
    // reps/kept with materialize SPLIT the fused plan into extra
    // checkpoint actions and made q154 slower, exactly the q152
    // single-execution profile in reverse. The one shared subtree
    // ReusedExchange could NOT deduplicate — `kept`'s doc-bucket tf
    // frame, whose score-side source filter is pushed below the
    // aggregate and breaks exchange canonicalization — is pinned
    // inside dsirWeights itself (measured q154 6.79→6.16 s min). The
    // CC labels inside keepBestPerCluster are checkpoint-backed
    // already.
    val reps = graft.operators.Dedup.keepBestPerCluster(docs, pairTable, "n_chars")
      .select(col("rep_doc_id").as("doc_id"))
    val survivors = docs.join(reps, Seq("doc_id"))
    val kept = survivors.join(
      graft.operators.TextAnalysis.qualityLogit(survivors)
        .filter(col("keep") === 1).select(col("doc_id")), Seq("doc_id"))
    graft.operators.TextAnalysis.dsirResample(kept, targetSource, k)
  }
}
