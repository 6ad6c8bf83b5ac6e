package graft.streaming

import graft.sources.StateTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The STREAM-FED daily turn — the actual CDC deployment the per-tier
  * fronts (DsirStream/VectorStream/EncodeStream) and the delta-fed
  * turn ([[graft.Pipelines.dailyIncrementalDelta]]) compose into:
  * arrivals land on a queue directory, each micro-batch runs one
  * delta turn against the persisted state tiers, and N micro-batch
  * turns must be indistinguishable from one batch turn over the whole
  * feed.
  *
  * WHY the composition is exact (grow-only): the signature tier's
  * incremental dedup reads persisted state as history and appends the
  * batch (today's micro-batch is the next micro-batch's history), so
  * a cross-batch near-dup pair is emitted exactly once — by the turn
  * of its LATER-arriving endpoint, the same turn that would emit it
  * in the one-shot run. Within-batch pairs are emitted by their own
  * turn. The IVF appends are per-vector rows against frozen
  * centroids, order-independent by construction. Hence the union of
  * the per-turn pair frames equals the one-shot turn's frame — q151's
  * grow-only oracle verbatim (q184).
  *
  * EXACTLY-ONCE: state writes are the turn's own guards (signature
  * appends content-filtered, IVF appends key-filtered — a re-delivered
  * micro-batch turn is a state no-op, q167's property under streaming
  * delivery). The emitted-pairs SINK needs its own guard: each turn
  * writes its pairs to a per-batch directory named by the batch's
  * content digest ([[StreamIds]] — checkpoint-independent), and a
  * directory already carrying Spark's _SUCCESS marker — or a digest
  * [[compactPairs]] has folded into the manifest — is skipped, so
  * a replay neither duplicates pairs nor — the subtler hazard —
  * REWRITES an early batch's pairs against state that later batches
  * have since grown (the pair computation is run-stable only against
  * the state it originally saw). A torn first write (no _SUCCESS) is
  * overwritten by the retry.
  *
  * Scale shape: each micro-batch turn pays O(|batch|) work against
  * state reads (merge-on-read signature view, live IVF keys) exactly
  * as the batch turn does; nothing here adds a corpus-sized term the
  * batch path doesn't have. The pairs sink is a flat union of
  * per-batch directories; at drain cadences that accumulate thousands
  * of them, [[compactPairs]] folds the batch directories into one
  * versioned base table WITHOUT losing the replay-skip markers (the
  * folded digests move into a manifest the skip consults), so listing
  * cost stays flat across arbitrarily many drains.
  */
object TurnStream {

  /** Drain `docFeedDir` then `embFeedDir` (parquet arrival queues) in
    * `maxFilesPerTrigger`-file micro-batches, running one grow-only
    * delta turn per batch against the signature/IVF state and writing
    * each turn's emitted near-dup pairs under
    * `pairsOut/batch_<content-digest>/`. Doc and embedding turns touch
    * disjoint state tiers, so the two drains compose in either order.
    *
    * GROUPING CAVEAT (same as [[DsirStream]]'s): every exactly-once
    * guard here is keyed on the micro-BATCH's content digest, so
    * re-drains through a FRESH checkpoint are exact iff file-to-batch
    * grouping is stable — guaranteed at `maxFilesPerTrigger = 1` (the
    * default: one file, one batch, one digest), NOT under multi-file
    * grouping, where a regrouped re-drain derives new digests that
    * miss both the pairs markers (duplicate pair emission) and the
    * DSIR bid stamps (double-summed counts). Keep the default whenever
    * state or the pairs sink outlives its checkpoint; raise it only
    * for latency tuning within one checkpoint's lifetime.
    *
    * TIER CHANGES MID-FEED are safe: the replay skip is keyed PER
    * TIER, not per turn. A batch whose pairs marker exists already ran
    * its turn — but only over the tiers enabled THEN; if
    * `dsirStatePath` or the `bpeVocabPath`+`encodedPath` pair was
    * added between drains, each newly enabled tier answers "did I
    * ingest this batch?" from its own state (the DSIR bid stamps, the
    * encoded table's live keys) and a gap lands that tier's appends
    * DIRECTLY — for a grow-only delta over empty history the turn's
    * opt-in tier writes reduce to exactly those appends, and each is
    * replay-idempotent (DSIR bid stamp, encoded key+content filter).
    * A fresh-checkpoint re-drain after enabling a tier therefore
    * BACKFILLS it over the whole feed at the tier's own cost, not the
    * full turn's (tools/scaleprobe_r16_backfill.jsonl prices both).
    * The PAIRS write stays gated on the marker — pair emission is
    * run-stable only against the state the first run saw.
    *
    * `dsirStatePath` / the `bpeVocabPath`+`encodedPath` pair opt the
    * DSIR and encoded-corpus tiers into each DOC turn, exactly as in
    * the batch turn. Each turn's run identity is its batch's CONTENT
    * digest — the explicit-runId lane, not the derived one, which
    * matters specifically here: a derived stamp mixes the DSIR state's
    * non-family bid context, so a micro-batch RE-DELIVERED after later
    * batches appended would derive a DIFFERENT stamp and double-sum;
    * the content digest is delivery-independent, so a replay skips no
    * matter how much state grew in between (the stream shape closes
    * the mixed-deployment hazard the batch path documents).
    */
  def dailyTurns(spark: SparkSession, docFeedDir: String, embFeedDir: String,
                 sigStatePath: String, ivfPath: String,
                 pairsOut: String, checkpointBase: String,
                 n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                 minJ: Double = 0.5,
                 maxFilesPerTrigger: Int = 1,
                 dsirStatePath: Option[String] = None,
                 dsirTargetSource: String = "src0",
                 bpeVocabPath: Option[String] = None,
                 encodedPath: Option[String] = None): Unit = {
    // mirror dailyIncrementalDelta's pair-check BEFORE any state
    // mutation: the backfill branch reaches for the vocab artifact
    // directly, and an unpaired encodedPath would otherwise surface as
    // a bare NoSuchElementException AFTER a DSIR append already landed
    require(bpeVocabPath.isDefined == encodedPath.isDefined,
      "bpeVocabPath and encodedPath come as a pair (the encoded state is " +
        "meaningless without the artifact that defines its ids)")
    val docSchema = spark.read.parquet(docFeedDir).schema
    val embSchema = spark.read.parquet(embFeedDir).schema
    // LocalRelation empties, NOT emptyRDD-backed frames: the optimizer
    // can PROVE a LocalRelation empty (PropagateEmptyRelation), which
    // collapses the turn's snapshot-diff full-outer join against the
    // absent delta side into a projection of the present side and lets
    // the turn skip the absent tiers' zero-row append jobs outright —
    // the micro-batch job-wave constant is the dominant cost here. An
    // emptyRDD frame is runtime-empty but statically opaque, so every
    // one of those jobs would still launch.
    def emptyDocs = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), docSchema)
    def emptyEmb = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), embSchema)

    // replay-skip marker, two lanes: a live batch directory's _SUCCESS,
    // or (after compactPairs folded the directory away) the digest in
    // the manifest. The manifest is read once per drain — compaction
    // never runs mid-drain (single writer per pairs sink, as everywhere
    // in this tier) and digests only ever move INTO it, so the
    // snapshot cannot un-mark a batch.
    lazy val compactedBids: Set[String] = latestPairsManifest(spark, pairsOut).bids
    def pairsDone(dir: org.apache.hadoop.fs.Path): Boolean = {
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")) ||
        compactedBids.contains(dir.getName.stripPrefix("batch_"))
    }

    // the vocab artifact is frozen by contract: collect it once per
    // drain (the same amortization EncodeStream does) and hand it to
    // every turn, instead of three driver jobs per micro-batch
    val bpeArt = bpeVocabPath.map(vp =>
      graft.operators.TextAnalysis.loadBpeVocabArtifact(spark, vp))
    // pre-drain DSIR state summary — read ONCE per drain (lazily: a
    // drain with no DSIR tier never pays it), then maintained
    // DRIVER-SIDE: this drain is the single writer to the state root
    // (the tier's standing contract), and every append it performs
    // lands a bid that is a deterministic function of the turn
    // (`persist:stream:<digest>:added`), so adding that bid to the
    // accumulated set after each append keeps the snapshot EXACT
    // without a per-turn state read (VERDICT r20 item 1: the per-turn
    // dsirStateSummary was one driver action per doc micro-batch).
    // The summary serves three consumers: the turn's own (nb, ng)
    // params + replay-check set (via dsirKnownState), the marked-batch
    // gap probe, and the backfill appends' knownBids. A bid whose
    // batch produced zero cells never lands in state but IS added
    // here — the later skip it causes would have appended zero rows
    // anyway. The set dies with the process; a fresh drain re-reads
    // state, so crash-resume semantics are unchanged.
    lazy val preDrainDsirSummary: (Int, Int, Set[String]) =
      dsirStatePath.map(dp =>
        graft.operators.TextAnalysis.dsirStateSummary(spark, dp))
        .getOrElse((0, 0, Set.empty))
    var drainBids: Set[String] = Set.empty // bids THIS drain appended
    def dsirKnown: Option[(Int, Int, Set[String])] =
      dsirStatePath.map { _ =>
        val (nb, ng, bids) = preDrainDsirSummary
        (nb, ng, bids ++ drainBids)
      }

    // the embedding drain runs CONCURRENTLY with the doc drain below
    // (guide §2.6 — overlap independent jobs): the two touch disjoint
    // state tiers (docs: signatures/DSIR/encoded; embeddings: IVF) and
    // the scaladoc's compose-in-either-order property is exactly
    // independence, so the emb drain's micro-batch job waves back-fill
    // the cores the doc drain's tail leaves idle instead of adding
    // their wall-clock afterwards. Shared structures are thread-safe:
    // `compactedBids`/`preDrainDsirSummary` are synchronized lazy
    // vals, `drainBids` is mutated only by the doc drain, and the two
    // write disjoint batch_<digest> dirs under the pairs sink.
    val embStream = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(embFeedDir)
    @volatile var embFailure: Option[Throwable] = None
    val embDrain = new Thread(() => {
      try EventStream.runForeachBatch(embStream, s"$checkpointBase/embs") { (batch, _) =>
        spark.sparkContext.setJobDescription("turnstream: emb batch digest")
        val dir = new org.apache.hadoop.fs.Path(
          s"$pairsOut/batch_${StreamIds.embBid(batch)}")
        if (!pairsDone(dir)) {
          val turn = graft.Pipelines.dailyIncrementalDelta(spark,
            emptyDocs, emptyDocs, emptyEmb, batch,
            sigStatePath, ivfPath, n, numHashes, bands, minJ)
          // an embedding turn emits no pairs; the empty write is still
          // the turn's exactly-once marker
          spark.sparkContext.setJobDescription("turnstream: pairs marker (emb)")
          turn("dedup_pairs_raw").write.mode("overwrite").parquet(dir.toString)
          spark.sparkContext.setJobDescription(null)
        }
      } catch { case t: Throwable => embFailure = Some(t) }
    }, "graft-emb-drain")
    embDrain.start()

    val docStream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(docFeedDir)
    try EventStream.runForeachBatch(docStream, s"$checkpointBase/docs") { (batch, _) =>
      spark.sparkContext.setJobDescription("turnstream: doc batch digest")
      val bid = StreamIds.docBid(batch)
      val dir = new org.apache.hadoop.fs.Path(s"$pairsOut/batch_$bid")
      val marked = pairsDone(dir)
      if (!marked) {
        val turn = graft.Pipelines.dailyIncrementalDelta(spark,
          emptyDocs, batch, emptyEmb, emptyEmb,
          sigStatePath, ivfPath, n, numHashes, bands, minJ,
          dsirStatePath = dsirStatePath, dsirTargetSource = dsirTargetSource,
          runId = Some(s"stream:$bid"),
          bpeVocabPath = bpeVocabPath, encodedPath = encodedPath,
          bpeArtifact = bpeArt,
          dsirKnownState = dsirKnown)
        spark.sparkContext.setJobDescription("turnstream: pairs emission")
        turn("dedup_pairs_raw").write.mode("overwrite").parquet(dir.toString)
        spark.sparkContext.setJobDescription(null)
        // record the turn's DSIR append in the driver-side snapshot
        // (grow-only turn, explicit runId → exactly this one bid)
        if (dsirStatePath.isDefined)
          drainBids += s"persist:stream:$bid:added"
      } else {
        // the marker says this batch's turn ran — over the tiers
        // enabled THEN. A tier enabled since (config change between
        // drains) has never seen this content: each opt-in tier
        // answers "did I ingest this batch?" from its own state (the
        // DSIR check from the drain-accumulated bid snapshot, a set
        // lookup here; the encoded check a key anti-join of the batch
        // against the live view — the batch's own column-pruned
        // doc_id scan), and a gap lands the GAPPED TIER'S APPENDS
        // DIRECTLY. For a grow-only delta over empty history the
        // turn's opt-in tier writes reduce to exactly these two
        // appends — re-running the whole turn instead would drag the
        // always-on sig/IVF machinery through per-batch work that
        // cancels by content/key, measured 12.6× a one-shot state
        // rebuild (tools/scaleprobe_r16_backfill.jsonl pre-fix arm).
        // Both probes fire only on already-marked batches, so a
        // normal first drain pays zero. No pairs write either way:
        // the marker already holds the first run's emission.
        // Stored bids carry the appendDsirCells operation qualifier:
        // a grow-only stream turn's append lands as
        // "persist:stream:<digest>:added".
        val knownDsirBids = dsirKnown.map(_._3)
        val needDsir = dsirStatePath.isDefined &&
          !knownDsirBids.exists(_.exists(_.startsWith(s"persist:stream:$bid:")))
        if (needDsir) {
          val (nb, ng, _) = preDrainDsirSummary
          // knownBids IS the replay authority here: the snapshot is the
          // pre-drain read PLUS every bid this drain appended (tracked
          // driver-side at both append sites), and this drain is the
          // single writer — so unlike the old stale pre-drain-only
          // snapshot, handing it to the append cannot double-sum; it
          // only removes the per-append fresh-state read.
          graft.operators.TextAnalysis.persistDsirState(batch,
            dsirTargetSource, dsirStatePath.get, nb, ng,
            batchId = s"stream:$bid:added", knownBids = knownDsirBids)
          drainBids += s"persist:stream:$bid:added"
        }
        val needEnc = encodedPath.exists { ep =>
          // gap probe through deltaAntiState: past broadcastable state
          // the plain anti built on the state side and exchanged the
          // full encoded-key table just to ask "is anything missing"
          !graft.operators.Dedup.deltaAntiState(
            batch.select("doc_id").distinct(),
            graft.operators.TextAnalysis.loadEncodedCorpus(spark, ep)
              .select("doc_id"), Seq("doc_id")).isEmpty
        }
        for (ep <- encodedPath if needEnc)
          graft.operators.TextAnalysis.appendEncodedDocsWith(
            batch, spark, bpeArt.get, ep)
      }
    } finally embDrain.join()
    embFailure.foreach(throw _)
  }

  /** The pairs sink's declared schema — the contract every batch
    * directory and the compacted base share, so all-empty directories
    * can't break inference.
    */
  private val PairsSchema = "doc_a BIGINT, doc_b BIGINT, est_jaccard DOUBLE"

  /** The pairs sink's compaction state: `version` of the newest
    * manifest (0 = never compacted), the compacted `base` table's
    * path if any, and the batch digests whose directories were folded
    * into it — the digests [[dailyTurns]]' replay skip consults when
    * the per-directory _SUCCESS marker is gone.
    */
  private[streaming] case class PairsManifest(
      version: Long, base: Option[String], bids: Set[String])

  /** Newest manifest under `pairsOut/_pairs_manifest` (readers pick
    * the max version, so base-table swap and digest handoff are one
    * atomic step: the single manifest-file rename). Never-compacted
    * sinks return the empty manifest and everything behaves as before
    * compaction existed.
    */
  private[streaming] def latestPairsManifest(spark: SparkSession,
                                             pairsOut: String): PairsManifest = {
    val dir = new org.apache.hadoop.fs.Path(s"$pairsOut/_pairs_manifest")
    StateTable.readManifest(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir) match {
      case Some((v, lines)) => PairsManifest(v, Some(s"$pairsOut/${lines.head}"), lines.tail.toSet)
      case None => PairsManifest(0L, None, Set.empty)
    }
  }

  /** Fold the accumulated per-batch pair directories into ONE
    * compacted base table without losing the replay-skip markers —
    * the small-file/listing fix for feeds whose drain cadence
    * accumulates thousands of `batch_*` directories (the same problem
    * [[graft.sources.Sinks.compact]] solves for lake tables, with
    * one extra constraint: each directory's _SUCCESS doubles as its
    * batch's exactly-once marker, so deleting it must move the
    * batch's digest into a manifest the skip still consults). The
    * manifest files are [[graft.sources.StateTable]]'s versioned
    * manifests; the digest lines are this sink's own payload.
    *
    * Protocol (single writer per pairs sink, crash-safe at every
    * step): write the new base `_pairs_base/v<N+1>` = old base ∪ the
    * foldable directories (those carrying _SUCCESS — a torn write's
    * directory has no marker and is left for its turn's retry); then
    * atomically rename `_pairs_manifest/v<N+1>.manifest` into place
    * (first line the base's relative path, one folded digest per
    * line); then garbage-collect the folded directories, the old
    * base, and older manifests. Readers pick the newest manifest, so
    * every crash window shows a consistent view: before the rename
    * they see the old base + all live directories; after it they see
    * the new base and IGNORE still-undeleted folded directories
    * (their digests are in the manifest) — never both copies of a
    * pair, never a lost marker. A re-run after any crash converges:
    * leftover bases are overwritten, leftover directories re-GC'd.
    *
    * Idempotent: with nothing new to fold it only re-runs the GC.
    */
  def compactPairs(spark: SparkSession, pairsOut: String,
                   targetFileMb: Int = 256): Unit = {
    val root = new org.apache.hadoop.fs.Path(pairsOut)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"pairs sink $pairsOut does not exist")
    val m = latestPairsManifest(spark, pairsOut)
    def batchDirs() = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_"))
    val fold = batchDirs()
      .filter(s => !m.bids.contains(s.getPath.getName.stripPrefix("batch_")))
      .filter(s => fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
    if (fold.nonEmpty) {
      val next = m.version + 1
      val newBaseRel = s"_pairs_base/v$next"
      val newBase = new org.apache.hadoop.fs.Path(s"$pairsOut/$newBaseRel")
      fs.delete(newBase, true) // a prior crash's leftover
      val srcs = m.base.toSeq ++ fold.map(_.getPath.toString)
      val bytes = srcs.map(p =>
        fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength).sum
      val n = math.max(1,
        math.ceil(bytes.toDouble / (targetFileMb * 1024.0 * 1024.0)).toInt)
      // coalesce, not repartition: the fold's only job is fewer/bigger
      // files, and `n` is already sized from the measured source bytes
      // (~targetFileMb each), so merging read partitions in place
      // writes the same layout WITHOUT exchanging every pair byte —
      // at scale the repartition re-shuffled the full accumulated
      // sink on every compaction, and readers never see row order
      // anyway (emittedPairs re-sorts). n > source partitions is a
      // no-op coalesce, which is still the right write.
      spark.read.schema(PairsSchema).parquet(srcs: _*)
        .coalesce(n).write.parquet(newBase.toString)
      val bids = m.bids ++ fold.map(_.getPath.getName.stripPrefix("batch_"))
      StateTable.writeManifest(fs, new org.apache.hadoop.fs.Path(s"$pairsOut/_pairs_manifest"),
        next, newBaseRel +: bids.toSeq.sorted)
    }
    // GC against the NOW-current manifest (idempotent: a crashed prior
    // compaction's debris is re-collected here)
    val cur = latestPairsManifest(spark, pairsOut)
    for (d <- batchDirs()
         if cur.bids.contains(d.getPath.getName.stripPrefix("batch_")))
      fs.delete(d.getPath, true)
    val baseRoot = new org.apache.hadoop.fs.Path(s"$pairsOut/_pairs_base")
    if (fs.exists(baseRoot))
      for (b <- fs.listStatus(baseRoot)
           if !cur.base.contains(s"$pairsOut/_pairs_base/${b.getPath.getName}"))
        fs.delete(b.getPath, true)
    StateTable.gcManifests(fs, new org.apache.hadoop.fs.Path(s"$pairsOut/_pairs_manifest"),
      cur.version)
  }

  /** The accumulated pair emissions of a [[dailyTurns]] drain, in the
    * oracle's (doc_a, doc_b) order: the compacted base (if
    * [[compactPairs]] ever ran) plus every live batch directory whose
    * digest the manifest hasn't folded. Schema is declared (the
    * sink's contract) so all-empty batch directories can't break
    * inference.
    */
  def emittedPairs(spark: SparkSession, pairsOut: String): DataFrame = {
    val m = latestPairsManifest(spark, pairsOut)
    val root = new org.apache.hadoop.fs.Path(pairsOut)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_"))
        .filter(s => !m.bids.contains(s.getPath.getName.stripPrefix("batch_")))
        // a dir without _SUCCESS is a TORN write (its turn crashed
        // mid-write and will re-run it): unreadable-partial at worst,
        // and the same filter the fold applies — never read it
        .filter(s => fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
        .map(_.getPath.toString)
    val paths = m.base.toSeq ++ live
    val df =
      if (paths.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(PairsSchema))
      else spark.read.schema(PairsSchema).parquet(paths: _*)
    df.orderBy(col("doc_a"), col("doc_b"))
  }
}
