package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import graft.sources.StateTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * EXACTLY-ONCE is keyed on the feed FILE. Every file carries its
  * content digest ([[StreamIds.fileBids]] — checkpoint-independent),
  * and the files one turn ingests form a GROUP whose id is the file's
  * own digest for one file, else a digest over its members. A group
  * commits in three steps: its member list (a multi-file group only,
  * one atomic rename under `_pairs_groups/`), then its state writes,
  * then its pairs directory `batch_<group id>` with Spark's _SUCCESS —
  * the commit point. A file is DONE iff a committed group lists it
  * (a one-file group lists its own digest), and a turn drops the rows
  * of done files, so a replay under any grouping neither duplicates
  * pairs nor — the subtler hazard — REWRITES a file's pairs against
  * state that later turns have since grown (the pair computation is
  * run-stable only against the state it originally saw). State writes
  * are the turn's own guards besides (signature appends
  * content-filtered, IVF appends key-filtered, DSIR cells stamped per
  * file). A torn group (member list, no _SUCCESS) is retried as a
  * whole: a turn that ingests any of its members ingests all of them,
  * so its history again excludes exactly the torn content.
  *
  * Scale shape: each micro-batch turn pays O(|batch|) work against
  * state reads (merge-on-read signature view, live IVF keys) exactly
  * as the batch turn does; nothing here adds a corpus-sized term the
  * batch path doesn't have. The pairs sink is a flat union of
  * per-group directories; at drain cadences that accumulate thousands
  * of them, [[compactPairs]] folds the directories into one versioned
  * base table WITHOUT losing the done-file markers (the folded groups
  * and their members move into a manifest the drain consults), so
  * listing cost stays flat across arbitrarily many drains.
  */
object TurnStream {

  /** Drain `docFeedDir` and `embFeedDir` (parquet arrival queues), running
    * one grow-only delta turn per micro-batch against the
    * signature/IVF state and writing each turn's emitted near-dup pairs
    * under `pairsOut/batch_<group id>/`. A micro-batch takes
    * `maxFilesPerTrigger` files; `None`, the default, takes every file
    * present when the drain starts, so a drain over a backlog runs one
    * turn per feed. Doc and embedding turns touch disjoint state tiers,
    * so the two drains compose in either order.
    *
    * GROUPING: every exactly-once guard is keyed on the feed FILE's
    * content digest (see the object doc), so a re-drain through a FRESH
    * checkpoint is exact under ANY grouping — at any
    * `maxFilesPerTrigger`, before or after new files land, and over a
    * sink and DSIR state a one-file-per-batch drain wrote (a one-file
    * group's id, pairs directory, turn marker and DSIR stamp are the
    * file's own digest). Files already done are dropped from the turn;
    * two content-identical files in one micro-batch are ingested once.
    *
    * TIER CHANGES MID-FEED are safe: the replay skip is keyed PER
    * TIER, not per turn. A done file ran its turn — but only over the
    * tiers enabled THEN; if `dsirStatePath` or the
    * `bpeVocabPath`+`encodedPath` pair was added between drains, each
    * newly enabled tier answers "did I ingest this file?" from its own
    * state (the per-file DSIR stamps, the encoded table's live keys)
    * and a gap lands that tier's appends DIRECTLY — for a grow-only
    * delta over empty history the turn's opt-in tier writes reduce to
    * exactly those appends, and each is replay-idempotent. A
    * fresh-checkpoint re-drain after enabling a tier therefore
    * BACKFILLS it over the whole feed at the tier's own cost, not the
    * full turn's (tools/scaleprobe_r16_backfill.jsonl prices both).
    * The PAIRS write stays gated on the done set — pair emission is
    * run-stable only against the state the first run saw.
    *
    * `dsirStatePath` / the `bpeVocabPath`+`encodedPath` pair opt the
    * DSIR and encoded-corpus tiers into each DOC turn, exactly as in
    * the batch turn. The DSIR cells are counted per file and each
    * file's cells carry its own stamp `persist:stream:<file digest>:added`,
    * so the DSIR replay check and the backfill probe are decided per
    * file. Each turn's run identity is `stream:<group id>` — the
    * explicit-runId lane, not the derived one: a derived stamp mixes
    * the DSIR state's non-family bid context, so a file RE-DELIVERED
    * after later turns appended would derive a DIFFERENT stamp and
    * double-sum; content digests are delivery-independent.
    */
  def dailyTurns(spark: SparkSession, docFeedDir: String, embFeedDir: String,
                 sigStatePath: String, ivfPath: String,
                 pairsOut: String, checkpointBase: String,
                 n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                 minJ: Double = 0.5,
                 maxFilesPerTrigger: Option[Int] = None,
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
    // the turn skip the absent tiers' state loads and zero-row append
    // jobs outright — the micro-batch job-wave constant is the
    // dominant cost here. An emptyRDD frame is runtime-empty but
    // statically opaque, so every one of those jobs would still launch.
    def emptyDocs = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), docSchema)
    def emptyEmb = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), embSchema)

    // the done set and torn groups, read ONCE per drain — compaction
    // never runs mid-drain (single writer per pairs sink, as everywhere
    // in this tier) and files only ever become done, so the snapshot
    // plus this drain's own commits is exact
    val ledger = new Ledger(spark, pairsOut)

    // the vocab artifact is frozen by contract: collect it once per
    // drain (the same amortization EncodeStream does) and hand it to
    // every turn, instead of three driver jobs per micro-batch
    val bpeArt = bpeVocabPath.map(vp =>
      graft.operators.TextAnalysis.loadBpeVocabArtifact(spark, vp))
    // pre-drain DSIR state summary — read ONCE per drain (lazily: a
    // drain with no DSIR tier never pays it), then maintained
    // DRIVER-SIDE: this drain is the single writer to the state root
    // (the tier's standing contract), and every append it performs
    // lands stamps that are a deterministic function of the files
    // (`persist:stream:<file digest>:added`), so adding them to
    // `drainBids` after each append keeps the replay check EXACT
    // without a per-turn state read. A file whose rows produce zero
    // cells lands no stamp but IS added here — the later skip it
    // causes would have appended zero rows anyway. The set dies with
    // the process; a fresh drain re-reads state, so crash-resume
    // semantics are unchanged.
    lazy val preDrainDsirSummary: (Int, Int, Set[String]) =
      graft.operators.TextAnalysis.dsirStateSummary(spark, dsirStatePath.get)
    var drainBids: Set[String] = Set.empty // stamps THIS drain appended
    def dsirStamp(digest: String) = s"persist:stream:$digest:added"

    def stream(schema: StructType, dir: String): DataFrame = {
      val r = spark.readStream.schema(schema)
      StreamIds.withFile(
        maxFilesPerTrigger.fold(r)(m => r.option("maxFilesPerTrigger", m.toLong)).parquet(dir))
    }

    // the embedding drain runs CONCURRENTLY with the doc drain below
    // (guide §2.6 — overlap independent jobs): the two touch disjoint
    // state tiers (docs: signatures/DSIR/encoded; embeddings: IVF) and
    // the scaladoc's compose-in-either-order property is exactly
    // independence, so the emb drain's job waves back-fill the cores
    // the doc drain's tail leaves idle instead of adding their
    // wall-clock afterwards. Shared structures are thread-safe: the
    // ledger's done set is concurrent, `preDrainDsirSummary` is a
    // synchronized lazy val, `drainBids` is touched only by the doc
    // drain, and the two write disjoint batch_<group id> dirs.
    @volatile var embFailure: Option[Throwable] = None
    val embDrain = new Thread(() => {
      try EventStream.runForeachBatch(stream(embSchema, embFeedDir), s"$checkpointBase/embs") {
        (batch, _) =>
          spark.sparkContext.setJobDescription("turnstream: emb batch digest")
          val a = ledger.arrivals(batch, StreamIds.embFp, embSchema)
          if (a.live.nonEmpty) {
            ledger.begin(a)
            val turn = graft.Pipelines.dailyIncrementalDelta(spark,
              emptyDocs, emptyDocs, emptyEmb, a.rows(a.live),
              sigStatePath, ivfPath, n, numHashes, bands, minJ)
            // an embedding turn emits no pairs; the empty write is still
            // the group's commit point
            spark.sparkContext.setJobDescription("turnstream: pairs marker (emb)")
            ledger.commit(a, turn("dedup_pairs_raw"))
          }
          spark.sparkContext.setJobDescription(null)
      } catch { case t: Throwable => embFailure = Some(t) }
    }, "graft-emb-drain")
    embDrain.start()

    try EventStream.runForeachBatch(stream(docSchema, docFeedDir), s"$checkpointBase/docs") {
      (batch, _) =>
        spark.sparkContext.setJobDescription("turnstream: doc batch digest")
        val a = ledger.arrivals(batch, StreamIds.docFp, docSchema)
        val done = a.files.keySet -- a.live
        ledger.begin(a)
        // DSIR: one append over every file whose stamp the state lacks —
        // the live files' first ingest and, for done files, a tier
        // enabled since their turn ran. Cells are counted per (file,
        // bucket), each file's stamped with its own digest.
        for (dp <- dsirStatePath) {
          val (nb, ng, bids) = preDrainDsirSummary
          val need = a.files.keySet.filterNot(d => bids(dsirStamp(d)) || drainBids(dsirStamp(d)))
          if (need.nonEmpty) {
            graft.operators.TextAnalysis.persistDsirStateByBatch(
              a.rowsByFile(need).withColumn("_bid",
                concat(lit("stream:"), col(Arrivals.DigestCol), lit(":added"))),
              "_bid", dsirTargetSource, dp, nb, ng)
            drainBids ++= need.map(dsirStamp)
          }
        }
        // encoded backfill for done files: a key anti-join of their
        // doc_ids against the live view (column-pruned scans), and a gap
        // lands the encoded append DIRECTLY. Re-running their whole turn
        // instead would drag the always-on sig/IVF machinery through
        // per-batch work that cancels by content/key, measured 12.6× a
        // one-shot state rebuild (tools/scaleprobe_r16_backfill.jsonl
        // pre-fix arm). A first drain has no done files and pays zero.
        for (ep <- encodedPath if done.nonEmpty) {
          val doneRows = a.rows(done)
          // gap probe through deltaAntiState: past broadcastable state
          // the plain anti built on the state side and exchanged the
          // full encoded-key table just to ask "is anything missing"
          val gap = !graft.operators.Dedup.deltaAntiState(
            doneRows.select("doc_id").distinct(),
            graft.operators.TextAnalysis.loadEncodedCorpus(spark, ep)
              .select("doc_id"), Seq("doc_id")).isEmpty
          if (gap)
            graft.operators.TextAnalysis.appendEncodedDocsWith(doneRows, spark, bpeArt.get, ep)
        }
        if (a.live.nonEmpty) {
          val turn = graft.Pipelines.dailyIncrementalDelta(spark,
            emptyDocs, a.rows(a.live), emptyEmb, emptyEmb,
            sigStatePath, ivfPath, n, numHashes, bands, minJ,
            runId = Some(s"stream:${a.groupId}"),
            bpeVocabPath = bpeVocabPath, encodedPath = encodedPath,
            bpeArtifact = bpeArt)
          spark.sparkContext.setJobDescription("turnstream: pairs emission")
          ledger.commit(a, turn("dedup_pairs_raw"))
        }
        spark.sparkContext.setJobDescription(null)
    } finally embDrain.join()
    embFailure.foreach(throw _)
  }

  /** One micro-batch's feed files by content digest. `files` maps each
    * digest to one file holding it (content-identical copies collapse;
    * a torn group's members outside the micro-batch are included);
    * `live` holds the digests no committed group lists yet, which this
    * batch's turn ingests as one group.
    */
  private final class Arrivals(batch: DataFrame, schema: StructType, batchPaths: Set[String],
                               val files: Map[String, String], val live: Set[String]) {
    def groupId: String = StreamIds.groupBid(live)

    /** Rows of the files with the given digests. */
    def rows(digests: Set[String]): DataFrame = parts(digests, tag = false)

    /** [[rows]] plus each row's file digest in [[Arrivals.DigestCol]]. */
    def rowsByFile(digests: Set[String]): DataFrame = parts(digests, tag = true)

    private def parts(digests: Set[String], tag: Boolean): DataFrame = {
      val byPath = digests.map(d => files(d) -> d).toMap
      val path = col(StreamIds.FileCol)
      val (inBatch, extra) = byPath.keySet.partition(batchPaths)
      val fromBatch =
        if (inBatch == batchPaths) Some(batch)
        else if (inBatch.isEmpty) None
        else Some(batch.filter(path.isin(inBatch.toSeq: _*)))
      val fromTorn =
        if (extra.isEmpty) None
        else Some(StreamIds.withFile(batch.sparkSession.read.schema(schema)
          .parquet(extra.toSeq.map(p => new Path(new java.net.URI(p)).toString): _*)))
      val all = (fromBatch ++ fromTorn).reduce(_ unionByName _)
      (if (tag) all.withColumn(Arrivals.DigestCol, element_at(typedLit(byPath), path)) else all)
        .drop(StreamIds.FileCol)
    }
  }

  private object Arrivals {
    val DigestCol = "_file_digest"
  }

  /** The pairs sink's commit ledger for one drain: which feed files are
    * done (a committed group lists them) and the member lists of torn
    * groups, read once at drain start and grown by the drain's own
    * commits. Thread-safe: the doc and embedding drains share it.
    */
  private final class Ledger(spark: SparkSession, pairsOut: String) {
    private val fs = new Path(pairsOut).getFileSystem(spark.sparkContext.hadoopConfiguration)
    private val groupsDir = new Path(s"$pairsOut/$GroupsDir")
    private val done = ConcurrentHashMap.newKeySet[String]()
    // uncommitted member lists: group id -> (member digest -> file path)
    private val torn: Map[String, Map[String, String]] = {
      val m = latestPairsManifest(spark, pairsOut)
      val lists = readMemberLists(fs, groupsDir)
      val committed = m.groups.keySet ++ liveBatchDirs(fs, pairsOut).map(groupIdOf)
      for (g <- committed)
        m.groups.get(g).filter(_.nonEmpty).orElse(lists.get(g).map(_.keys.toSeq))
          .getOrElse(Seq(g)).foreach(done.add)
      lists -- committed
    }

    /** Digest the micro-batch's files (one aggregate job) and pick the
      * files its turn ingests: those not done, one per content, plus
      * every other member of a torn group any of them belongs to.
      */
    def arrivals(batch: DataFrame, fp: Seq[org.apache.spark.sql.Column],
                 schema: StructType): Arrivals = {
      val byPath = StreamIds.fileBids(batch, fp)
      var files = byPath.groupBy(_._2).map { case (d, ps) => d -> ps.keys.min }
      var live = files.keySet.filterNot(done.contains)
      var ext = Map.empty[String, String]
      do {
        ext = torn.values.filter(_.keySet.exists(live)).flatten.toMap
          .filter { case (d, _) => !live(d) && !done.contains(d) }
        live ++= ext.keySet
        files = ext ++ files
      } while (ext.nonEmpty)
      new Arrivals(batch, schema, byPath.keySet, files, live)
    }

    /** Step 1 of a group's commit: publish a multi-file group's member
      * list (digest and file of each member) with one atomic rename. */
    def begin(a: Arrivals): Unit =
      if (a.live.size > 1) {
        val dst = new Path(groupsDir, a.groupId)
        if (!fs.exists(dst)) {
          fs.mkdirs(groupsDir)
          val tmp = new Path(groupsDir, a.groupId + "~tmp")
          val out = fs.create(tmp, true)
          try out.write(a.live.toSeq.sorted.map(d => s"$d\t${a.files(d)}").mkString("\n")
            .getBytes("UTF-8"))
          finally out.close()
          require(fs.rename(tmp, dst) || fs.exists(dst), s"member list rename failed for $dst")
        }
      }

    /** Step 3, after the group's state writes: its pairs directory with
      * _SUCCESS, the commit point. */
    def commit(a: Arrivals, pairs: DataFrame): Unit = {
      pairs.write.mode("overwrite").parquet(s"$pairsOut/batch_${a.groupId}")
      a.live.foreach(done.add)
    }
  }

  /** The pairs sink's declared schema — the contract every batch
    * directory and the compacted base share, so all-empty directories
    * can't break inference.
    */
  private val PairsSchema = "doc_a BIGINT, doc_b BIGINT, est_jaccard DOUBLE"

  /** Where multi-file groups' member lists live, one file per group. */
  private val GroupsDir = "_pairs_groups"

  private def groupIdOf(dir: Path): String = dir.getName.stripPrefix("batch_")

  /** The `batch_*` directories under `pairsOut` that carry _SUCCESS — a
    * directory without it is a TORN write (its turn crashed mid-write
    * and will re-run it), never read nor folded. */
  private def liveBatchDirs(fs: org.apache.hadoop.fs.FileSystem, pairsOut: String): Seq[Path] = {
    val root = new Path(pairsOut)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_"))
      .map(_.getPath)
      .filter(p => fs.exists(new Path(p, "_SUCCESS")))
  }

  /** Member lists under `dir`: group id -> (member digest -> file). */
  private def readMemberLists(fs: org.apache.hadoop.fs.FileSystem,
                              dir: Path): Map[String, Map[String, String]] =
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq.filter(s => s.isFile && !s.getPath.getName.endsWith("~tmp"))
      .map { s =>
        val in = fs.open(s.getPath)
        val lines = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        s.getPath.getName -> lines.split("\n").filter(_.nonEmpty).map { l =>
          val Array(d, p) = l.split("\t", 2)
          d -> p
        }.toMap
      }.toMap

  /** The pairs sink's compaction state: `version` of the newest
    * manifest (0 = never compacted), the compacted `base` table's
    * path if any, and the groups whose directories were folded into
    * it, each with its member file digests (empty for a one-file
    * group, whose id is its file's digest) — the done files
    * [[dailyTurns]] consults once the _SUCCESS marker is gone.
    */
  private[graft] case class PairsManifest(
      version: Long, base: Option[String], groups: Map[String, Seq[String]])

  /** Newest manifest under `pairsOut/_pairs_manifest` (readers pick
    * the max version, so base-table swap and group handoff are one
    * atomic step: the single manifest-file rename). Lines after the
    * base are `<group id> [<member digest> ...]`; a one-token line (the
    * only form older sinks wrote) is a one-file group. Never-compacted
    * sinks return the empty manifest and everything behaves as before
    * compaction existed.
    */
  private[graft] def latestPairsManifest(spark: SparkSession,
                                             pairsOut: String): PairsManifest = {
    val dir = new Path(s"$pairsOut/_pairs_manifest")
    StateTable.readManifest(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir) match {
      case Some((v, lines)) => PairsManifest(v, Some(s"$pairsOut/${lines.head}"),
        lines.tail.map { l =>
          val ts = l.split(" ").toSeq
          ts.head -> ts.tail
        }.toMap)
      case None => PairsManifest(0L, None, Map.empty)
    }
  }

  /** Fold the accumulated per-group pair directories into ONE
    * compacted base table without losing the done-file markers —
    * the small-file/listing fix for feeds whose drain cadence
    * accumulates thousands of `batch_*` directories (the same problem
    * [[graft.sources.Sinks.compact]] solves for lake tables, with
    * one extra constraint: each directory's _SUCCESS doubles as its
    * group's commit marker, so deleting it must move the group and its
    * member digests into a manifest the drain still consults). The
    * manifest files are [[graft.sources.StateTable]]'s versioned
    * manifests; the group lines are this sink's own payload.
    *
    * Protocol (single writer per pairs sink, crash-safe at every
    * step): write the new base `_pairs_base/v<N+1>` = old base ∪ the
    * foldable directories (those carrying _SUCCESS — a torn write's
    * directory has no marker and is left for its turn's retry); then
    * atomically rename `_pairs_manifest/v<N+1>.manifest` into place
    * (first line the base's relative path, one folded group per
    * line); then garbage-collect the folded directories and member
    * lists, the old base, and older manifests. Readers pick the newest
    * manifest, so every crash window shows a consistent view: before
    * the rename they see the old base + all live directories; after it
    * they see the new base and IGNORE still-undeleted folded
    * directories (their groups are in the manifest) — never both
    * copies of a pair, never a lost marker. A re-run after any crash
    * converges: leftover bases are overwritten, leftovers re-GC'd.
    *
    * Idempotent: with nothing new to fold it only re-runs the GC.
    */
  def compactPairs(spark: SparkSession, pairsOut: String,
                   targetFileMb: Int = 256): Unit = {
    val root = new Path(pairsOut)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"pairs sink $pairsOut does not exist")
    val m = latestPairsManifest(spark, pairsOut)
    val groupsDir = new Path(s"$pairsOut/$GroupsDir")
    val fold = liveBatchDirs(fs, pairsOut).filter(p => !m.groups.contains(groupIdOf(p)))
    if (fold.nonEmpty) {
      val next = m.version + 1
      val newBaseRel = s"_pairs_base/v$next"
      val newBase = new Path(s"$pairsOut/$newBaseRel")
      fs.delete(newBase, true) // a prior crash's leftover
      val srcs = m.base.toSeq ++ fold.map(_.toString)
      val bytes = srcs.map(p => fs.getContentSummary(new Path(p)).getLength).sum
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
      val lists = readMemberLists(fs, groupsDir)
      val groups = m.groups ++ fold.map(groupIdOf).map(g =>
        g -> lists.get(g).fold(Seq.empty[String])(_.keys.toSeq.sorted))
      StateTable.writeManifest(fs, new Path(s"$pairsOut/_pairs_manifest"),
        next, newBaseRel +: groups.toSeq.sortBy(_._1).map { case (g, ms) => (g +: ms).mkString(" ") })
    }
    // GC against the NOW-current manifest (idempotent: a crashed prior
    // compaction's debris is re-collected here)
    val cur = latestPairsManifest(spark, pairsOut)
    for (s <- fs.listStatus(root)
         if s.getPath.getName.startsWith("batch_") && cur.groups.contains(groupIdOf(s.getPath)))
      fs.delete(s.getPath, true)
    // a member list's temp file is a crashed `begin`'s debris (no drain
    // runs during compaction); a torn group's list stays for its retry
    if (fs.exists(groupsDir)) {
      for (s <- fs.listStatus(groupsDir)
           if cur.groups.contains(s.getPath.getName) || s.getPath.getName.endsWith("~tmp"))
        fs.delete(s.getPath, true)
      if (fs.listStatus(groupsDir).isEmpty) fs.delete(groupsDir, true)
    }
    val baseRoot = new Path(s"$pairsOut/_pairs_base")
    if (fs.exists(baseRoot))
      for (b <- fs.listStatus(baseRoot)
           if !cur.base.contains(s"$pairsOut/_pairs_base/${b.getPath.getName}"))
        fs.delete(b.getPath, true)
    StateTable.gcManifests(fs, new Path(s"$pairsOut/_pairs_manifest"), cur.version)
  }

  /** The accumulated pair emissions of a [[dailyTurns]] drain, in the
    * oracle's (doc_a, doc_b) order: the compacted base (if
    * [[compactPairs]] ever ran) plus every committed group directory
    * the manifest hasn't folded. Schema is declared (the sink's
    * contract) so all-empty directories can't break inference.
    */
  def emittedPairs(spark: SparkSession, pairsOut: String): DataFrame = {
    val m = latestPairsManifest(spark, pairsOut)
    val fs = new Path(pairsOut).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = liveBatchDirs(fs, pairsOut).filter(p => !m.groups.contains(groupIdOf(p)))
    val paths = m.base.toSeq ++ live.map(_.toString)
    val df =
      if (paths.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(PairsSchema))
      else spark.read.schema(PairsSchema).parquet(paths: _*)
    df.orderBy(col("doc_a"), col("doc_b"))
  }
}
