package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.operators.TextAnalysis
import graft.sources.StateTable

/** Streaming front of the DSIR distribution state: arriving documents
  * append their bucket counts micro-batch by micro-batch. The state is
  * CELL-ADDITIVE pure sums ([[graft.operators.TextAnalysis.persistDsirState]]),
  * so the drained state equals the one-shot append of the whole feed
  * under ANY arrival partitioning — the same order-independence the
  * KMV/CMS/centroid stream twins rely on (q139/q147/q148). Replay (a
  * batch whose checkpoint commit was lost) is a state no-op: each
  * micro-batch stamps an order-independent CONTENT digest of its own
  * rows as the batch identity, and a re-delivered digest is skipped by
  * the bid replay guard rather than double-summed.
  *
  * The content-derived bid — the same digest lane
  * [[graft.Pipelines.dailyIncremental]] uses for its derived run
  * identity — is what makes one state path safely shared by MORE THAN
  * ONE drain: foreachBatch's positional batch id is checkpoint-local
  * (every fresh checkpoint restarts at 0), so stamping the position
  * would make a second feed's batches collide with the first's and
  * silently vanish, while identical content re-delivered under a NEW
  * position (a re-drain of a grown feed regrouping old files) would
  * double-sum. Content digests invert both failure modes: same rows →
  * same bid → skip; different rows → different bid → append —
  * regardless of which checkpoint or feed dir delivered them. One
  * caveat rides the batch granularity: the digest identifies the
  * micro-BATCH, so re-drains through a fresh checkpoint are exact iff
  * file-to-batch grouping is stable — guaranteed at
  * `maxFilesPerTrigger = 1` (the default: one file, one batch, one
  * digest), not under multi-file grouping, where a regrouped re-drain
  * can split old content across new batch boundaries. Keep the default
  * when a state path outlives its checkpoint.
  *
  * MIGRATION NOTE: states drained by the pre-digest scheme carry
  * POSITIONAL bids (`stream:0`, `stream:1`, …) that no content digest
  * can ever match — a fresh-checkpoint re-drain of content those
  * drains already ingested will re-append (double-sum) rather than
  * skip. Such states keep growing correctly under NEW content; only
  * replays of old-drained content lose the guard.
  * [[migratePositionalBids]] rewrites the old stamps to content
  * digests in one atomic pass, restoring re-drain idempotence without
  * a state rebuild.
  */
object DsirStream {

  /** One-shot migration of a pre-digest state: rewrite every
    * positional `persist:stream:<N>` bid to the content digest the
    * current scheme would have stamped, so a fresh-checkpoint re-drain
    * of the already-ingested feed skips instead of double-summing.
    *
    * The batch→content mapping is reconstructed from the feed itself:
    * under the one-file-per-trigger default the old drain's batch N
    * was the feed's N-th file in the file stream's delivery order
    * (modification time, path-tiebroken), so each positional bid's
    * EMBEDDED batch number indexes its file directly — gaps in the
    * numbering (a zero-row file appends no cells and stamps no bid)
    * shift nothing. A wrong pairing WITHIN the ingested prefix (two
    * ingested files sharing one mtime and sorting differently than
    * the old listing) cannot corrupt: the replay guard is set
    * MEMBERSHIP of the digest, not which rows carry it, so any
    * permutation of the ingested files yields the same digest set.
    * Only the INGESTED-PREFIX BOUNDARY of a crashed drain is
    * order-sensitive — a tie straddling it could swap an ingested
    * file for an un-ingested one — so that one case is REFUSED
    * (rebuild the state) rather than guessed; a same-numbering
    * non-empty file sitting inside the prefix without a stamp is
    * likewise refused as numbering-inconsistent. Assumes the feed dir
    * is the one the old drain read, unmodified since (the standard
    * append-only arrival queue), and that the state was drained at
    * `maxFilesPerTrigger = 1` (the documented default for any state
    * outliving its checkpoint — a multi-file-grouped state cannot be
    * migrated file-wise; rebuild it). Idempotent: a state with no
    * positional bids returns without touching storage. The rewrite
    * commits a new generation ([[graft.sources.StateTable.commit]]), so
    * a crash leaves the state either unmigrated or migrated, and a
    * re-run converges.
    */
  def migratePositionalBids(spark: SparkSession, feedDir: String,
                            statePath: String): Unit = {
    import org.apache.spark.sql.functions._
    val positional = TextAnalysis.dsirCells(spark, statePath)
      .select(col("bid")).distinct().collect().map(_.getString(0))
      .filter(_.matches("persist:stream:\\d+"))
      .map(b => b.substring("persist:stream:".length).toLong -> b)
      .sortBy(_._1)
    if (positional.isEmpty) return
    val fd = new org.apache.hadoop.fs.Path(feedDir)
    val fs = fd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(fd).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .sortBy(s => (s.getModificationTime, s.getPath.toString))
    val maxBatch = positional.last._1
    require(files.length > maxBatch,
      s"state at $statePath carries a positional bid for batch $maxBatch " +
        s"but $feedDir holds only ${files.length} files — not the drained feed?")
    // crashed-drain boundary: files strictly past maxBatch were never
    // ingested. If the boundary itself is mtime-ambiguous, the
    // (mtime, path) order may disagree with the old delivery order
    // exactly where it matters — refuse rather than risk stamping an
    // un-ingested file (permanent skip) / leaving an ingested one
    // unstamped (double-sum).
    val boundary = maxBatch.toInt + 1
    require(boundary >= files.length ||
        files(boundary - 1).getModificationTime != files(boundary).getModificationTime,
      s"cannot migrate $statePath: the crashed drain's ingested-prefix boundary " +
        s"(file ${boundary - 1} -> ${boundary}) is modification-time-tied, so the " +
        "delivery order there is unrecoverable — rebuild the state instead")
    val schema = spark.read.parquet(feedDir).schema
    val stamped = positional.map(_._1).toSet
    // COUNT-CONSISTENCY check: the whole reconstruction assumes the
    // old drain ran at maxFilesPerTrigger = 1, and the operator cannot
    // verify that from the outside — a state drained at a larger
    // trigger stamps the same contiguous batch numbers 0..maxBatch, so
    // the numbering check below passes VACUOUSLY while files
    // maxBatch+1.. (ingested as parts of grouped batches) would be
    // left unstamped to double-sum on re-drain. The state itself can
    // refute the assumption: counts are cell-additive, so each
    // positional bid's (tc+sc) total must equal its presumed file's
    // recomputed n-gram total. Compared as MULTISETS, not
    // per-position, preserving the documented tolerance for ingested-
    // prefix permutations (set membership is what the replay guard
    // reads). A grouped batch's bid sums over several files and
    // cannot match any single file's count, so the mismatch refuses
    // the migration instead of silently stamping a partial prefix.
    val (nb, ng) = TextAnalysis.dsirStateParams(spark, statePath)
    val positionalBidSet = positional.map(_._2).toSet
    val stateTotals = TextAnalysis.dsirCells(spark, statePath)
      .filter(col("bid").isin(positionalBidSet.toSeq: _*))
      .groupBy(col("bid"))
      .agg((sum(col("tc")) + sum(col("sc"))).as("total"))
      .collect().map(_.getLong(1)).sorted.toSeq
    val recounted = positional.map { case (n, _) =>
      TextAnalysis.dsirBatchTotal(
        spark.read.schema(schema).parquet(files(n.toInt).getPath.toString), nb, ng)
    }.sorted.toSeq
    require(stateTotals == recounted,
      s"cannot migrate $statePath: the positional bids' state counts " +
        s"[${stateTotals.mkString(",")}] do not match the presumed files' recomputed " +
        s"totals [${recounted.mkString(",")}] — the state was likely drained at " +
        "maxFilesPerTrigger > 1 (one bid spanning several files), which cannot be " +
        "migrated file-wise; rebuild the state instead")
    val mapping = positional.map { case (n, old) =>
      val batch = spark.read.schema(schema).parquet(files(n.toInt).getPath.toString)
      old -> s"persist:stream:${StreamIds.docBid(batch)}"
    }.toMap
    // numbering-consistency check: every UNSTAMPED file inside the
    // ingested prefix must be empty (a zero-row batch is the only way
    // a delivered batch leaves no bid) — a non-empty one means the
    // batch<->file numbering assumption does not hold for this feed
    (0L until maxBatch).filterNot(stamped).foreach { n =>
      require(spark.read.schema(schema).parquet(files(n.toInt).getPath.toString).isEmpty,
        s"cannot migrate $statePath: file $n (${files(n.toInt).getPath.getName}) is " +
          "non-empty but the old drain stamped no bid for batch " +
          s"$n — the batch-to-file numbering is inconsistent; rebuild the state instead")
    }
    StateTable(spark, statePath).commit(StateTable.Buckets) { p =>
      val m = typedLit(mapping)
      TextAnalysis.dsirCells(spark, statePath)
        .withColumn("bid", coalesce(element_at(m, col("bid")), col("bid")))
        .write.parquet(p(StateTable.Buckets))
    }
  }

  /** Drain `feedDir` (a parquet directory of arriving documents) as a
    * file stream in `maxFilesPerTrigger`-file micro-batches, appending
    * each batch's DSIR bucket counts to `statePath`. The state must
    * hold the day-0 build ([[graft.operators.TextAnalysis.persistDsirState]]).
    */
  def incrementalCounts(spark: SparkSession, feedDir: String,
                        targetSource: String, statePath: String,
                        checkpoint: String,
                        maxFilesPerTrigger: Int = 1): Unit = {
    val (nb, ng) = TextAnalysis.dsirStateParams(spark, statePath)
    val schema = spark.read.parquet(feedDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(feedDir)
    EventStream.runForeachBatch(stream, checkpoint) { (batch, _) =>
      TextAnalysis.persistDsirState(batch, targetSource, statePath, nb, ng,
        batchId = s"stream:${StreamIds.docBid(batch)}")
    }
  }
}
