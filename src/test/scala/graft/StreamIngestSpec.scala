package graft

import java.nio.file.Files

import graft.operators.{Sampling, Similarity, TextAnalysis}
import graft.sources.StateTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-14 streaming ingest fronts (DsirStream, VectorStream):
  * each persisted state tier's micro-batched drain must equal its
  * one-shot form under any arrival partitioning, and a full replay
  * must be a state no-op — the sum tier via deterministic batch-id
  * stamps, the key tiers via live-view key filters.
  */
class StreamIngestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def member(root: String, m: String): String = StateTable(spark, root).path(m)

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.load(spark, sf, "documents")
  private def embs = Tables.load(spark, sf, "embeddings")

  test("DSIR stream drain sums to the one-shot state; replay skips via the bid stamp") {
    val bucket = Sampling.hashBucket(col("doc_id").cast("string"))
    val ref = Files.createTempDirectory("graft_ds_ref").toString + "/dsir"
    TextAnalysis.persistDsirState(docs, "src0", ref)
    val st = Files.createTempDirectory("graft_ds_stream").toString
    TextAnalysis.persistDsirState(docs.filter(bucket < 80), "src0", st + "/dsir")
    docs.filter(bucket >= 80).repartition(4).write.parquet(st + "/feed")
    streaming.DsirStream.incrementalCounts(spark, st + "/feed", "src0",
      st + "/dsir", st + "/ckpt")
    // sums, not rows: the tiers split the same counts across different
    // batch boundaries; only the per-bucket totals are the state
    def sums(p: String) = spark.read.parquet(member(p, StateTable.Buckets))
      .groupBy(col("b")).agg(sum(col("tc")).as("tc"), sum(col("sc")).as("sc"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(sums(st + "/dsir") === sums(ref))
    val before = spark.read.parquet(member(st + "/dsir", StateTable.Buckets)).count()
    streaming.DsirStream.incrementalCounts(spark, st + "/feed", "src0",
      st + "/dsir", st + "/ckpt2")
    assert(spark.read.parquet(member(st + "/dsir", StateTable.Buckets)).count() === before,
      "a full replay must append no cells (bid stamps match)")
  }

  test("two distinct feeds into one DSIR state path both land (content bids, not positions)") {
    // the failure mode of positional batch ids: a second drain's
    // checkpoint restarts foreachBatch ids at 0, so its batches would
    // collide with the first drain's stamps and be silently skipped.
    // Content-derived bids must keep the two feeds' batches distinct
    // while still skipping a true replay of either feed.
    val bucket = Sampling.hashBucket(col("doc_id").cast("string"))
    val ref = Files.createTempDirectory("graft_ds2_ref").toString + "/dsir"
    TextAnalysis.persistDsirState(docs, "src0", ref)
    val st = Files.createTempDirectory("graft_ds2_stream").toString
    TextAnalysis.persistDsirState(docs.filter(bucket < 60), "src0", st + "/dsir")
    docs.filter(bucket >= 60 && bucket < 80).repartition(2).write.parquet(st + "/feedA")
    docs.filter(bucket >= 80).repartition(2).write.parquet(st + "/feedB")
    streaming.DsirStream.incrementalCounts(spark, st + "/feedA", "src0",
      st + "/dsir", st + "/ckptA")
    streaming.DsirStream.incrementalCounts(spark, st + "/feedB", "src0",
      st + "/dsir", st + "/ckptB")
    def sums(p: String) = spark.read.parquet(member(p, StateTable.Buckets))
      .groupBy(col("b")).agg(sum(col("tc")).as("tc"), sum(col("sc")).as("sc"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(sums(st + "/dsir") === sums(ref),
      "feed B's batches must append despite feed A having drained first")
    val before = spark.read.parquet(member(st + "/dsir", StateTable.Buckets)).count()
    streaming.DsirStream.incrementalCounts(spark, st + "/feedA", "src0",
      st + "/dsir", st + "/ckptA2")
    assert(spark.read.parquet(member(st + "/dsir", StateTable.Buckets)).count() === before,
      "a re-drain of feed A through a fresh checkpoint is still a no-op")
  }

  test("stream-fed daily turn: N micro-batch turns equal one batch turn; replay is a no-op") {
    turnsEqualOneBatchTurn(Some(1))
  }

  test("stream-fed daily turn at the default grouping: one turn per feed equals one batch turn; replay is a no-op") {
    turnsEqualOneBatchTurn(None)
  }

  private def turnsEqualOneBatchTurn(maxFilesPerTrigger: Option[Int]): Unit = {
    import spark.implicits._
    val st = Files.createTempDirectory("graft_turnstream").toString
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    val d1e = embs.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
    // reference: ONE batch turn over the whole feed
    val ref = Files.createTempDirectory("graft_turnstream_ref").toString
    operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, ref + "/mh")
    operators.Similarity.buildIvfIndex(d1e, nlist = 16, path = ref + "/ivf")
    val refPairs = Pipelines.dailyIncremental(spark, day1Docs, docs, d1e, embs,
      ref + "/mh", ref + "/ivf")("dedup_pairs").collect().map(_.toSeq).toSeq
    // streamed: the same feed as micro-batch delta turns
    operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    operators.Similarity.buildIvfIndex(d1e, nlist = 16, path = st + "/ivf")
    docs.filter(col("doc_id") % 5 === 0).repartition(4).write.parquet(st + "/docfeed")
    embs.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 0).repartition(2)
      .write.parquet(st + "/embfeed")
    streaming.TurnStream.dailyTurns(spark, st + "/docfeed", st + "/embfeed",
      st + "/mh", st + "/ivf", st + "/pairs", st + "/ckpt",
      maxFilesPerTrigger = maxFilesPerTrigger)
    val fs = new org.apache.hadoop.fs.Path(st).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(st + "/pairs"))
      .count(_.getPath.getName.startsWith("batch_")) === (if (maxFilesPerTrigger.isEmpty) 2 else 6),
      "one turn per file at maxFilesPerTrigger = 1, one per feed at the default")
    val streamed = streaming.TurnStream.emittedPairs(spark, st + "/pairs")
      .collect().map(_.toSeq).toSeq
    assert(streamed === refPairs,
      "the union of per-micro-batch turn pairs must equal the one-shot turn's")
    def ivfRows(p: String) = operators.Similarity.loadIvfIndex(spark, p)._2
      .select(col("vec_id")).as[Long].collect().toSet
    assert(ivfRows(st + "/ivf") === ivfRows(ref + "/ivf"))
    // replay through a FRESH checkpoint: state + pairs both no-ops —
    // q167's retry-idempotence under streaming delivery. The pairs
    // guard matters doubly here: a re-run of an early batch would see
    // state the later batches have since grown, so its recomputed
    // pairs would differ — the content-addressed _SUCCESS skip keeps
    // the original emission.
    val sigCount = spark.read.parquet(member(st + "/mh", StateTable.Sigs)).count()
    val ivfBefore = spark.read.parquet(member(st + "/ivf", StateTable.Assignments)).count()
    streaming.TurnStream.dailyTurns(spark, st + "/docfeed", st + "/embfeed",
      st + "/mh", st + "/ivf", st + "/pairs", st + "/ckpt2",
      maxFilesPerTrigger = maxFilesPerTrigger)
    assert(spark.read.parquet(member(st + "/mh", StateTable.Sigs)).count() === sigCount)
    assert(spark.read.parquet(member(st + "/ivf", StateTable.Assignments)).count() === ivfBefore)
    val replayed = streaming.TurnStream.emittedPairs(spark, st + "/pairs")
      .collect().map(_.toSeq).toSeq
    assert(replayed === streamed, "replay must not duplicate or rewrite pairs")
  }

  test("DSIR + encoded tiers ride the stream-fed turn; content-digest runIds survive late replay") {
    import spark.implicits._
    val st = Files.createTempDirectory("graft_turnfull").toString
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    val d1e = embs.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
    operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    operators.Similarity.buildIvfIndex(d1e, nlist = 16, path = st + "/ivf")
    TextAnalysis.persistDsirState(day1Docs, "src0", st + "/dsir")
    TextAnalysis.persistBpeVocab(docs, merges = 3, st + "/bpe")
    TextAnalysis.persistEncodedCorpus(day1Docs, spark, st + "/bpe", st + "/enc")
    docs.filter(col("doc_id") % 5 === 0).repartition(4).write.parquet(st + "/docfeed")
    embs.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 0).repartition(2)
      .write.parquet(st + "/embfeed")
    def drain(ckpt: String): Unit =
      streaming.TurnStream.dailyTurns(spark, st + "/docfeed", st + "/embfeed",
        st + "/mh", st + "/ivf", st + "/pairs", st + s"/$ckpt",
        dsirStatePath = Some(st + "/dsir"),
        bpeVocabPath = Some(st + "/bpe"), encodedPath = Some(st + "/enc"))
    drain("ckpt")
    // DSIR: drained state scores the full corpus like the inline form
    val streamed = TextAnalysis.dsirWeightsFromState(docs, spark, st + "/dsir", "src0")
      .collect().map(_.toSeq).toSeq
    val inline = TextAnalysis.dsirWeights(docs, "src0").collect().map(_.toSeq).toSeq
    assert(streamed === inline)
    // encoded corpus: merge-on-read view equals the one-shot encode
    def encRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("ids").cast("array<long>"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(encRows(TextAnalysis.loadEncodedCorpus(spark, st + "/enc")) ===
      encRows(TextAnalysis.bpeEncodeIdsFromVocab(docs, spark, st + "/bpe")
        .select(col("doc_id"), col("ids"))),
      "the stream-fed turns' encoded appends must equal a one-shot encode")
    // LATE replay through a fresh checkpoint: the state has grown
    // since each batch's first delivery, which would flip a DERIVED
    // DSIR stamp (non-family context changed) — the content-digest
    // runId is delivery-independent, so every tier is a no-op
    val dsirCells = spark.read.parquet(member(st + "/dsir", StateTable.Buckets)).count()
    val encCount = spark.read.parquet(member(st + "/enc", StateTable.Ids)).count()
    drain("ckpt2")
    assert(spark.read.parquet(member(st + "/dsir", StateTable.Buckets)).count() === dsirCells,
      "a late replay must not double-sum the DSIR state")
    assert(spark.read.parquet(member(st + "/enc", StateTable.Ids)).count() === encCount)
  }

  test("multi-file grouping caveat: a regrouped re-drain double-sums; the default is exact") {
    // DsirStream's scaladoc pins the digest guard to the micro-BATCH:
    // it is exact across fresh checkpoints iff file-to-batch grouping
    // is stable. Demonstrate the documented failure mode — the same
    // feed re-drained under a DIFFERENT maxFilesPerTrigger regroups
    // content across batch boundaries, derives digests the state has
    // never seen, and double-sums — and that the documented default
    // (one file per trigger) re-drains as an exact no-op.
    val bucket = Sampling.hashBucket(col("doc_id").cast("string"))
    val st = Files.createTempDirectory("graft_ds_regroup").toString
    def sums(p: String) = spark.read.parquet(member(p, StateTable.Buckets))
      .groupBy(col("b")).agg(sum(col("tc")).as("tc"), sum(col("sc")).as("sc"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    // grouped drain (4 feed files, 2 per batch)
    TextAnalysis.persistDsirState(docs.filter(bucket < 80), "src0", st + "/grouped")
    docs.filter(bucket >= 80).repartition(4).write.parquet(st + "/feed")
    streaming.DsirStream.incrementalCounts(spark, st + "/feed", "src0",
      st + "/grouped", st + "/g_ckpt", maxFilesPerTrigger = 2)
    val groupedSums = sums(st + "/grouped")
    // regrouped re-drain: 3 files per batch → new digests → re-append
    streaming.DsirStream.incrementalCounts(spark, st + "/feed", "src0",
      st + "/grouped", st + "/g_ckpt2", maxFilesPerTrigger = 3)
    assert(sums(st + "/grouped") !== groupedSums,
      "a regrouped re-drain must double-sum — the documented multi-file hazard " +
        "(if this starts passing, the guard grew stronger: update the scaladoc)")
    // the default: one file per batch — regrouping is impossible, any
    // re-drain (here through a fresh checkpoint) is a no-op
    TextAnalysis.persistDsirState(docs.filter(bucket < 80), "src0", st + "/single")
    streaming.DsirStream.incrementalCounts(spark, st + "/feed", "src0",
      st + "/single", st + "/s_ckpt")
    val singleSums = sums(st + "/single")
    streaming.DsirStream.incrementalCounts(spark, st + "/feed", "src0",
      st + "/single", st + "/s_ckpt2")
    assert(sums(st + "/single") === singleSums,
      "the one-file-per-trigger default must re-drain as an exact no-op")
  }

  test("migratePositionalBids: a pre-digest state regains re-drain idempotence") {
    val bucket = Sampling.hashBucket(col("doc_id").cast("string"))
    val st = Files.createTempDirectory("graft_ds_migrate").toString
    def sums(p: String) = spark.read.parquet(member(p, StateTable.Buckets))
      .groupBy(col("b")).agg(sum(col("tc")).as("tc"), sum(col("sc")).as("sc"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    TextAnalysis.persistDsirState(docs.filter(bucket < 80), "src0", st + "/dsir")
    docs.filter(bucket >= 80).repartition(4).write.parquet(st + "/feed")
    // synthesize the PRE-DIGEST drain: one positional `stream:<N>`
    // stamp per feed file, in the file stream's delivery order — the
    // exact on-disk shape the old scheme left behind
    val fd = new org.apache.hadoop.fs.Path(st + "/feed")
    val fs = fd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(fd).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .sortBy(s => (s.getModificationTime, s.getPath.toString))
    files.zipWithIndex.foreach { case (f, i) =>
      TextAnalysis.persistDsirState(spark.read.parquet(f.getPath.toString),
        "src0", st + "/dsir", batchId = s"stream:$i")
    }
    val ref = Files.createTempDirectory("graft_ds_migrate_ref").toString + "/dsir"
    TextAnalysis.persistDsirState(docs, "src0", ref)
    assert(sums(st + "/dsir") === sums(ref))
    // un-migrated, a fresh-checkpoint re-drain double-sums: content
    // digests can never match positional stamps (the documented hole)
    val unmigrated = st + "/unmigrated"
    fs.rename(new org.apache.hadoop.fs.Path(st + "/dsir"),
      new org.apache.hadoop.fs.Path(unmigrated))
    fs.mkdirs(new org.apache.hadoop.fs.Path(st + "/dsir"))
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(member(unmigrated, StateTable.Buckets)),
      fs, new org.apache.hadoop.fs.Path(member(st + "/dsir", StateTable.Buckets)), false,
      spark.sparkContext.hadoopConfiguration)
    streaming.DsirStream.incrementalCounts(spark, st + "/feed", "src0",
      unmigrated, st + "/u_ckpt")
    assert(sums(unmigrated) !== sums(ref),
      "an unmigrated positional state must double-sum on re-drain (the hole the migration closes)")
    // migrated: the positional stamps become the digests the re-drain
    // derives, so the same re-drain is an exact no-op
    streaming.DsirStream.migratePositionalBids(spark, st + "/feed", st + "/dsir")
    val bids = TextAnalysis.dsirStateSummary(spark, st + "/dsir")._3
    assert(!bids.exists(_.matches("persist:stream:\\d+")),
      s"no positional bids may survive the migration (got $bids)")
    streaming.DsirStream.incrementalCounts(spark, st + "/feed", "src0",
      st + "/dsir", st + "/m_ckpt")
    assert(sums(st + "/dsir") === sums(ref),
      "a migrated state must skip the re-drain exactly")
    // idempotent: a second migration pass touches nothing
    val before = spark.read.parquet(member(st + "/dsir", StateTable.Buckets)).collect().map(_.toSeq).toSet
    streaming.DsirStream.migratePositionalBids(spark, st + "/feed", st + "/dsir")
    assert(spark.read.parquet(member(st + "/dsir", StateTable.Buckets)).collect().map(_.toSeq).toSet === before)
  }

  test("migratePositionalBids on a CRASHED old drain: the un-ingested suffix still lands") {
    // a pre-digest drain that died mid-feed left positional stamps for
    // only a PREFIX of the files (streams deliver in mtime order).
    // The migration must digest exactly that prefix — marking the
    // whole feed ingested would silently skip the tail forever.
    val bucket = Sampling.hashBucket(col("doc_id").cast("string"))
    val st = Files.createTempDirectory("graft_ds_migrate_partial").toString
    def sums(p: String) = spark.read.parquet(member(p, StateTable.Buckets))
      .groupBy(col("b")).agg(sum(col("tc")).as("tc"), sum(col("sc")).as("sc"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    TextAnalysis.persistDsirState(docs.filter(bucket < 80), "src0", st + "/dsir")
    docs.filter(bucket >= 80).repartition(4).write.parquet(st + "/feed")
    val fd = new org.apache.hadoop.fs.Path(st + "/feed")
    val fs = fd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(fd).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .sortBy(s => (s.getModificationTime, s.getPath.toString))
    // the old drain ingested only the first 2 of 4 files, positionally
    files.take(2).zipWithIndex.foreach { case (f, i) =>
      TextAnalysis.persistDsirState(spark.read.parquet(f.getPath.toString),
        "src0", st + "/dsir", batchId = s"stream:$i")
    }
    // force the 4 files onto ONE mtime (parallel write tasks usually
    // land in the same second, but not deterministically): a crashed
    // drain's ingested-prefix boundary is then order-ambiguous and the
    // migration must REFUSE rather than guess which file was the
    // second batch
    val t0 = files.head.getModificationTime
    files.foreach(f => fs.setTimes(f.getPath, t0, -1))
    val tied = intercept[IllegalArgumentException] {
      streaming.DsirStream.migratePositionalBids(spark, st + "/feed", st + "/dsir")
    }
    assert(tied.getMessage.contains("modification-time-tied"))
    // a real arrival queue's files carry distinct arrival mtimes —
    // model that, in the same (mtime, path) order the drain saw
    files.zipWithIndex.foreach { case (f, i) =>
      fs.setTimes(f.getPath, t0 + i * 1000L, -1)
    }
    streaming.DsirStream.migratePositionalBids(spark, st + "/feed", st + "/dsir")
    // resuming the drain (fresh checkpoint, whole feed) must skip the
    // migrated prefix and append exactly the tail
    streaming.DsirStream.incrementalCounts(spark, st + "/feed", "src0",
      st + "/dsir", st + "/ckpt")
    val ref = Files.createTempDirectory("graft_ds_migrate_partial_ref").toString + "/dsir"
    TextAnalysis.persistDsirState(docs, "src0", ref)
    assert(sums(st + "/dsir") === sums(ref),
      "post-migration resume must ingest exactly the crashed drain's un-ingested tail")
  }

  test("tiers enabled mid-feed backfill on re-drain; pairs and prior tiers stay no-ops") {
    // the round-15 hazard: the pairs marker gated the ENTIRE turn, so
    // a feed drained before dsirStatePath/encodedPath were enabled
    // could never deliver its content to the new tiers — every marked
    // batch skipped wholesale. The skip is now keyed per tier: a
    // re-drain after enabling tiers must backfill them over the whole
    // feed while the pairs sink and the already-ingested sig/IVF
    // tiers remain exact no-ops.
    val st = Files.createTempDirectory("graft_turnbackfill").toString
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    val d1e = embs.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
    operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    operators.Similarity.buildIvfIndex(d1e, nlist = 16, path = st + "/ivf")
    docs.filter(col("doc_id") % 5 === 0).repartition(4).write.parquet(st + "/docfeed")
    embs.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 0).repartition(2)
      .write.parquet(st + "/embfeed")
    // drain 1: no opt-in tiers
    streaming.TurnStream.dailyTurns(spark, st + "/docfeed", st + "/embfeed",
      st + "/mh", st + "/ivf", st + "/pairs", st + "/ckpt")
    val pairs1 = streaming.TurnStream.emittedPairs(spark, st + "/pairs")
      .collect().map(_.toSeq).toSeq
    val sigCount = spark.read.parquet(member(st + "/mh", StateTable.Sigs)).count()
    // tiers enabled between drains: day-0 builds over day-1 docs only —
    // the feed's content exists in NO tier state yet
    TextAnalysis.persistDsirState(day1Docs, "src0", st + "/dsir")
    TextAnalysis.persistBpeVocab(docs, merges = 3, st + "/bpe")
    TextAnalysis.persistEncodedCorpus(day1Docs, spark, st + "/bpe", st + "/enc")
    // drain 2 (fresh checkpoint, tiers on): every batch is pairs-marked,
    // so only the gapped tiers may act
    def drain(ckpt: String): Unit =
      streaming.TurnStream.dailyTurns(spark, st + "/docfeed", st + "/embfeed",
        st + "/mh", st + "/ivf", st + "/pairs", st + s"/$ckpt",
        dsirStatePath = Some(st + "/dsir"),
        bpeVocabPath = Some(st + "/bpe"), encodedPath = Some(st + "/enc"))
    drain("ckpt2")
    val streamedW = TextAnalysis.dsirWeightsFromState(docs, spark, st + "/dsir", "src0")
      .collect().map(_.toSeq).toSeq
    val inlineW = TextAnalysis.dsirWeights(docs, "src0").collect().map(_.toSeq).toSeq
    assert(streamedW === inlineW,
      "the re-drain must backfill the DSIR tier over the already-marked feed")
    def encRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("ids").cast("array<long>"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(encRows(TextAnalysis.loadEncodedCorpus(spark, st + "/enc")) ===
      encRows(TextAnalysis.bpeEncodeIdsFromVocab(docs, spark, st + "/bpe")
        .select(col("doc_id"), col("ids"))),
      "the re-drain must backfill the encoded tier over the already-marked feed")
    assert(streaming.TurnStream.emittedPairs(spark, st + "/pairs")
      .collect().map(_.toSeq).toSeq === pairs1,
      "the backfill must not rewrite or duplicate the pairs sink")
    assert(spark.read.parquet(member(st + "/mh", StateTable.Sigs)).count() === sigCount,
      "the backfill turns must not re-append signatures")
    // the per-tier skip reads the stored bid format — pin it: stream
    // turns' DSIR appends land as "persist:stream:<digest>:added"
    // (the appendDsirCells operation qualifier + the turn's explicit
    // runId + the grow-only sub-batch suffix). If this format drifts,
    // the needDsir probe re-runs every marked batch's turn on every
    // re-drain — correct but no longer cheap.
    val bids = TextAnalysis.dsirStateSummary(spark, st + "/dsir")._3
    assert(bids.exists(_.startsWith("persist:stream:")),
      s"stream-turn DSIR bids must carry the persist:stream: prefix the per-tier skip matches (got $bids)")
    // drain 3: everything ingested everywhere — full no-op
    val dsirCells = spark.read.parquet(member(st + "/dsir", StateTable.Buckets)).count()
    val encCount = spark.read.parquet(member(st + "/enc", StateTable.Ids)).count()
    drain("ckpt3")
    assert(spark.read.parquet(member(st + "/dsir", StateTable.Buckets)).count() === dsirCells)
    assert(spark.read.parquet(member(st + "/enc", StateTable.Ids)).count() === encCount)
  }

  test("encoded tier born EMPTY mid-feed: the backfill probe reads the missing table as empty and creates it") {
    // like the mid-feed-enable test above, but the encoded tier has NO
    // day-0 build: the table is born by the backfill's first append.
    // Before round 17's fix the needEnc probe crashed on the missing
    // ids dir (loadEncodedCorpus read it unconditionally); a missing
    // dir IS the empty table.
    val st = Files.createTempDirectory("graft_turnborn").toString
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    operators.Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    val fed = docs.filter(col("doc_id") % 5 === 0)
    fed.repartition(2).write.parquet(st + "/docfeed")
    embs.limit(0).write.parquet(st + "/embfeed")
    // drain 1: no opt-in tiers — every batch gets pairs-marked
    streaming.TurnStream.dailyTurns(spark, st + "/docfeed", st + "/embfeed",
      st + "/mh", st + "/ivf", st + "/pairs", st + "/ckpt")
    // the pair is enabled between drains against a FRESH encoded path
    TextAnalysis.persistBpeVocab(docs, merges = 3, st + "/bpe")
    val fs = new org.apache.hadoop.fs.Path(st).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(member(st + "/enc", StateTable.Ids))),
      "precondition: the encoded table must not exist yet")
    // drain 2 (fresh checkpoint): marked batches hit the needEnc probe
    // against the absent table — must read as empty, then backfill
    streaming.TurnStream.dailyTurns(spark, st + "/docfeed", st + "/embfeed",
      st + "/mh", st + "/ivf", st + "/pairs", st + "/ckpt2",
      bpeVocabPath = Some(st + "/bpe"), encodedPath = Some(st + "/enc"))
    def encRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("ids").cast("array<long>"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(encRows(TextAnalysis.loadEncodedCorpus(spark, st + "/enc")) ===
      encRows(TextAnalysis.bpeEncodeIdsFromVocab(fed, spark, st + "/bpe")
        .select(col("doc_id"), col("ids"))),
      "the backfill must create the table and encode exactly the fed docs")
    // drain 3: ingested everywhere — a no-op, and the view stays stable
    val encCount = spark.read.parquet(member(st + "/enc", StateTable.Ids)).count()
    streaming.TurnStream.dailyTurns(spark, st + "/docfeed", st + "/embfeed",
      st + "/mh", st + "/ivf", st + "/pairs", st + "/ckpt3",
      bpeVocabPath = Some(st + "/bpe"), encodedPath = Some(st + "/enc"))
    assert(spark.read.parquet(member(st + "/enc", StateTable.Ids)).count() === encCount)
  }

  test("compactPairs: batch dirs fold into one base; replay-skip markers survive; emissions unchanged") {
    val st = Files.createTempDirectory("graft_pairscompact").toString
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    val d1e = embs.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
    operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    operators.Similarity.buildIvfIndex(d1e, nlist = 16, path = st + "/ivf")
    docs.filter(col("doc_id") % 5 === 0).repartition(4).write.parquet(st + "/docfeed")
    embs.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 0).repartition(2)
      .write.parquet(st + "/embfeed")
    // one file per turn: the layout a one-file-per-batch drain leaves
    // (the multi-file spec below folds the default's group dirs)
    def drain(ckpt: String): Unit =
      streaming.TurnStream.dailyTurns(spark, st + "/docfeed", st + "/embfeed",
        st + "/mh", st + "/ivf", st + "/pairs", st + s"/$ckpt", maxFilesPerTrigger = Some(1))
    def pairs() = streaming.TurnStream.emittedPairs(spark, st + "/pairs")
      .collect().map(_.toSeq).toSeq
    val fs = new org.apache.hadoop.fs.Path(st).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def entries = fs.listStatus(new org.apache.hadoop.fs.Path(st + "/pairs"))
      .toSeq.map(_.getPath.getName).sorted
    drain("ckpt")
    val before = pairs()
    assert(entries.count(_.startsWith("batch_")) === 6, "4 doc + 2 emb batch dirs pre-compaction")
    streaming.TurnStream.compactPairs(spark, st + "/pairs")
    assert(entries === Seq("_pairs_base", "_pairs_manifest"),
      s"every batch dir must fold into the base (got $entries)")
    assert(pairs() === before, "compaction must not change the emissions")
    // replay through a FRESH checkpoint: the manifest IS the marker now
    // — no turn re-runs, no batch dirs reappear, state untouched
    val sigCount = spark.read.parquet(member(st + "/mh", StateTable.Sigs)).count()
    drain("ckpt2")
    assert(spark.read.parquet(member(st + "/mh", StateTable.Sigs)).count() === sigCount,
      "replayed batches must skip via the manifest digests")
    assert(!entries.exists(_.startsWith("batch_")),
      "a replayed batch must not rewrite its folded pairs directory")
    assert(pairs() === before)
    // NEW content after compaction lands as a fresh batch dir (one per
    // new file); the next compaction folds it into base v2 — listing
    // cost stays flat no matter how many drains accumulate
    docs.filter(col("doc_id") % 7 === 0 && col("doc_id") % 5 =!= 0)
      .repartition(1).write.mode("append").parquet(st + "/docfeed")
    drain("ckpt3")
    assert(entries.count(_.startsWith("batch_")) === 1,
      "only the genuinely new file may produce a live batch dir")
    val withNew = pairs()
    streaming.TurnStream.compactPairs(spark, st + "/pairs")
    assert(entries === Seq("_pairs_base", "_pairs_manifest"))
    assert(pairs() === withNew, "the second fold must preserve old base + new batch")
    // idempotent: a compaction with nothing to fold only re-runs GC
    streaming.TurnStream.compactPairs(spark, st + "/pairs")
    assert(pairs() === withNew)
  }

  test("compactPairs crash windows: leftover base, undeleted folded dirs, and torn writes all converge") {
    val st = Files.createTempDirectory("graft_pairscrash").toString
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    operators.Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    docs.filter(col("doc_id") % 5 === 0).repartition(3).write.parquet(st + "/docfeed")
    embs.limit(0).write.parquet(st + "/embfeed")
    streaming.TurnStream.dailyTurns(spark, st + "/docfeed", st + "/embfeed",
      st + "/mh", st + "/ivf", st + "/pairs", st + "/ckpt")
    def pairs() = streaming.TurnStream.emittedPairs(spark, st + "/pairs")
      .collect().map(_.toSeq).toSeq
    val before = pairs()
    val fs = new org.apache.hadoop.fs.Path(st).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // WINDOW 1 — crash after the new base was written but BEFORE the
    // manifest rename: fabricate the debris (a garbage v1 base + a
    // stale manifest tmp). Readers must still see the pre-compaction
    // view; the re-run must overwrite the leftover and converge.
    val junk = new org.apache.hadoop.fs.Path(st + "/pairs/_pairs_base/v1")
    docs.limit(3).select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b"),
      col("doc_id").cast("double").as("est_jaccard")).write.parquet(junk.toString)
    val mdir = new org.apache.hadoop.fs.Path(st + "/pairs/_pairs_manifest")
    fs.mkdirs(mdir)
    fs.create(new org.apache.hadoop.fs.Path(mdir, "v1.manifest.tmp"), true).close()
    assert(pairs() === before,
      "a crashed compaction's unreferenced base must be invisible to readers")
    streaming.TurnStream.compactPairs(spark, st + "/pairs")
    assert(pairs() === before, "the re-run must overwrite the leftover base")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(mdir, "v1.manifest.tmp")),
      "GC must collect the stale manifest tmp")
    // WINDOW 2 — crash after the manifest rename but BEFORE GC:
    // resurrect a folded batch dir (its digest IS in the manifest).
    // Readers must not double-count it; the re-run GCs it.
    val bid = {
      val mf = fs.listStatus(mdir).map(_.getPath)
        .filter(_.getName.endsWith(".manifest")).head
      val in = fs.open(mf)
      // a group line is "<group id> [<member digest> ...]"
      try new String(in.readAllBytes(), "UTF-8").split("\n").tail
        .filter(_.nonEmpty).head.split(" ").head
      finally in.close()
    }
    val zombie = new org.apache.hadoop.fs.Path(s"$st/pairs/batch_$bid")
    spark.read.schema("doc_a BIGINT, doc_b BIGINT, est_jaccard DOUBLE")
      .parquet(st + "/pairs/_pairs_base/v1")
      .write.parquet(zombie.toString)
    assert(pairs() === before,
      "an undeleted folded dir must be ignored (its digest is in the manifest)")
    streaming.TurnStream.compactPairs(spark, st + "/pairs")
    assert(!fs.exists(zombie), "the re-run must GC the folded dir")
    assert(pairs() === before)
    // TORN WRITE — a batch dir without _SUCCESS (its turn crashed
    // mid-write): never folded, never read; the view is unchanged.
    val torn = new org.apache.hadoop.fs.Path(st + "/pairs/batch_torn")
    fs.mkdirs(torn)
    fs.create(new org.apache.hadoop.fs.Path(torn, "part-00000.parquet"), true)
      .close() // zero-byte "parquet": unreadable if anything touches it
    assert(pairs() === before, "a torn write must not reach readers")
    streaming.TurnStream.compactPairs(spark, st + "/pairs")
    assert(fs.exists(torn), "a torn dir is left for its turn's retry, not folded")
    assert(pairs() === before)
  }

  test("duplicate-content file mid-drain: the backfill's DSIR append reads fresh state, never double-sums") {
    // the round-16 ADVICE hazard: the per-tier gap probe answers from
    // a ONCE-per-drain pre-drain bid snapshot. A file whose content
    // digest already carries a pairs marker lands in the backfill
    // branch, and when the matching DSIR bid was appended DURING this
    // drain (a duplicate-content file whose first copy's turn just
    // ran), the bid is missing from the snapshot — the probe firing
    // spuriously is the accepted cost, but the append itself must then
    // read FRESH state: handing it the stale snapshot as the replay
    // authority would double-sum the sum-shaped state permanently.
    val st = Files.createTempDirectory("graft_turndup").toString
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    val mu = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 2 === 0)
    val alpha = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 2 =!= 0)
    operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    operators.Similarity.buildIvfIndex(embs.filter(col("vec_id") < 16),
      nlist = 16, path = st + "/ivf")
    TextAnalysis.persistDsirState(day1Docs, "src0", st + "/dsir")
    embs.limit(0).write.parquet(st + "/embfeed")
    // drain 1: file M only, DSIR tier on → M pairs-marked AND stamped
    mu.repartition(1).write.parquet(st + "/docfeed")
    def drain(ckpt: String): Unit =
      streaming.TurnStream.dailyTurns(spark, st + "/docfeed", st + "/embfeed",
        st + "/mh", st + "/ivf", st + "/pairs", st + s"/$ckpt",
        dsirStatePath = Some(st + "/dsir"))
    drain("ckpt1")
    // two files with IDENTICAL content (one digest) arrive after M
    val tmp = Files.createTempDirectory("graft_turndup_alpha").toString + "/alpha"
    alpha.repartition(1).write.parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(st).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def firstPart(dir: String) = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")).head
    val src = firstPart(tmp).getPath
    val t0 = firstPart(st + "/docfeed").getModificationTime
    for ((name, off) <- Seq(("part-dupa.parquet", 10000L), ("part-dupb.parquet", 20000L))) {
      val dst = new org.apache.hadoop.fs.Path(st + "/docfeed/" + name)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
        spark.sparkContext.hadoopConfiguration)
      fs.setTimes(dst, t0 + off, -1)
    }
    // drain 2 (fresh checkpoint): M's marked batch forces the pre-drain
    // snapshot BEFORE the first α copy's turn appends its bid; the
    // second α copy is pairs-marked by the first, so its gap probe
    // fires on the stale snapshot — only the append's own fresh-state
    // guard stands between it and a double-sum
    drain("ckpt2")
    def sums(p: String) = spark.read.parquet(member(p, StateTable.Buckets))
      .groupBy(col("b")).agg(sum(col("tc")).as("tc"), sum(col("sc")).as("sc"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    val ref = Files.createTempDirectory("graft_turndup_ref").toString + "/dsir"
    TextAnalysis.persistDsirState(day1Docs.unionAll(mu).unionAll(alpha), "src0", ref)
    assert(sums(st + "/dsir") === sums(ref),
      "the duplicate-content file's backfill append must skip via fresh state — " +
        "counting α twice is the ADVICE double-sum hazard")
  }

  test("dailyTurns rejects an unpaired encodedPath before touching any state") {
    val st = Files.createTempDirectory("graft_turnpair").toString
    docs.limit(5).write.parquet(st + "/docfeed")
    embs.limit(0).write.parquet(st + "/embfeed")
    val e = intercept[IllegalArgumentException] {
      streaming.TurnStream.dailyTurns(spark, st + "/docfeed", st + "/embfeed",
        st + "/mh", st + "/ivf", st + "/pairs", st + "/ckpt",
        encodedPath = Some(st + "/enc"))
    }
    assert(e.getMessage.contains("pair"))
    assert(!new java.io.File(st + "/pairs").exists,
      "the shape error must fire before any state mutation")
  }

  test("migratePositionalBids refuses a state drained at maxFilesPerTrigger > 1") {
    // grouped batches stamp the same contiguous numbers 0..maxBatch the
    // one-file form would, so the numbering-consistency check passes
    // VACUOUSLY — the cell-additive count check is what must catch the
    // unverifiable precondition instead of silently stamping per-file
    // digests that leave the grouped tail to double-sum on re-drain.
    val bucket = Sampling.hashBucket(col("doc_id").cast("string"))
    val st = Files.createTempDirectory("graft_ds_migrate_grouped").toString
    TextAnalysis.persistDsirState(docs.filter(bucket < 80), "src0", st + "/dsir")
    docs.filter(bucket >= 80).repartition(4).write.parquet(st + "/feed")
    val fd = new org.apache.hadoop.fs.Path(st + "/feed")
    val fs = fd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(fd).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .sortBy(s => (s.getModificationTime, s.getPath.toString))
    // distinct mtimes: the refusal must come from the count check, not
    // the boundary-tie check
    val t0 = files.head.getModificationTime
    files.zipWithIndex.foreach { case (f, i) => fs.setTimes(f.getPath, t0 + i * 1000L, -1) }
    // the old drain ran at maxFilesPerTrigger = 2: two files per batch
    files.grouped(2).zipWithIndex.foreach { case (group, i) =>
      TextAnalysis.persistDsirState(
        group.map(f => spark.read.parquet(f.getPath.toString)).reduce(_ unionAll _),
        "src0", st + "/dsir", batchId = s"stream:$i")
    }
    val e = intercept[IllegalArgumentException] {
      streaming.DsirStream.migratePositionalBids(spark, st + "/feed", st + "/dsir")
    }
    assert(e.getMessage.contains("maxFilesPerTrigger"))
  }

  // ---- per-file exactly-once of the stream-fed turn: q188's fixture
  // (day-0 signatures, IVF and DSIR over the day-1 docs and vectors,
  // the rest as feed files); every drain shape below must leave the
  // state and the pairs sink equal to ONE batch turn over the same rows

  private def feedDocs = docs.filter(col("doc_id") % 5 === 0)
  private def feedEmb = embs.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 0)

  /** Day-0 state under a fresh root; the caller writes the feeds. */
  private def stageDay0(prefix: String): String = {
    val st = Files.createTempDirectory(prefix).toString
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    operators.Similarity.buildIvfIndex(
      embs.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0), nlist = 16, path = st + "/ivf")
    TextAnalysis.persistDsirState(day1Docs, "src0", st + "/dsir")
    st
  }

  private def drainTurns(st: String, ckpt: String, maxFilesPerTrigger: Option[Int] = None): Unit =
    streaming.TurnStream.dailyTurns(spark, st + "/docfeed", st + "/embfeed",
      st + "/mh", st + "/ivf", st + "/pairs", st + s"/$ckpt",
      maxFilesPerTrigger = maxFilesPerTrigger, dsirStatePath = Some(st + "/dsir"))

  /** Signature rows, IVF rows, DSIR bucket sums and emitted pairs —
    * rows as sorted multisets, so a duplicated row shows. */
  private def turnOutcome(st: String) = {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    (rows(operators.Dedup.loadSignatures(spark, st + "/mh")),
      rows(Similarity.loadIvfIndex(spark, st + "/ivf")._2.select(col("vec_id"), col("cell"))),
      rows(spark.read.parquet(member(st + "/dsir", StateTable.Buckets))
        .groupBy(col("b")).agg(sum(col("tc")), sum(col("sc")))),
      rows(streaming.TurnStream.emittedPairs(spark, st + "/pairs")))
  }

  /** [[turnOutcome]] of one batch turn over the whole feed. */
  private lazy val oneShotOutcome = {
    val st = stageDay0("graft_turn_oneshot")
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    val d1e = embs.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
    val turn = Pipelines.dailyIncremental(spark, day1Docs, docs, d1e, embs,
      st + "/mh", st + "/ivf", dsirStatePath = Some(st + "/dsir"), runId = Some("oneshot"))
    turn("dedup_pairs_raw").write.parquet(st + "/pairs/batch_oneshot")
    turnOutcome(st)
  }

  private def fsOf(st: String) = new org.apache.hadoop.fs.Path(st)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def batchDirs(st: String): Seq[String] =
    fsOf(st).listStatus(new org.apache.hadoop.fs.Path(st + "/pairs")).toSeq
      .map(_.getPath.getName).filter(_.startsWith("batch_")).sorted

  private def feedFiles(dir: String): Seq[org.apache.hadoop.fs.Path] =
    fsOf(dir).listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .map(_.getPath)

  test("per-file exactly-once: a one-file-per-batch drain re-drains at the default as a no-op, and the reverse") {
    val st = stageDay0("graft_turn_regroup")
    feedDocs.repartition(4).write.parquet(st + "/docfeed")
    feedEmb.repartition(2).write.parquet(st + "/embfeed")
    drainTurns(st, "ckpt1", Some(1))
    // the layout the one-file-per-batch drain has always left: one pairs
    // dir and one DSIR stamp per file, named by the file's own digest
    val docDigests = feedFiles(st + "/docfeed").map(f =>
      streaming.StreamIds.docBid(spark.read.parquet(f.toString)))
    val embDigests = feedFiles(st + "/embfeed").map(f =>
      streaming.StreamIds.contentBid(spark.read.parquet(f.toString), streaming.StreamIds.embFp))
    assert(batchDirs(st) === (docDigests ++ embDigests).map("batch_" + _).sorted)
    assert(!fsOf(st).exists(new org.apache.hadoop.fs.Path(st + "/pairs/_pairs_groups")),
      "one-file groups need no member list")
    assert(TextAnalysis.dsirStateSummary(spark, st + "/dsir")._3.filter(_.startsWith("persist:stream:")) ===
      docDigests.map(d => s"persist:stream:$d:added").toSet)
    assert(turnOutcome(st) === oneShotOutcome)
    val cells = spark.read.parquet(member(st + "/dsir", StateTable.Buckets)).count()
    drainTurns(st, "ckpt2")
    assert(turnOutcome(st) === oneShotOutcome, "a regrouped re-drain must be a no-op")
    assert(spark.read.parquet(member(st + "/dsir", StateTable.Buckets)).count() === cells)
    assert(batchDirs(st) === (docDigests ++ embDigests).map("batch_" + _).sorted)

    // the reverse: a default drain, then a one-file-per-batch re-drain
    val rev = stageDay0("graft_turn_regroup_rev")
    feedDocs.repartition(4).write.parquet(rev + "/docfeed")
    feedEmb.repartition(2).write.parquet(rev + "/embfeed")
    drainTurns(rev, "ckpt1")
    assert(batchDirs(rev).size === 2, "one group per feed")
    assert(turnOutcome(rev) === oneShotOutcome)
    val revDirs = batchDirs(rev)
    drainTurns(rev, "ckpt2", Some(1))
    assert(turnOutcome(rev) === oneShotOutcome, "a regrouped re-drain must be a no-op")
    assert(batchDirs(rev) === revDirs)
  }

  test("per-file exactly-once: files landing after a drain are the only ones the re-drain ingests") {
    val st = stageDay0("graft_turn_grow")
    feedDocs.filter(col("doc_id") % 10 === 0).repartition(2).write.parquet(st + "/docfeed")
    feedEmb.repartition(2).write.parquet(st + "/embfeed")
    drainTurns(st, "ckpt1")
    val first = batchDirs(st)
    val old = feedFiles(st + "/docfeed").toSet
    feedDocs.filter(col("doc_id") % 10 =!= 0).repartition(2)
      .write.mode("append").parquet(st + "/docfeed")
    val landed = feedFiles(st + "/docfeed").filterNot(old)
    assert(landed.size === 2)
    drainTurns(st, "ckpt2")
    // one new group, and exactly the two new files are its members
    val added = batchDirs(st).diff(first)
    assert(added === Seq("batch_" + streaming.StreamIds.groupBid(landed.map(f =>
      streaming.StreamIds.docBid(spark.read.parquet(f.toString))).toSet)))
    assert(turnOutcome(st) === oneShotOutcome)
  }

  test("per-file exactly-once: a torn multi-file group is retried whole under a different grouping") {
    val st = stageDay0("graft_turn_torn")
    feedDocs.repartition(4).write.parquet(st + "/docfeed")
    feedEmb.repartition(2).write.parquet(st + "/embfeed")
    drainTurns(st, "ckpt1")
    // tear the doc group: its member list and state writes stay, its
    // commit point and its turn marker go
    val docGroup = StreamIngestSpec.memberLists(fsOf(st), st + "/pairs")
      .collectFirst { case (g, ms) if ms.size == 4 => g }.get
    val fs = fsOf(st)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$st/pairs/batch_$docGroup/_SUCCESS"), false))
    assert(fs.delete(new org.apache.hadoop.fs.Path(st + "/mh/_turns"), true))
    assert(turnOutcome(st)._4 !== oneShotOutcome._4, "precondition: the doc pairs are torn away")
    // the retry takes one file per batch: the first file's turn must
    // pull in the other three members, so no member runs on its own
    drainTurns(st, "ckpt2", Some(1))
    assert(turnOutcome(st) === oneShotOutcome)
    assert(batchDirs(st).count(_ === s"batch_$docGroup") === 1 && batchDirs(st).size === 2,
      s"the torn group commits under its own id and nothing else lands (got ${batchDirs(st)})")
  }

  test("per-file exactly-once: two content-identical files in one batch are ingested once") {
    val st = stageDay0("graft_turn_dupfile")
    feedDocs.repartition(2).write.parquet(st + "/docfeed")
    feedEmb.repartition(2).write.parquet(st + "/embfeed")
    val src = feedFiles(st + "/docfeed").head
    org.apache.hadoop.fs.FileUtil.copy(fsOf(st), src, fsOf(st),
      new org.apache.hadoop.fs.Path(st + "/docfeed/part-copy.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    drainTurns(st, "ckpt1")
    assert(turnOutcome(st) === oneShotOutcome, "the copy must add no row, cell or pair")
    drainTurns(st, "ckpt2", Some(1))
    assert(turnOutcome(st) === oneShotOutcome)
  }

  test("compactPairs folds multi-file groups with their members; a re-drain stays a no-op") {
    val st = stageDay0("graft_turn_compact_groups")
    feedDocs.repartition(4).write.parquet(st + "/docfeed")
    feedEmb.repartition(2).write.parquet(st + "/embfeed")
    drainTurns(st, "ckpt1")
    val groups = StreamIngestSpec.memberLists(fsOf(st), st + "/pairs")
    assert(groups.values.map(_.size).toSeq.sorted === Seq(2, 4))
    streaming.TurnStream.compactPairs(spark, st + "/pairs")
    val entries = fsOf(st).listStatus(new org.apache.hadoop.fs.Path(st + "/pairs"))
      .toSeq.map(_.getPath.getName).sorted
    assert(entries === Seq("_pairs_base", "_pairs_manifest"),
      s"group dirs and member lists fold into the manifest (got $entries)")
    assert(streaming.TurnStream.latestPairsManifest(spark, st + "/pairs").groups ===
      groups.map { case (g, ms) => g -> ms.toSeq.sorted })
    assert(turnOutcome(st) === oneShotOutcome)
    drainTurns(st, "ckpt2")
    drainTurns(st, "ckpt3", Some(1))
    assert(batchDirs(st).isEmpty, "done files must not land again")
    assert(turnOutcome(st) === oneShotOutcome)
  }

  test("a q188-shaped drain at the default runs one micro-batch per feed and at most 30 SQL executions") {
    val st = stageDay0("graft_turn_actions")
    feedDocs.repartition(4).write.parquet(st + "/docfeed")
    feedEmb.repartition(2).write.parquet(st + "/embfeed")
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val batches = new java.util.concurrent.atomic.AtomicInteger()
    val jobs = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          executions.incrementAndGet(); ()
        case _ =>
      }
    }
    val progress = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.durationMs.containsKey("addBatch")) { batches.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(jobs)
    spark.streams.addListener(progress)
    try {
      drainTurns(st, "ckpt")
      org.apache.spark.TestListenerBus.drain(sc)
    } finally {
      sc.removeSparkListener(jobs)
      spark.streams.removeListener(progress)
    }
    assert(batches.get === 2, "one micro-batch per feed")
    assert(executions.get <= 30, s"SQL executions: ${executions.get}")
    assert(turnOutcome(st) === oneShotOutcome)
  }

  test("IVF stream drain rebuilds the full-build assignments; replay appends nothing") {
    val bucket = Sampling.hashBucket(col("vec_id").cast("string"))
    val full = Files.createTempDirectory("graft_vs_full").toString + "/idx"
    Similarity.buildIvfIndex(embs, nlist = 16, path = full)
    def rows(p: String) = Similarity.loadIvfIndex(spark, p)._2
      .select(col("vec_id"), col("cell").cast("long"), col("u").cast("array<double>"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    val fullRows = rows(full)
    val st = Files.createTempDirectory("graft_vs_stream").toString
    Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/idx")
    val batch = embs.filter(bucket >= 80)
    Similarity.compactIvfIndex(spark, st + "/idx", batch.select("vec_id"))
    batch.repartition(4).write.parquet(st + "/feed")
    streaming.VectorStream.incrementalIvf(spark, st + "/feed", st + "/idx", st + "/ckpt")
    assert(rows(st + "/idx") === fullRows,
      "streamed assignments against the frozen centroids must equal the full build")
    streaming.VectorStream.incrementalIvf(spark, st + "/feed", st + "/idx", st + "/ckpt2")
    assert(rows(st + "/idx") === fullRows, "a full replay must not change the index")
  }

  test("PQ stream drain rebuilds the full-build codes; replay appends nothing") {
    val bucket = Sampling.hashBucket(col("vec_id").cast("string"))
    val full = Files.createTempDirectory("graft_ps_full").toString + "/idx"
    Similarity.buildPqIndex(embs, m = 8, ks = 16, path = full)
    def rows(p: String) = Similarity.loadPqIndex(spark, p)._2
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    val fullRows = rows(full)
    val st = Files.createTempDirectory("graft_ps_stream").toString
    Similarity.buildPqIndex(embs, m = 8, ks = 16, path = st + "/idx")
    val batch = embs.filter(bucket >= 80)
    Similarity.compactPqIndex(spark, st + "/idx", batch.select("vec_id"))
    batch.repartition(4).write.parquet(st + "/feed")
    streaming.VectorStream.incrementalPq(spark, st + "/feed", st + "/idx", st + "/ckpt")
    assert(rows(st + "/idx") === fullRows,
      "streamed codes against the frozen codebooks must equal the full build")
    streaming.VectorStream.incrementalPq(spark, st + "/feed", st + "/idx", st + "/ckpt2")
    assert(rows(st + "/idx") === fullRows, "a full replay must not change the index")
  }
}

object StreamIngestSpec {
  /** A pairs sink's uncompacted member lists: group id -> member digests. */
  def memberLists(fs: org.apache.hadoop.fs.FileSystem, pairsOut: String): Map[String, Set[String]] = {
    val dir = new org.apache.hadoop.fs.Path(pairsOut + "/_pairs_groups")
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq.map { f =>
      val in = fs.open(f.getPath)
      val lines = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      f.getPath.getName -> lines.split("\n").filter(_.nonEmpty).map(_.split("\t").head).toSet
    }.toMap
  }
}
