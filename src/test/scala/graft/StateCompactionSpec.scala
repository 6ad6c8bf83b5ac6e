package graft

import java.nio.file.Files

import graft.operators.{Dedup, Similarity}
import graft.sources.StateTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stale-key compaction for the persisted state tier — the maintenance
  * half the daily loop's append-only contract defers: compaction must
  * leave state EQUAL to a fresh full build over the current corpus
  * (the equality the q151 oracle defines, here asserted table-level),
  * and heal removed keys without a worklist. Crash windows of the
  * commit itself are StateTableSpec's.
  */
class StateCompactionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def member(root: String, m: String): String = StateTable(spark, root).path(m)

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.load(spark, sf, "documents")
  private def embs = Tables.load(spark, sf, "embeddings")

  private def sigRows(path: String): Set[Seq[Any]] =
    spark.read.parquet(member(path, StateTable.Sigs)).collect().toSet[org.apache.spark.sql.Row]
      .map(r => r.toSeq)

  test("signature compaction heals edits, removals and lost appends to a fresh-build state") {
    val state = Files.createTempDirectory("graft_sig_compact").toString
    val fresh = Files.createTempDirectory("graft_sig_fresh").toString
    // tampered day-0 corpus: stale drafts for doc_id % 7 = 0, ghost
    // docs that get deleted before day 1, and one doc (max id) whose
    // append was "lost" (absent from state despite being current)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val changed = docs.filter(col("doc_id") % 7 === 0 && col("doc_id") =!= maxId)
    val day0 = docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") =!= maxId)
      .unionByName(changed.withColumn("text", concat(col("text"), lit(" stale draft"))))
      .unionByName(docs.filter(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 1000000))
    Dedup.persistMinhashSignatures(day0, 3, 16, 4, state)
    // duplicate-append: an identical batch re-delivered (staged via a
    // temp table so the append never races its own scan)
    val dupBatch = docs.filter(col("doc_id") % 7 === 1)
    val dupTmp = Files.createTempDirectory("graft_sig_dup").toString + "/d"
    spark.read.parquet(member(state, StateTable.Sigs))
      .join(dupBatch.select("doc_id"), Seq("doc_id"), "left_semi")
      .write.parquet(dupTmp)
    spark.read.parquet(dupTmp).write.mode("append").parquet(member(state, StateTable.Sigs))

    Dedup.compactSignatures(docs, 3, 16, 4, state, changed.select("doc_id"))
    Dedup.persistMinhashSignatures(docs, 3, 16, 4, fresh)
    assert(sigRows(state) === sigRows(fresh))
    // the ghosts are gone even though the worklist never named them
    assert(spark.read.parquet(member(state, StateTable.Sigs))
      .filter(col("doc_id") >= 1000000).count() === 0)
  }

  test("compacted signature state keeps serving the incremental path") {
    val state = Files.createTempDirectory("graft_sig_serve").toString
    val freshState = Files.createTempDirectory("graft_sig_serve_fresh").toString
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    // history state carries stale text for % 10 = 5 docs; compact heals
    val changed = hist.filter(col("doc_id") % 10 === 5)
    val tampered = hist.filter(col("doc_id") % 10 =!= 5)
      .unionByName(changed.withColumn("text", concat(col("text"), lit(" v2 draft"))))
    Dedup.persistMinhashSignatures(tampered, 3, 16, 4, state)
    Dedup.compactSignatures(hist, 3, 16, 4, state, changed.select("doc_id"))
    Dedup.persistMinhashSignatures(hist, 3, 16, 4, freshState)
    val viaCompacted = Dedup.incrementalMinhashEstimated(batch, 3, 16, 4, 0.5, state)
    val viaFresh = Dedup.incrementalMinhashEstimated(batch, 3, 16, 4, 0.5, freshState)
    assert(viaCompacted.collect().toSeq === viaFresh.collect().toSeq)
  }

  test("IVF compaction + re-append equals a fresh build over the current corpus") {
    val idx = Files.createTempDirectory("graft_ivf_compact").toString + "/idx"
    val full = Files.createTempDirectory("graft_ivf_compact_full").toString + "/idx"
    val stale = embs.filter(col("vec_id") >= 16 && col("vec_id") % 9 === 0)
    val ghosts = embs.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 1000000)
    val day0 = embs.join(stale.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(stale.withColumn("embedding", reverse(col("embedding"))))
      .unionByName(ghosts)
    Similarity.buildIvfIndex(day0, nlist = 16, path = idx)
    Similarity.compactIvfIndex(spark, idx,
      stale.select("vec_id").unionByName(ghosts.select("vec_id")))
    Similarity.appendToIvfIndex(stale, spark, idx)
    Similarity.buildIvfIndex(embs, nlist = 16, path = full)
    // table-level: assignments identical as (vec_id, cell, u) sets
    def rows(p: String) = spark.read.parquet(member(p, StateTable.Assignments))
      .select(col("vec_id"), col("cell").cast("long"),
        col("u").cast("array<double>"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(rows(idx) === rows(full))
    // and query-level, through the probe path
    val healed = Similarity.cosineTopKIvfIndexed(spark, idx, nQueries = 8, k = 6, nprobe = 3)
    val rebuilt = Similarity.cosineTopKIvfIndexed(spark, full, nQueries = 8, k = 6, nprobe = 3)
    assert(healed.collect().toSeq === rebuilt.collect().toSeq)
  }

  test("PQ compaction + re-append equals a one-shot encode against the persisted codebooks") {
    val idx = Files.createTempDirectory("graft_pq_compact").toString + "/idx"
    val ref = Files.createTempDirectory("graft_pq_compact_ref").toString + "/idx"
    // day-0 build over the real corpus; a deprecated batch (ghost
    // duplicates) and a stale batch (reversed vectors under new ids)
    // land via the daily append path
    Similarity.buildPqIndex(embs, m = 8, ks = 16, path = idx)
    val ghosts = embs.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 1000000)
    val stale = embs.filter(col("vec_id") >= 20 && col("vec_id") < 40)
      .withColumn("vec_id", col("vec_id") + 2000000)
      .withColumn("embedding", reverse(col("embedding")))
    Similarity.appendToPqIndex(ghosts, spark, idx)
    Similarity.appendToPqIndex(stale, spark, idx)
    // rollback: compaction drops both batches' rows, codebooks untouched
    Similarity.compactPqIndex(spark, idx,
      ghosts.select("vec_id").unionByName(stale.select("vec_id")))
    // reference: one-shot encode of the current corpus against the SAME
    // codebooks (copy them, then append-encode into an empty code table)
    val cb = spark.read.parquet(member(idx, StateTable.Codebooks))
    cb.write.parquet(member(ref, StateTable.Codebooks))
    Similarity.appendToPqIndex(embs, spark, ref)
    def codeRows(p: String) = spark.read.parquet(member(p, StateTable.Codes))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(codeRows(idx) === codeRows(ref))
    // and through the probe path
    val healed = Similarity.pqTopKIndexed(embs, spark, idx, nQueries = 4, k = 6, rerank = 24)
    val pristine = Similarity.pqTopKIndexed(embs, spark, ref, nQueries = 4, k = 6, rerank = 24)
    assert(healed.collect().toSeq === pristine.collect().toSeq)
  }

  test("healEdits daily loop leaves BOTH state tables equal to a fresh build on the current corpus") {
    val st = Files.createTempDirectory("graft_daily_heal").toString
    val freshSig = Files.createTempDirectory("graft_daily_heal_sig").toString
    val freshIvf = Files.createTempDirectory("graft_daily_heal_ivf").toString + "/idx"
    // yesterday: stale drafts, ghosts, and a missing today's batch —
    // the q162 staging at spec scale
    val changedDocs = docs.filter(col("doc_id") % 35 === 7)
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
      .unionByName(changedDocs.withColumn("text", concat(col("text"), lit(" stale draft"))))
      .unionByName(docs.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 1000000))
    val changedVec = embs.filter(
      col("vec_id") >= 16 && col("vec_id") % 9 === 0 && col("vec_id") % 5 =!= 0)
    val d1e = embs.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
    val day1Emb = d1e.join(changedVec.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(changedVec.withColumn("embedding", reverse(col("embedding"))))
      .unionByName(embs.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 1000000))
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(day1Emb, nlist = 16, path = st + "/ivf")
    Pipelines.dailyIncremental(spark, day1Docs, docs, day1Emb, embs,
      st + "/mh", st + "/ivf", healEdits = true)
      .values.foreach(_.write.format("noop").mode("overwrite").save())
    // after ONE healed turn, both state tables match a from-scratch
    // full build over today's corpus
    graft.operators.Dedup.persistMinhashSignatures(docs, 3, 16, 4, freshSig)
    assert(sigRows(st + "/mh") === sigRows(freshSig))
    Similarity.buildIvfIndex(embs, nlist = 16, path = freshIvf)
    def assignRows(p: String) = spark.read.parquet(member(p, StateTable.Assignments))
      .select(col("vec_id"), col("cell").cast("long"), col("u").cast("array<double>"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(assignRows(st + "/ivf") === assignRows(freshIvf))
  }

  test("signature tombstones: merge-on-read view equals a fresh build; compaction folds and clears them") {
    val state = Files.createTempDirectory("graft_sig_tomb").toString
    val fresh = Files.createTempDirectory("graft_sig_tomb_fresh").toString
    val changed = docs.filter(col("doc_id") % 7 === 0)
    val ghosts = docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 1000000)
    val day0 = docs.filter(col("doc_id") % 7 =!= 0)
      .unionByName(changed.withColumn("text", concat(col("text"), lit(" stale draft"))))
      .unionByName(ghosts)
    Dedup.persistMinhashSignatures(day0, 3, 16, 4, state)
    // O(|edits|) heal: changed docs re-signed from current text,
    // ghosts tombstoned away — NO rewrite of the state table
    Dedup.tombstoneSignatures(changed, 3, 16, 4, state, ghosts.select("doc_id"))
    Dedup.persistMinhashSignatures(docs, 3, 16, 4, fresh)
    def viewRows(p: String) = Dedup.loadSignatures(spark, p)
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(viewRows(state) === viewRows(fresh))
    // a "changed" doc whose text (hence signature) is unchanged is a
    // no-op: it must neither vanish nor duplicate
    Dedup.tombstoneSignatures(docs.filter(col("doc_id") === 1L), 3, 16, 4,
      state, docs.limit(0).select("doc_id"))
    assert(Dedup.loadSignatures(spark, state)
      .filter(col("doc_id") === 1L).count() === 1L)
    // compaction folds the tombstones into the rewrite and spends them
    Dedup.compactSignatures(docs, 3, 16, 4, state, docs.limit(0).select("doc_id"))
    assert(sigRows(state) === sigRows(fresh))
    assert(!StateTable(spark, state).hasTombstones)
  }

  test("IVF tombstones: merge-on-read view equals a fresh build; compaction folds and clears them") {
    val idx = Files.createTempDirectory("graft_ivf_tomb").toString + "/idx"
    val fresh = Files.createTempDirectory("graft_ivf_tomb_fresh").toString + "/idx"
    val changed = embs.filter(
      col("vec_id") >= 16 && col("vec_id") % 9 === 0)
    val ghosts = embs.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 1000000)
    val day0 = embs.join(changed.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(changed.withColumn("embedding", reverse(col("embedding"))))
      .unionByName(ghosts)
    Similarity.buildIvfIndex(day0, nlist = 16, path = idx)
    Similarity.tombstoneIvfIndex(changed, spark, idx, ghosts.select("vec_id"))
    Similarity.buildIvfIndex(embs, nlist = 16, path = fresh)
    def viewRows(p: String) = Similarity.loadIvfIndex(spark, p)._2
      .select(col("vec_id"), col("cell").cast("long"), col("u").cast("array<double>"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(viewRows(idx) === viewRows(fresh))
    // probes through the healed view answer like the pristine build
    val healed = Similarity.cosineTopKIvfIndexed(spark, idx, nQueries = 8, k = 6, nprobe = 3)
    val pristine = Similarity.cosineTopKIvfIndexed(spark, fresh, nQueries = 8, k = 6, nprobe = 3)
    assert(healed.collect().toSeq === pristine.collect().toSeq)
    Similarity.compactIvfIndex(spark, idx, embs.limit(0).select("vec_id"))
    assert(viewRows(idx) === viewRows(fresh))
    assert(!StateTable(spark, idx).hasTombstones)
  }

  test("PQ tombstones: healed view equals a one-shot encode against the persisted codebooks") {
    val idx = Files.createTempDirectory("graft_pq_tomb").toString + "/idx"
    val ref = Files.createTempDirectory("graft_pq_tomb_ref").toString + "/idx"
    val changed = embs.filter(col("vec_id") >= 20 && col("vec_id") < 40)
    val ghosts = embs.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 1000000)
    val day0 = embs.join(changed.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(changed.withColumn("embedding", reverse(col("embedding"))))
      .unionByName(ghosts)
    // codebooks train on the REAL corpus (they are the versioned
    // artifact); the stale/ghost rows land through the append path
    Similarity.buildPqIndex(embs, m = 8, ks = 16, path = idx)
    Similarity.compactPqIndex(spark, idx, embs.select("vec_id")) // empty the codes
    Similarity.appendToPqIndex(day0, spark, idx)
    Similarity.tombstonePqIndex(changed, spark, idx, ghosts.select("vec_id"))
    // reference: same codebooks, one-shot encode of the current corpus
    spark.read.parquet(member(idx, StateTable.Codebooks)).write.parquet(member(ref, StateTable.Codebooks))
    Similarity.appendToPqIndex(embs, spark, ref)
    val healed = Similarity.pqTopKIndexed(embs, spark, idx, nQueries = 4, k = 6, rerank = 24)
    val pristine = Similarity.pqTopKIndexed(embs, spark, ref, nQueries = 4, k = 6, rerank = 24)
    assert(healed.collect().toSeq === pristine.collect().toSeq)
    // compaction folds the tombstones away and the raw table matches
    Similarity.compactPqIndex(spark, idx, embs.limit(0).select("vec_id"))
    def codeRows(p: String) = spark.read.parquet(member(p, StateTable.Codes))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(codeRows(idx) === codeRows(ref))
    assert(!StateTable(spark, idx).hasTombstones)
  }

  test("recentering from state heals an edited centroid vector to a fresh-build index") {
    val idx = Files.createTempDirectory("graft_recenter").toString + "/idx"
    val fresh = Files.createTempDirectory("graft_recenter_fresh").toString + "/idx"
    // the staged edit includes a CENTROID vector (vec_id 3): the
    // tombstone heal fixes its assignment row but the centroid table
    // keeps the old vector — only re-centering restores fresh-build
    // equality
    val changed = embs.filter(
      col("vec_id") === 3 || (col("vec_id") >= 16 && col("vec_id") % 9 === 0))
    val ghosts = embs.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 1000000)
    val day0 = embs.join(changed.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(changed.withColumn("embedding", reverse(col("embedding"))))
      .unionByName(ghosts)
    Similarity.buildIvfIndex(day0, nlist = 16, path = idx)
    Similarity.tombstoneIvfIndex(changed, spark, idx, ghosts.select("vec_id"))
    Similarity.buildIvfIndex(embs, nlist = 16, path = fresh)
    def rows(p: String, part: String) = spark.read.parquet(member(p, part))
      .select(spark.read.parquet(member(fresh, part)).columns.map(c =>
        if (c == "cell") col(c).cast("long") else col(c)): _*)
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    // pre-recenter: centroid 3 is stale, so the index disagrees with
    // a fresh build (if it didn't, the operator would be pointless)
    assert(rows(idx, StateTable.Centroids) !== rows(fresh, StateTable.Centroids))
    Similarity.recenterIvfIndex(spark, idx)
    assert(rows(idx, StateTable.Centroids) === rows(fresh, StateTable.Centroids))
    assert(rows(idx, StateTable.Assignments) === rows(fresh, StateTable.Assignments))
    assert(!StateTable(spark, idx).hasTombstones,
      "spent tombstones must vanish with the old generation")
    val healed = Similarity.cosineTopKIvfIndexed(spark, idx, nQueries = 8, k = 6, nprobe = 3)
    val pristine = Similarity.cosineTopKIvfIndexed(spark, fresh, nQueries = 8, k = 6, nprobe = 3)
    assert(healed.collect().toSeq === pristine.collect().toSeq)
  }

  test("tombstone-healed daily loop leaves both merge-on-read views equal to a fresh build") {
    val st = Files.createTempDirectory("graft_daily_tomb").toString
    val freshSig = Files.createTempDirectory("graft_daily_tomb_sig").toString
    val freshIvf = Files.createTempDirectory("graft_daily_tomb_ivf").toString + "/idx"
    val changedDocs = docs.filter(col("doc_id") % 35 === 7)
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
      .unionByName(changedDocs.withColumn("text", concat(col("text"), lit(" stale draft"))))
      .unionByName(docs.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 1000000))
    val changedVec = embs.filter(
      col("vec_id") >= 16 && col("vec_id") % 9 === 0 && col("vec_id") % 5 =!= 0)
    val d1e = embs.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
    val day1Emb = d1e.join(changedVec.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(changedVec.withColumn("embedding", reverse(col("embedding"))))
      .unionByName(embs.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 1000000))
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(day1Emb, nlist = 16, path = st + "/ivf")
    Pipelines.dailyIncremental(spark, day1Docs, docs, day1Emb, embs,
      st + "/mh", st + "/ivf", healEdits = true, healVia = "tombstone")
      .values.foreach(_.write.format("noop").mode("overwrite").save())
    graft.operators.Dedup.persistMinhashSignatures(docs, 3, 16, 4, freshSig)
    def sigView(p: String) = Dedup.loadSignatures(spark, p)
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(sigView(st + "/mh") === sigView(freshSig))
    Similarity.buildIvfIndex(embs, nlist = 16, path = freshIvf)
    def assignView(p: String) = Similarity.loadIvfIndex(spark, p)._2
      .select(col("vec_id"), col("cell").cast("long"), col("u").cast("array<double>"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(assignView(st + "/ivf") === assignView(freshIvf))
  }

  test("daily loop DSIR tier: healed turn scores the current corpus like the inline weights") {
    val st = Files.createTempDirectory("graft_daily_dsir").toString
    val changedDocs = docs.filter(col("doc_id") % 35 === 7)
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
      .unionByName(changedDocs.withColumn("text", concat(col("text"), lit(" stale draft"))))
      .unionByName(docs.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 1000000))
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    // day-0 DSIR state at NON-default params: the loop must pick the
    // stamp off the state, not assume the defaults
    graft.operators.TextAnalysis.persistDsirState(day1Docs, "src0", st + "/dsir",
      buckets = 32, ngram = 2)
    Pipelines.dailyIncremental(spark, day1Docs, docs, embs, embs,
      st + "/mh", st + "/ivf", healEdits = true,
      dsirStatePath = Some(st + "/dsir"))
      .values.foreach(_.write.format("noop").mode("overwrite").save())
    val fromState = graft.operators.TextAnalysis.dsirWeightsFromState(
      docs, spark, st + "/dsir", "src0", buckets = 32, ngram = 2)
    val inline = graft.operators.TextAnalysis.dsirWeights(docs, "src0",
      buckets = 32, ngram = 2)
    assert(inline.exceptAll(fromState).isEmpty && fromState.exceptAll(inline).isEmpty)
  }

  test("daily loop DSIR tier: grow-only turn appends only the added batch") {
    val st = Files.createTempDirectory("graft_daily_dsir_grow").toString
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    graft.operators.TextAnalysis.persistDsirState(day1Docs, "src0", st + "/dsir")
    Pipelines.dailyIncremental(spark, day1Docs, docs, embs, embs,
      st + "/mh", st + "/ivf",
      dsirStatePath = Some(st + "/dsir"))
      .values.foreach(_.write.format("noop").mode("overwrite").save())
    val fromState = graft.operators.TextAnalysis.dsirWeightsFromState(
      docs, spark, st + "/dsir", "src0")
    val inline = graft.operators.TextAnalysis.dsirWeights(docs, "src0")
    assert(inline.exceptAll(fromState).isEmpty && fromState.exceptAll(inline).isEmpty)
  }

  test("atomic rebuild/retrain equals a plain build") {
    val ivf = Files.createTempDirectory("graft_rebuild_ivf").toString + "/idx"
    val pq = Files.createTempDirectory("graft_retrain_pq").toString + "/idx"
    val refIvf = Files.createTempDirectory("graft_rebuild_ivf_ref").toString + "/idx"
    val refPq = Files.createTempDirectory("graft_retrain_pq_ref").toString + "/idx"
    val old = embs.filter(col("vec_id") % 3 =!= 0)
    Similarity.buildIvfIndex(old, nlist = 16, path = ivf)
    Similarity.buildPqIndex(old, m = 8, ks = 16, path = pq)
    Similarity.rebuildIvfIndex(embs, spark, nlist = 16, path = ivf)
    Similarity.retrainPqIndex(embs, spark, m = 8, ks = 16, path = pq)
    Similarity.buildIvfIndex(embs, nlist = 16, path = refIvf)
    Similarity.buildPqIndex(embs, m = 8, ks = 16, path = refPq)
    val a = Similarity.cosineTopKIvfIndexed(spark, ivf, nQueries = 8, k = 6, nprobe = 3)
    val b = Similarity.cosineTopKIvfIndexed(spark, refIvf, nQueries = 8, k = 6, nprobe = 3)
    assert(a.collect().toSeq === b.collect().toSeq)
    val c = Similarity.pqTopKIndexed(embs, spark, pq, nQueries = 4, k = 6, rerank = 24)
    val d = Similarity.pqTopKIndexed(embs, spark, refPq, nQueries = 4, k = 6, rerank = 24)
    assert(c.collect().toSeq === d.collect().toSeq)
  }

  test("tombstone heal is idempotent: full-duplicate retry and mid-crash retry both converge") {
    def stage(): (String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
      val st = Files.createTempDirectory("graft_tomb_retry").toString
      Dedup.persistMinhashSignatures(docs, 3, 16, 4, st)
      val changed = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(lit("rewritten entirely "), col("doc_id").cast("string")))
      val removed = docs.filter(col("doc_id") % 11 === 3 && col("doc_id") % 7 =!= 0)
      (st, changed, removed)
    }
    def view(p: String) = Dedup.loadSignatures(spark, p)
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)

    // full-duplicate retry: a second identical call (e.g. a re-run
    // task whose first attempt fully committed) must change nothing —
    // the old rows are already tombstoned and the fresh rows already
    // present, so both excepts cancel
    val (st1, ch1, rm1) = stage()
    Dedup.tombstoneSignatures(ch1, 3, 16, 4, st1, rm1.select("doc_id"))
    val once = view(st1)
    Dedup.tombstoneSignatures(ch1, 3, 16, 4, st1, rm1.select("doc_id"))
    assert(view(st1) === once, "a duplicate heal must be a no-op")

    // mid-crash retry: tombstones landed, the fresh append didn't
    // (simulated by healing with an empty changed set first — which
    // tombstones nothing — then tombstoning via the removed path and
    // re-running the real heal). The retry's tombstone side is empty
    // and its append side re-lands the fresh rows.
    val (st2, ch2, rm2) = stage()
    // simulate the crash window: only the tombstone write of the heal
    Dedup.tombstoneSignatures(docs.limit(0), 3, 16, 4, st2,
      ch2.select("doc_id").unionByName(rm2.select("doc_id")))
    // the changed docs are now absent from the view (consistent, never
    // duplicated) — exactly the documented crash state
    assert(Dedup.loadSignatures(spark, st2)
      .join(ch2.select("doc_id"), Seq("doc_id"), "left_semi").count() === 0L)
    Dedup.tombstoneSignatures(ch2, 3, 16, 4, st2, rm2.select("doc_id"))
    assert(view(st2) === once.map(identity), "the retry must converge to the healed state")
  }

  test("a retried daily turn is a complete state no-op across all three tiers") {
    val st = Files.createTempDirectory("graft_daily_retry").toString
    val changedDocs = docs.filter(col("doc_id") % 35 === 7)
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
      .unionByName(changedDocs.withColumn("text", concat(col("text"), lit(" stale draft"))))
      .unionByName(docs.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 1000000))
    val d1e = embs.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(d1e, nlist = 16, path = st + "/ivf")
    Similarity.buildPqIndex(embs, m = 8, ks = 16, path = st + "/pq")
    Similarity.compactPqIndex(spark, st + "/pq", embs.select("vec_id"))
    Similarity.appendToPqIndex(d1e, spark, st + "/pq")
    graft.operators.TextAnalysis.persistDsirState(day1Docs, "src0", st + "/dsir")
    graft.operators.TextAnalysis.persistBpeVocab(docs, merges = 3, st + "/bpe")
    graft.operators.TextAnalysis.persistEncodedCorpus(day1Docs, spark, st + "/bpe", st + "/enc")
    def turn() = Pipelines.dailyIncremental(spark, day1Docs, docs, d1e, embs,
      st + "/mh", st + "/ivf", healEdits = true,
      dsirStatePath = Some(st + "/dsir"), healVia = "tombstone",
      runId = Some("day-1"), pqPath = Some(st + "/pq"),
      bpeVocabPath = Some(st + "/bpe"), encodedPath = Some(st + "/enc"))
    val firstPairs = turn()("dedup_pairs").collect().toSeq
    def sigView() = Dedup.loadSignatures(spark, st + "/mh")
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    def ivfView() = Similarity.loadIvfIndex(spark, st + "/ivf")._2
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    def pqView() = Similarity.loadPqIndex(spark, st + "/pq")._2
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    def dsirCells() = spark.read.parquet(member(st + "/dsir", StateTable.Buckets))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    def encView() = graft.operators.TextAnalysis.loadEncodedCorpus(spark, st + "/enc")
      .select(col("doc_id"), col("fp"), col("ids").cast("string"), col("n_tokens"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    val (s1, i1, p1, d1, e1) = (sigView(), ivfView(), pqView(), dsirCells(), encView())
    val retryPairs = turn()("dedup_pairs").collect().toSeq
    assert(retryPairs === firstPairs, "the retry must emit the same pairs")
    assert(sigView() === s1, "signature state must be unchanged by the retry")
    assert(ivfView() === i1, "IVF state must be unchanged by the retry")
    assert(pqView() === p1, "PQ codes must be unchanged by the retry")
    assert(dsirCells() === d1, "DSIR cells must be unchanged by the retry (no double-count)")
    assert(encView() === e1, "encoded-corpus state must be unchanged by the retry")
    // the explicit-runId retry above was answered by the turn-
    // completion LEDGER (one filesystem probe). The per-tier replay
    // guards must ALSO still hold on their own — they are the
    // crash-resume path, taken when a turn dies before its marker
    // lands. Simulate exactly that: delete the marker and re-run;
    // every tier must again be a state no-op.
    val marker = new java.io.File(st + "/mh/_turns")
    assert(marker.isDirectory && marker.listFiles().nonEmpty,
      "a completed explicit-runId turn must leave its ledger marker")
    marker.listFiles().foreach(f => assert(f.delete()))
    turn()("dedup_pairs").write.format("noop").mode("overwrite").save()
    assert(sigView() === s1, "per-tier guards: signature state unchanged without the marker")
    assert(ivfView() === i1, "per-tier guards: IVF state unchanged without the marker")
    assert(pqView() === p1, "per-tier guards: PQ codes unchanged without the marker")
    assert(dsirCells() === d1, "per-tier guards: DSIR cells unchanged without the marker")
    assert(encView() === e1, "per-tier guards: encoded corpus unchanged without the marker")
    // and the loop-fed PQ tier equals a one-shot encode of the current
    // corpus against the same codebooks
    val ref = Files.createTempDirectory("graft_daily_retry_pqref").toString + "/idx"
    spark.read.parquet(member(st + "/pq", StateTable.Codebooks)).write.parquet(member(ref, StateTable.Codebooks))
    Similarity.appendToPqIndex(embs, spark, ref)
    assert(pqView() === Similarity.loadPqIndex(spark, ref)._2
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq))
  }

  test("cadence-gated compaction runs only past the tombstone-fraction threshold") {
    val state = Files.createTempDirectory("graft_sig_cadence").toString
    Dedup.persistMinhashSignatures(docs, 3, 16, 4, state)
    val none = docs.limit(0).select("doc_id")
    // edits REPLACE the text outright: an appended suffix often leaves
    // every minhash minimum intact and the heal's no-op cancel writes
    // nothing (by design — see tombstoneSignatures), which would keep
    // the fraction at zero and never exercise the gate
    def rewritten(d: org.apache.spark.sql.DataFrame, v: String) =
      d.withColumn("text",
        concat(lit(s"totally new $v draft for doc "), col("doc_id").cast("string")))
    // a 1-doc edit: far under a 10% threshold
    val small = rewritten(docs.filter(col("doc_id") === 1L), "v2")
    Dedup.tombstoneSignatures(small, 3, 16, 4, state, none)
    assert(!Dedup.compactSignaturesIfNeeded(
      docs.filter(col("doc_id") =!= 1L).unionByName(small), 3, 16, 4, state, none),
      "under-threshold heal must not trigger the rewrite")
    assert(StateTable(spark, state).hasTombstones,
      "tombstones must survive a skipped compaction")
    // a 20% edit wave pushes past the threshold
    val wave = rewritten(docs.filter(col("doc_id") % 5 === 0), "v3")
    Dedup.tombstoneSignatures(wave, 3, 16, 4, state, none)
    val current = docs.filter(col("doc_id") =!= 1L && col("doc_id") % 5 =!= 0)
      .unionByName(small).unionByName(wave)
    assert(Dedup.compactSignaturesIfNeeded(current, 3, 16, 4, state, none),
      "over-threshold backlog must trigger the rewrite")
    assert(!StateTable(spark, state).hasTombstones)
    // and the folded state equals a fresh build over the current corpus
    val fresh = Files.createTempDirectory("graft_sig_cadence_fresh").toString
    Dedup.persistMinhashSignatures(current, 3, 16, 4, fresh)
    assert(sigRows(state) === sigRows(fresh))

    // the IVF/PQ twins gate off the same stats: a heavy edit wave
    // triggers, a clean table does not
    val idx = Files.createTempDirectory("graft_ivf_cadence").toString + "/idx"
    Similarity.buildIvfIndex(embs, nlist = 16, path = idx)
    val none2 = embs.limit(0).select("vec_id")
    assert(!Similarity.compactIvfIndexIfNeeded(spark, idx, none2),
      "tombstone-free IVF index must not rewrite")
    val vecWave = embs.filter(col("vec_id") >= 16 && col("vec_id") % 4 === 0)
      .withColumn("embedding", reverse(col("embedding")))
    Similarity.tombstoneIvfIndex(vecWave, spark, idx, none2)
    assert(Similarity.compactIvfIndexIfNeeded(spark, idx, none2),
      "a 25% edit wave must trigger the IVF rewrite")
    assert(!StateTable(spark, idx).hasTombstones)
    val pq = Files.createTempDirectory("graft_pq_cadence").toString + "/idx"
    Similarity.buildPqIndex(embs, m = 8, ks = 16, path = pq)
    assert(!Similarity.compactPqIndexIfNeeded(spark, pq, none2),
      "tombstone-free PQ index must not rewrite")
    Similarity.tombstonePqIndex(vecWave, spark, pq, none2)
    assert(Similarity.compactPqIndexIfNeeded(spark, pq, none2),
      "a 25% edit wave must trigger the PQ rewrite")
    assert(!StateTable(spark, pq).hasTombstones)
  }

  test("merge-on-read views plan a broadcast anti-join (and nothing at all when tombstone-free)") {
    val state = Files.createTempDirectory("graft_tomb_plan").toString
    Dedup.persistMinhashSignatures(docs, 3, 16, 4, state)
    // no tombstones: the view is a plain scan — no join node may appear
    val clean = Dedup.loadSignatures(spark, state)
      .queryExecution.executedPlan.toString
    assert(!clean.contains("Join"),
      s"tombstone-free view must add nothing to the read:\n${clean.take(800)}")
    Dedup.tombstoneSignatures(docs.filter(col("doc_id") === 1L), 3, 16, 4,
      state, docs.filter(col("doc_id") === 2L).select("doc_id"))
    // with tombstones: the |edits|-row side must BROADCAST — a
    // shuffled anti-join would re-exchange the whole state table on
    // every read, exactly the cost the tier exists to avoid
    val healed = Dedup.loadSignatures(spark, state)
      .queryExecution.executedPlan.toString
    assert(healed.contains("BroadcastHashJoin") && healed.contains("LeftAnti"),
      s"tombstone view must broadcast-anti-join:\n${healed.take(800)}")
  }

  test("a fully-tombstoned table fires the cadence gate (live = 0 edge)") {
    val state = Files.createTempDirectory("graft_sig_fulltomb").toString
    val none = docs.limit(0).select("doc_id")
    val few = docs.filter(col("doc_id") < 8)
    Dedup.persistMinhashSignatures(few, 3, 16, 4, state)
    // the whole day-0 corpus is withdrawn: every stored row tombstoned,
    // nothing re-signed — live drains to ZERO while the read-side
    // anti-join tax is at its maximum. tombs/live would divide by zero;
    // the stats must report a gate-firing fraction, not 0.0
    Dedup.tombstoneSignatures(few.limit(0), 3, 16, 4, state, few.select("doc_id"))
    val (live, tombs, frac) = StateTable(spark, state).stats(StateTable.Sigs)
    assert(live === 0L && tombs > 0L,
      s"staging broke: expected a fully-tombstoned table (live=$live tombs=$tombs)")
    assert(frac > 0.1, s"live=0 with outstanding tombstones must fire the gate (frac=$frac)")
    // the gate fires and compaction rebuilds for the successor corpus
    val successor = docs.filter(col("doc_id") >= 8 && col("doc_id") < 16)
    assert(Dedup.compactSignaturesIfNeeded(successor, 3, 16, 4, state, none),
      "compactSignaturesIfNeeded must trigger on a fully-tombstoned table")
    assert(!StateTable(spark, state).hasTombstones)
    val fresh = Files.createTempDirectory("graft_sig_fulltomb_fresh").toString
    Dedup.persistMinhashSignatures(successor, 3, 16, 4, fresh)
    assert(sigRows(state) === sigRows(fresh))
  }

  test("the loop turn runs its own cadence-gated maintenance across all three tiers") {
    val st = Files.createTempDirectory("graft_daily_maintain").toString
    // a ~50% rewrite wave: the tombstone-mode heal crosses the 10%
    // gate INSIDE the turn, so the turn itself must compact — no
    // orchestrator compaction DAG exists in this test on purpose
    val changed = docs.filter(col("doc_id") % 2 === 0)
    val day1Docs = docs.filter(col("doc_id") % 2 =!= 0)
      .unionByName(changed.withColumn("text",
        concat(lit("totally different stale draft for doc "), col("doc_id").cast("string"))))
    val changedVec = embs.filter(col("vec_id") >= 16 && col("vec_id") % 2 === 0)
    val day1Emb = embs.join(changedVec.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(changedVec.withColumn("embedding", reverse(col("embedding"))))
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(day1Emb, nlist = 16, path = st + "/ivf")
    Similarity.buildPqIndex(day1Emb, m = 8, ks = 16, path = st + "/pq")
    Pipelines.dailyIncremental(spark, day1Docs, docs, day1Emb, embs,
      st + "/mh", st + "/ivf", healEdits = true, healVia = "tombstone",
      pqPath = Some(st + "/pq"))
      .values.foreach(_.write.format("noop").mode("overwrite").save())
    // the turn compacted each tier: zero outstanding tombstones
    assert(!StateTable(spark, st + "/mh").hasTombstones,
      "the turn must have compacted the signature tier")
    assert(!StateTable(spark, st + "/ivf").hasTombstones,
      "the turn must have compacted the IVF tier")
    assert(!StateTable(spark, st + "/pq").hasTombstones,
      "the turn must have compacted the PQ tier")
    // and each state table equals a fresh full build over today
    val freshSig = Files.createTempDirectory("graft_daily_maintain_sig").toString
    graft.operators.Dedup.persistMinhashSignatures(docs, 3, 16, 4, freshSig)
    assert(sigRows(st + "/mh") === sigRows(freshSig))
    val freshIvf = Files.createTempDirectory("graft_daily_maintain_ivf").toString + "/idx"
    Similarity.buildIvfIndex(embs, nlist = 16, path = freshIvf)
    def assignRows(p: String) = spark.read.parquet(member(p, StateTable.Assignments))
      .select(col("vec_id"), col("cell").cast("long"), col("u").cast("array<double>"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(assignRows(st + "/ivf") === assignRows(freshIvf))
    val pqRef = Files.createTempDirectory("graft_daily_maintain_pqref").toString + "/idx"
    spark.read.parquet(member(st + "/pq", StateTable.Codebooks)).write.parquet(member(pqRef, StateTable.Codebooks))
    Similarity.appendToPqIndex(embs, spark, pqRef)
    def pqRows(p: String) = Similarity.loadPqIndex(spark, p)._2
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(pqRows(st + "/pq") === pqRows(pqRef))

    // maintain = false keeps compaction an external event: the same
    // staging leaves its tombstones in place
    val st2 = Files.createTempDirectory("graft_daily_nomaintain").toString
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st2 + "/mh")
    Similarity.buildIvfIndex(day1Emb, nlist = 16, path = st2 + "/ivf")
    Pipelines.dailyIncremental(spark, day1Docs, docs, day1Emb, embs,
      st2 + "/mh", st2 + "/ivf", healEdits = true, healVia = "tombstone",
      maintain = false)
      .values.foreach(_.write.format("noop").mode("overwrite").save())
    assert(StateTable(spark, st2 + "/mh").hasTombstones,
      "maintain = false must leave the tombstones for the external schedule")
  }

  test("the run manifest records counts, fractions and maintenance decisions per turn") {
    val st = Files.createTempDirectory("graft_daily_manifest").toString
    val changedDocs = docs.filter(col("doc_id") % 35 === 7)
    val ghosts = docs.filter(col("doc_id") < 30)
      .withColumn("doc_id", col("doc_id") + 1000000)
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
      .unionByName(changedDocs.withColumn("text", concat(col("text"), lit(" stale draft"))))
      .unionByName(ghosts)
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    def turn() = Pipelines.dailyIncremental(spark, day1Docs, docs, embs, embs,
      st + "/mh", st + "/ivf", healEdits = true, healVia = "tombstone",
      runId = Some("day-1"), manifestPath = Some(st + "/manifest"))
    turn()("dedup_pairs").write.format("noop").mode("overwrite").save()
    val m1 = spark.read.parquet(st + "/manifest").collect()
    assert(m1.length === 1, "one turn, one manifest row")
    val r = m1.head
    def g[T](c: String): T = r.getAs[T](c)
    assert(g[Long]("turn_seq") === 1L)
    assert(g[String]("run_id") === "day-1")
    assert(g[Long]("docs_added") === docs.filter(col("doc_id") % 5 === 0).count())
    assert(g[Long]("docs_changed") === changedDocs.count())
    assert(g[Long]("docs_removed") === ghosts.count())
    assert(g[Long]("emb_added") === 0L && g[Long]("emb_changed") === 0L
      && g[Long]("emb_removed") === 0L)
    // liveness is recorded post-maintenance and must be self-consistent
    assert(g[Long]("sig_live") > 0L)
    if (g[Boolean]("sig_compacted")) assert(g[Long]("sig_tombs") === 0L)
    assert(g[Long]("ivf_live") > 0L && g[Long]("ivf_tombs") === 0L)
    // no PQ tier in this turn: sentinel -1 rather than a fake zero
    assert(g[Long]("pq_live") === -1L && g[Boolean]("pq_compacted") === false)
    // a second (retried) turn appends its own row — the audit trail
    // shows the retry happened even though state did not move
    turn()("dedup_pairs").write.format("noop").mode("overwrite").save()
    val m2 = spark.read.parquet(st + "/manifest").collect()
    assert(m2.length === 2)
    assert(m2.map(_.getAs[Long]("turn_seq")).sorted.toSeq === Seq(1L, 2L))
  }

  test("a runId-less DSIR turn derives a content-hash stamp: double delivery is a no-op") {
    val st = Files.createTempDirectory("graft_daily_autostamp").toString
    val changedDocs = docs.filter(col("doc_id") % 35 === 7)
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
      .unionByName(changedDocs.withColumn("text", concat(col("text"), lit(" stale draft"))))
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    graft.operators.TextAnalysis.persistDsirState(day1Docs, "src0", st + "/dsir")
    def turn(current: org.apache.spark.sql.DataFrame) =
      Pipelines.dailyIncremental(spark, day1Docs, current, embs, embs,
        st + "/mh", st + "/ivf", healEdits = true, healVia = "tombstone",
        dsirStatePath = Some(st + "/dsir")) // deliberately NO runId
    def cells() = spark.read.parquet(member(st + "/dsir", StateTable.Buckets))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    turn(docs)("dedup_pairs").write.format("noop").mode("overwrite").save()
    val afterFirst = cells()
    // the retry re-delivers the identical diff: the derived stamp
    // matches and the sum-shaped appends must skip
    turn(docs)("dedup_pairs").write.format("noop").mode("overwrite").save()
    assert(cells() === afterFirst,
      "same-content redelivery without a runId must not double-count DSIR sums")
    // a GENUINE later edit of the same keys hashes differently (the
    // text fingerprints moved) and must still append
    val day2 = docs.filter(col("doc_id") % 35 =!= 7)
      .unionByName(changedDocs.withColumn("text", concat(col("text"), lit(" second revision"))))
    Pipelines.dailyIncremental(spark, docs, day2, embs, embs,
      st + "/mh", st + "/ivf", healEdits = true, healVia = "tombstone",
      dsirStatePath = Some(st + "/dsir"))("dedup_pairs")
      .write.format("noop").mode("overwrite").save()
    assert(cells() !== afterFirst,
      "a different edit wave must append (its content hash differs)")
    // and the healed state still scores like the inline full corpus
    val fromState = graft.operators.TextAnalysis
      .dsirWeightsFromState(day2, spark, st + "/dsir", "src0")
      .collect().toSeq
    val inline = graft.operators.TextAnalysis.dsirWeights(day2, "src0")
      .collect().toSeq
    assert(fromState === inline)
  }

  test("pre-stamp DSIR state (no ng/bid columns) migrates once and keeps serving") {
    val stNew = Files.createTempDirectory("graft_dsir_mig_ref").toString
    val stOld = Files.createTempDirectory("graft_dsir_mig_old").toString
    graft.operators.TextAnalysis.persistDsirState(docs, "src0", stNew)
    // forge the pre-round-12 layout: (b, tc, sc, nb) only
    spark.read.parquet(member(stNew, StateTable.Buckets)).drop("ng", "bid")
      .write.parquet(member(stOld, StateTable.Buckets))
    // the param probe must not throw on the missing ng column: the
    // one-shot migration backfills ngram = 1 / bid = ""
    assert(graft.operators.TextAnalysis.dsirStateParams(spark, stOld) === ((64, 1)))
    val migrated = spark.read.parquet(member(stOld, StateTable.Buckets))
    assert(migrated.columns.toSet.contains("ng") && migrated.columns.toSet.contains("bid"))
    assert(migrated.filter(col("ng") =!= 1 || col("bid") =!= "").count() === 0L)
    // scoring through the migrated table equals scoring the reference
    val a = graft.operators.TextAnalysis
      .dsirWeightsFromState(docs, spark, stOld, "src0").collect().toSeq
    val b = graft.operators.TextAnalysis
      .dsirWeightsFromState(docs, spark, stNew, "src0").collect().toSeq
    assert(a === b)
    // and current-layout appends land on a CONSISTENT schema (no
    // mixed-footer dir): the replay-checked append works against it
    graft.operators.TextAnalysis.persistDsirState(
      docs.limit(5), "src0", stOld, batchId = "post-migration")
    assert(spark.read.parquet(member(stOld, StateTable.Buckets))
      .filter(col("bid") === "persist:post-migration").count() > 0L)
  }

  test("encoded-corpus tier: tombstone heal equals a fresh encode; retry is a no-op; gate compacts") {
    val st = Files.createTempDirectory("graft_enc_tier").toString
    val TA = graft.operators.TextAnalysis
    // frozen artifact trained on the real corpus
    TA.persistBpeVocab(docs, merges = 3, st + "/bpe")
    val changed = docs.filter(col("doc_id") % 4 === 1)
    val ghosts = docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 1000000)
    val day0 = docs.filter(col("doc_id") % 4 =!= 1)
      .unionByName(changed.withColumn("text",
        concat(lit("totally different stale draft for doc "), col("doc_id").cast("string"))))
      .unionByName(ghosts)
    TA.persistEncodedCorpus(day0, spark, st + "/bpe", st + "/enc")
    def heal(): Unit =
      TA.tombstoneEncodedDocs(changed, spark, st + "/bpe", st + "/enc",
        ghosts.select("doc_id"))
    heal()
    // ids cast to string: Array columns compare by identity in
    // Row.toSeq, so the canonical string form is the comparable one
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("fp"), col("ids").cast("string"), col("n_tokens"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    def view() = norm(TA.loadEncodedCorpus(spark, st + "/enc"))
    val fresh = Files.createTempDirectory("graft_enc_tier_fresh").toString
    TA.persistEncodedCorpus(docs, spark, st + "/bpe", fresh + "/enc")
    val healed = view()
    assert(healed === norm(TA.loadEncodedCorpus(spark, fresh + "/enc")),
      "merge-on-read view after the heal must equal a fresh encode of the current corpus")
    // duplicated heal: content-cancelling, nothing moves
    heal()
    assert(view() === healed, "a retried heal must be a complete state no-op")
    // the ~25% edit wave is over the gate: compaction folds and clears
    assert(TA.compactEncodedCorpusIfNeeded(spark, st + "/enc",
      docs.limit(0).select("doc_id")))
    assert(!StateTable(spark, st + "/enc").hasTombstones)
    assert(view() === healed, "compaction must not change the view")
  }

  test("the loop's encoded tier heals in compact mode too (healVia = compact)") {
    val st = Files.createTempDirectory("graft_enc_compactmode").toString
    val TA = graft.operators.TextAnalysis
    val changedDocs = docs.filter(col("doc_id") % 35 === 7)
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
      .unionByName(changedDocs.withColumn("text",
        concat(lit("totally different stale draft for doc "), col("doc_id").cast("string"))))
      .unionByName(docs.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 1000000))
    TA.persistBpeVocab(docs, merges = 3, st + "/bpe")
    TA.persistEncodedCorpus(day1Docs, spark, st + "/bpe", st + "/enc")
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    Pipelines.dailyIncremental(spark, day1Docs, docs, embs, embs,
      st + "/mh", st + "/ivf", healEdits = true, healVia = "compact",
      bpeVocabPath = Some(st + "/bpe"), encodedPath = Some(st + "/enc"))
      .values.foreach(_.write.format("noop").mode("overwrite").save())
    val fresh = Files.createTempDirectory("graft_enc_compactmode_fresh").toString
    TA.persistEncodedCorpus(docs, spark, st + "/bpe", fresh + "/enc")
    def rows(p: String) = TA.loadEncodedCorpus(spark, p)
      .select(col("doc_id"), col("fp"), col("ids").cast("string"), col("n_tokens"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(rows(st + "/enc") === rows(fresh + "/enc"))
    assert(!StateTable(spark, st + "/enc").hasTombstones,
      "compact mode leaves no tombstones")
  }

  test("the encoded tier can be BORN by a compact-mode heal turn (no day-0 build)") {
    // round-17 hazard pair: a never-created table must read as empty
    // (loadEncodedCorpus) and compact as a no-op (compactEncodedCorpus
    // would otherwise commit a rewrite of an absent table)
    val st = Files.createTempDirectory("graft_enc_born_compact").toString
    val TA = graft.operators.TextAnalysis
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    TA.persistBpeVocab(docs, merges = 3, st + "/bpe")
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    Pipelines.dailyIncremental(spark, day1Docs, docs, embs, embs,
      st + "/mh", st + "/ivf", healEdits = true, healVia = "compact",
      bpeVocabPath = Some(st + "/bpe"), encodedPath = Some(st + "/enc"))
      .values.foreach(_.write.format("noop").mode("overwrite").save())
    val fresh = Files.createTempDirectory("graft_enc_born_fresh").toString
    TA.persistEncodedCorpus(docs.filter(col("doc_id") % 5 === 0), spark,
      st + "/bpe", fresh + "/enc")
    def rows(p: String) = TA.loadEncodedCorpus(spark, p)
      .select(col("doc_id"), col("fp"), col("ids").cast("string"), col("n_tokens"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(rows(st + "/enc") === rows(fresh + "/enc"),
      "the turn must create the table holding exactly the added batch's encodings")
  }

  test("a recurring identical diff appends; only an immediate retry skips (runId-less DSIR)") {
    // the adversarial shape for a pure content-hash stamp: doc edited
    // A->B (day 1), reverted B->A (day 2), edited A->B AGAIN (day 3).
    // Day 3's diff is byte-identical to day 1's, so a stamp derived
    // from content alone would silently skip it and leave the sums
    // frozen at the day-2 corpus. The context lane (digest of the
    // state's non-family batch ids) sees day 2's appends and lets
    // day 3 through — while day 3's own immediate retry still skips.
    val st = Files.createTempDirectory("graft_daily_recur").toString
    val TA = graft.operators.TextAnalysis
    val flip = docs.filter(col("doc_id") % 35 === 7)
    val corpusA = docs
    val corpusB = docs.filter(col("doc_id") % 35 =!= 7)
      .unionByName(flip.withColumn("text", concat(col("text"), lit(" rev B"))))
    graft.operators.Dedup.persistMinhashSignatures(corpusA, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    TA.persistDsirState(corpusA, "src0", st + "/dsir")
    def turn(from: org.apache.spark.sql.DataFrame, to: org.apache.spark.sql.DataFrame) =
      Pipelines.dailyIncremental(spark, from, to, embs, embs,
        st + "/mh", st + "/ivf", healEdits = true, healVia = "tombstone",
        dsirStatePath = Some(st + "/dsir"))("dedup_pairs")
        .write.format("noop").mode("overwrite").save()
    def cells() = spark.read.parquet(member(st + "/dsir", StateTable.Buckets))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    turn(corpusA, corpusB) // day 1: A -> B
    turn(corpusB, corpusA) // day 2: revert
    turn(corpusA, corpusB) // day 3: the identical diff again — must append
    val afterDay3 = cells()
    // the healed state sums to the CURRENT corpus (B), which only
    // holds if day 3's retract/persist actually landed
    val fromState = TA.dsirWeightsFromState(corpusB, spark, st + "/dsir", "src0")
      .select(col("doc_id"), col("avg_log_ratio")).collect().toSeq.sortBy(_.getLong(0))
    val inline = TA.dsirWeights(corpusB, "src0")
      .select(col("doc_id"), col("avg_log_ratio")).collect().toSeq.sortBy(_.getLong(0))
    assert(fromState === inline,
      "day 3's recurring-but-genuine diff must append: state should sum to corpus B")
    // the immediate retry of day 3 re-derives the same stamp (its own
    // first delivery's bids are family, excluded from the context)
    turn(corpusA, corpusB)
    assert(cells() === afterDay3,
      "an immediate retry of day 3 must remain a DSIR no-op")
  }

  test("a runId-less turn records its derived run identity in the manifest") {
    val st = Files.createTempDirectory("graft_manifest_autorid").toString
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    def turn() = Pipelines.dailyIncremental(spark, day1Docs, docs, embs, embs,
      st + "/mh", st + "/ivf", manifestPath = Some(st + "/manifest"))("dedup_pairs")
      .write.format("noop").mode("overwrite").save()
    turn(); turn()
    val rows = spark.read.parquet(st + "/manifest")
      .orderBy(col("turn_seq")).collect()
    assert(rows.length === 2)
    // the audit row carries a content identity, not an empty string,
    // and the retry's row carries the SAME one — the trail shows the
    // redelivery for what it is
    assert(rows(0).getAs[String]("run_id").startsWith("auto:"))
    assert(rows(0).getAs[String]("run_id") === rows(1).getAs[String]("run_id"))
  }

  test("manifest turn_seq is max+1: a lost row can never repeat a sequence number") {
    val st = Files.createTempDirectory("graft_manifest_maxseq").toString
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    def turn() = Pipelines.dailyIncremental(spark, day1Docs, docs, embs, embs,
      st + "/mh", st + "/ivf", manifestPath = Some(st + "/manifest"))("dedup_pairs")
      .write.format("noop").mode("overwrite").save()
    turn(); turn() // seq 1, 2
    // a torn manifest append lost row 1; count+1 would now mint a
    // duplicate seq 2, max+1 mints 3
    val mp = st + "/manifest"
    val df = spark.read.parquet(mp)
    val keep = df.filter(col("turn_seq") === 2L).collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(keep), df.schema)
      .write.mode("overwrite").parquet(mp)
    turn()
    assert(spark.read.parquet(mp).select("turn_seq")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
  }

  test("the manifest records the encoded tier's liveness through scalar-only tombstones") {
    // the encoded tier's tombstones are deliberately scalar-only
    // (doc_id, fp); the manifest's exact stats must shadow on those
    // common columns instead of demanding full-row tombstones — a
    // sub-threshold edit wave leaves tombstones OUTSTANDING at
    // manifest time, the combination that used to throw
    val st = Files.createTempDirectory("graft_manifest_enc").toString
    val TA = graft.operators.TextAnalysis
    val changedDocs = docs.filter(col("doc_id") % 35 === 7)
    val day1Docs = docs.filter(col("doc_id") % 35 =!= 7)
      .unionByName(changedDocs.withColumn("text", concat(col("text"), lit(" stale"))))
    TA.persistBpeVocab(docs, merges = 3, st + "/bpe")
    TA.persistEncodedCorpus(day1Docs, spark, st + "/bpe", st + "/enc")
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    Pipelines.dailyIncremental(spark, day1Docs, docs, embs, embs,
      st + "/mh", st + "/ivf", healEdits = true, healVia = "tombstone",
      bpeVocabPath = Some(st + "/bpe"), encodedPath = Some(st + "/enc"),
      manifestPath = Some(st + "/manifest"))("dedup_pairs")
      .write.format("noop").mode("overwrite").save()
    val r = spark.read.parquet(st + "/manifest").head()
    assert(r.getAs[Long]("enc_tombs") === changedDocs.count(),
      "each edited doc's stale encoding is one outstanding scalar tombstone")
    assert(r.getAs[Long]("enc_live") === docs.count(),
      "the live view shadows stale rows on (doc_id, fp) and counts the current corpus")
    assert(!r.getAs[Boolean]("enc_compacted"),
      "a sub-threshold wave must not have compacted")
  }

  test("a half-specified tokenizer tier fails before any state mutation") {
    val st = Files.createTempDirectory("graft_enc_halfpair").toString
    val changedDocs = docs.filter(col("doc_id") % 35 === 7)
    val day1Docs = docs.filter(col("doc_id") % 35 =!= 7)
      .unionByName(changedDocs.withColumn("text", concat(col("text"), lit(" stale"))))
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    val before = sigRows(st + "/mh")
    val e = intercept[IllegalArgumentException] {
      Pipelines.dailyIncremental(spark, day1Docs, docs, embs, embs,
        st + "/mh", st + "/ivf", healEdits = true, healVia = "tombstone",
        bpeVocabPath = Some(st + "/bpe")) // encodedPath missing
    }
    assert(e.getMessage.contains("pair"))
    // the argument error fired before the heal touched the signature
    // tier: no tombstones, rows untouched
    assert(!StateTable(spark, st + "/mh").hasTombstones)
    assert(sigRows(st + "/mh") === before)
  }

  test("the delta-fed turn equals the snapshot-fed turn on twin states") {
    val TA = graft.operators.TextAnalysis
    val changedDocs = docs.filter(col("doc_id") % 35 === 7)
    val changedOld = changedDocs.withColumn("text", concat(col("text"), lit(" stale")))
    val ghosts = docs.filter(col("doc_id") < 30)
      .withColumn("doc_id", col("doc_id") + 1000000)
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
      .unionByName(changedOld).unionByName(ghosts)
    val added = docs.filter(col("doc_id") % 5 === 0)
    def stage(tag: String): String = {
      val st = Files.createTempDirectory(s"graft_delta_$tag").toString
      graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
      Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
      TA.persistDsirState(day1Docs, "src0", st + "/dsir")
      st
    }
    val snapSt = stage("snap")
    val snapPairs = Pipelines.dailyIncremental(spark, day1Docs, docs, embs, embs,
      snapSt + "/mh", snapSt + "/ivf", healEdits = true, healVia = "tombstone",
      dsirStatePath = Some(snapSt + "/dsir"), runId = Some("d1"))("dedup_pairs")
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    val deltaSt = stage("delta")
    val deltaPairs = Pipelines.dailyIncrementalDelta(spark,
      changedOld.unionByName(ghosts), added.unionByName(changedDocs),
      embs.limit(0), embs.limit(0),
      deltaSt + "/mh", deltaSt + "/ivf", healEdits = true,
      dsirStatePath = Some(deltaSt + "/dsir"), runId = Some("d1"))("dedup_pairs")
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(deltaPairs === snapPairs, "delta and snapshot turns must emit the same pairs")
    assert(sigRows(deltaSt + "/mh") === sigRows(snapSt + "/mh"),
      "signature state must be identical across the two feed shapes")
    def dsirSums(p: String) = spark.read.parquet(member(p + "/dsir", StateTable.Buckets))
      .groupBy(col("b")).agg(sum(col("tc")).as("tc"), sum(col("sc")).as("sc"))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    assert(dsirSums(deltaSt) === dsirSums(snapSt),
      "DSIR sums must be identical across the two feed shapes")
    // the full-corpus-dependent modes fail loudly without currentDocs
    val e1 = intercept[IllegalArgumentException] {
      Pipelines.dailyIncrementalDelta(spark,
        changedOld, changedDocs, embs.limit(0), embs.limit(0),
        deltaSt + "/mh", deltaSt + "/ivf", healEdits = true, healVia = "compact")
    }
    assert(e1.getMessage.contains("currentDocs"))
    val e2 = intercept[IllegalArgumentException] {
      Pipelines.dailyIncrementalDelta(spark,
        changedOld, changedDocs, embs.limit(0), embs.limit(0),
        deltaSt + "/mh", deltaSt + "/ivf", maintain = true)
    }
    assert(e2.getMessage.contains("currentDocs"))
  }

  test("a runId-less delta retry of a snapshot turn derives the same stamp: DSIR no-op") {
    // the interop claim: both feed shapes hash the SAME delta rows
    // (keys, statuses, both sides' fingerprints) and the same state
    // context, so a delta-fed redelivery of a snapshot-fed turn's
    // batch skips exactly like a same-shape retry would
    val TA = graft.operators.TextAnalysis
    val st = Files.createTempDirectory("graft_interop").toString
    val changedDocs = docs.filter(col("doc_id") % 35 === 7)
    val changedOld = changedDocs.withColumn("text", concat(col("text"), lit(" stale")))
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 35 =!= 7)
      .unionByName(changedOld)
    val added = docs.filter(col("doc_id") % 5 === 0)
    graft.operators.Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, st + "/mh")
    Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    TA.persistDsirState(day1Docs, "src0", st + "/dsir")
    def cells() = spark.read.parquet(member(st + "/dsir", StateTable.Buckets))
      .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    Pipelines.dailyIncremental(spark, day1Docs, docs, embs, embs,
      st + "/mh", st + "/ivf", healEdits = true, healVia = "tombstone",
      dsirStatePath = Some(st + "/dsir"))("dedup_pairs") // NO runId
      .write.format("noop").mode("overwrite").save()
    val afterSnap = cells()
    Pipelines.dailyIncrementalDelta(spark,
      changedOld, added.unionByName(changedDocs),
      embs.limit(0), embs.limit(0),
      st + "/mh", st + "/ivf", healEdits = true,
      dsirStatePath = Some(st + "/dsir"))("dedup_pairs") // NO runId either
      .write.format("noop").mode("overwrite").save()
    assert(cells() === afterSnap,
      "the delta-shaped redelivery must derive the snapshot turn's stamp and skip")
  }
}
