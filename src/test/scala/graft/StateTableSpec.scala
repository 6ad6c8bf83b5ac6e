package graft

import java.nio.file.Files

import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis}
import graft.sources.StateTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite

/** The one state-commit protocol ([[StateTable]]): every tier's commit
  * survives a crash at each of its two windows — after the new
  * generation is written but before the manifest rename, and after the
  * rename but before GC — with readers seeing exactly the pre- or the
  * post-commit state and a re-run converging with no manual step; and
  * roots written before manifests existed keep working.
  */
class StateTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.load(spark, sf, "documents")
  private def embs = Tables.load(spark, sf, "embeddings")
  private def none = docs.select("doc_id").limit(0)
  private def noVecs = embs.select("vec_id").limit(0)

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def copyOf(root: String): String = {
    val dst = tmp("graft_state_copy") + "/state"
    Scratch.copyTree(root, dst)
    dst
  }

  /** A frame's rows, array columns in their canonical string form. */
  private def rows(df: DataFrame, tag: String = ""): Set[Seq[Any]] =
    df.select(df.schema.fields.toSeq.map(f => f.dataType match {
      case _: ArrayType => col(f.name).cast("string")
      case _ => col(f.name)
    }): _*).collect().toSet[org.apache.spark.sql.Row].map(tag +: _.toSeq)

  private def dir(root: String, name: String) =
    new java.io.File(s"$root/$name")

  /** No leftovers of a finished commit: one manifest, one generation,
    * and none of the committed members (nor the tombstones) at their
    * pre-manifest names. */
  private def assertNoDebris(root: String, committed: Seq[String]): Unit = {
    // hidden entries are the local filesystem's checksum files
    def entries(name: String) = dir(root, name).list().toSeq.filterNot(_.startsWith("."))
    assert(entries("_manifest").size === 1, s"$root: stale manifests")
    assert(entries("_gen").size === 1, s"$root: stale generations")
    for (m <- committed :+ StateTable.Tombstones)
      assert(!dir(root, m).exists(), s"$root: superseded $m left behind")
  }

  /** Crash `op` at both commit windows on copies of `template`.
    * `settle` is the next write to the root after the re-run; it is
    * where a re-run that has nothing left to commit finishes the GC. */
  private def crashWindows(template: String, committed: Seq[String],
                           settle: String => Unit = _ => ())
                          (view: String => Set[Seq[Any]])(op: String => Unit): Unit = {
    val pre = view(template)
    val done = copyOf(template)
    op(done)
    val post = view(done)
    assert(pre !== post, "the commit under test must change what readers see")
    for (point <- Seq("rename", "gc")) {
      val root = copyOf(template)
      StateTable.killPoints.put(root, point)
      try intercept[IllegalStateException](op(root))
      finally StateTable.killPoints.remove(root)
      assert(view(root) === (if (point == "rename") pre else post),
        s"a crash before the $point must leave the ${if (point == "rename") "pre" else "post"}-commit view")
      op(root)
      assert(view(root) === post, s"the re-run after a crash before the $point must converge")
      settle(root)
      assertNoDebris(root, committed)
    }
  }

  test("kill points: signature compaction") {
    val st = tmp("graft_kp_sigs")
    val ghosts = docs.filter(col("doc_id") < 10).withColumn("doc_id", col("doc_id") + 1000000)
    Dedup.persistMinhashSignatures(docs.unionByName(ghosts), 3, 16, 4, st)
    Dedup.tombstoneSignatures(docs.filter(col("doc_id") % 9 === 1)
      .withColumn("text", concat(col("text"), lit(" edited"))), 3, 16, 4, st, none)
    crashWindows(st, Seq(StateTable.Sigs))(r => rows(Dedup.loadSignatures(spark, r))) { r =>
      Dedup.compactSignatures(docs, 3, 16, 4, r, none)
    }
  }

  test("kill points: IVF assignments compaction") {
    val st = tmp("graft_kp_ivf")
    Similarity.buildIvfIndex(embs, nlist = 16, path = st)
    Similarity.tombstoneIvfIndex(embs.limit(0), spark, st,
      embs.filter(col("vec_id") % 11 === 5).select("vec_id"))
    crashWindows(st, Seq(StateTable.Assignments))(r => rows(Similarity.loadIvfIndex(spark, r)._2)) { r =>
      Similarity.compactIvfIndex(spark, r, embs.filter(col("vec_id") % 13 === 7).select("vec_id"))
    }
  }

  test("kill points: PQ codes compaction") {
    val st = tmp("graft_kp_pq")
    Similarity.buildPqIndex(embs, m = 8, ks = 16, path = st)
    Similarity.tombstonePqIndex(embs.limit(0), spark, st,
      embs.filter(col("vec_id") % 11 === 5).select("vec_id"))
    crashWindows(st, Seq(StateTable.Codes))(r => rows(Similarity.loadPqIndex(spark, r)._2)) { r =>
      Similarity.compactPqIndex(spark, r, embs.filter(col("vec_id") % 13 === 7).select("vec_id"))
    }
  }

  test("kill points: encoded-corpus compaction") {
    val st = tmp("graft_kp_enc")
    val vocab = st + "/bpe"
    TextAnalysis.persistBpeVocab(docs, merges = 3, vocab)
    TextAnalysis.persistEncodedCorpus(docs, spark, vocab, st + "/enc")
    TextAnalysis.tombstoneEncodedDocs(docs.limit(0), spark, vocab, st + "/enc",
      docs.filter(col("doc_id") % 11 === 5).select("doc_id"))
    crashWindows(st + "/enc", Seq(StateTable.Ids))(r => rows(TextAnalysis.loadEncodedCorpus(spark, r))) { r =>
      TextAnalysis.compactEncodedCorpus(spark, r, docs.filter(col("doc_id") % 13 === 7).select("doc_id"))
    }
  }

  private def ivfView(r: String) = {
    val (c, a) = Similarity.loadIvfIndex(spark, r)
    rows(c, "centroid") ++ rows(a, "assignment")
  }

  test("kill points: IVF rebuild and recenter flip both members at once") {
    val st = tmp("graft_kp_ivf_rebuild")
    Similarity.buildIvfIndex(embs.filter(col("vec_id") % 3 =!= 0), nlist = 16, path = st)
    Similarity.tombstoneIvfIndex(embs.limit(0), spark, st,
      embs.filter(col("vec_id") % 11 === 5).select("vec_id"))
    val both = Seq(StateTable.Centroids, StateTable.Assignments)
    crashWindows(st, both)(ivfView) { r =>
      Similarity.rebuildIvfIndex(embs, spark, nlist = 16, path = r)
    }
    crashWindows(st, both)(ivfView) { r =>
      Similarity.recenterIvfIndex(spark, r, nlist = 8)
    }
  }

  test("kill points: PQ retrain flips codebooks and codes at once") {
    val st = tmp("graft_kp_pq_retrain")
    Similarity.buildPqIndex(embs.filter(col("vec_id") % 3 =!= 0), m = 8, ks = 16, path = st)
    crashWindows(st, Seq(StateTable.Codebooks, StateTable.Codes)) { r =>
      val (c1, codes, _) = Similarity.loadPqIndex(spark, r)
      rows(c1, "codebook") ++ rows(codes, "code")
    } { r =>
      Similarity.retrainPqIndex(embs, spark, m = 8, ks = 16, path = r)
    }
  }

  private def dsirView(r: String) = rows(TextAnalysis.dsirCells(spark, r))
  private def dsirSettle(r: String): Unit =
    TextAnalysis.persistDsirState(docs.limit(3), "src0", r, batchId = "settle")

  test("kill points: the pre-stamp DSIR migration") {
    val fresh = tmp("graft_kp_dsir_ref")
    TextAnalysis.persistDsirState(docs, "src0", fresh)
    val st = tmp("graft_kp_dsir")
    // the pre-stamp layout: (b, tc, sc, nb) only
    spark.read.parquet(StateTable(spark, fresh).path(StateTable.Buckets)).drop("ng", "bid")
      .write.parquet(StateTable(spark, st).path(StateTable.Buckets))
    crashWindows(st, Seq(StateTable.Buckets), dsirSettle)(dsirView) { r =>
      TextAnalysis.dsirStateParams(spark, r)
    }
  }

  test("kill points: the positional-bid DSIR migration") {
    val bucket = Sampling.hashBucket(col("doc_id").cast("string"))
    val base = tmp("graft_kp_positional")
    val st = base + "/dsir"
    TextAnalysis.persistDsirState(docs.filter(bucket < 80), "src0", st)
    docs.filter(bucket >= 80).repartition(3).write.parquet(base + "/feed")
    val fd = new org.apache.hadoop.fs.Path(base + "/feed")
    val fs = fd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(fd).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .sortBy(s => (s.getModificationTime, s.getPath.toString))
      .zipWithIndex.foreach { case (f, i) =>
        TextAnalysis.persistDsirState(spark.read.parquet(f.getPath.toString),
          "src0", st, batchId = s"stream:$i")
      }
    crashWindows(st, Seq(StateTable.Buckets), dsirSettle)(dsirView) { r =>
      streaming.DsirStream.migratePositionalBids(spark, base + "/feed", r)
    }
  }

  test("a pre-manifest state root loads, appends, tombstones and compacts") {
    // q188's day-0 tree, staged exactly as the catalog stages it
    val day1Docs = docs.filter(col("doc_id") % 5 =!= 0)
    val d1e = embs.filter(col("vec_id") < 16 || col("vec_id") % 5 =!= 0)
    val staged = tmp("graft_q188_day0")
    Dedup.persistMinhashSignatures(day1Docs, 3, 16, 4, staged + "/mh")
    Similarity.buildIvfIndex(d1e, nlist = 16, path = staged + "/ivf")
    TextAnalysis.persistDsirState(day1Docs, "src0", staged + "/dsir")
    for ((tier, m) <- Seq("mh" -> StateTable.Sigs, "ivf" -> StateTable.Assignments,
                          "dsir" -> StateTable.Buckets)) {
      assert(!dir(s"$staged/$tier", "_manifest").exists(), s"$tier: staged trees carry no manifest")
      assert(dir(s"$staged/$tier", m).isDirectory, s"$tier: members sit at their plain names")
    }
    val st = copyOf(staged)
    // loads: the plain-named tables, unchanged
    val stagedSigs = rows(spark.read.parquet(s"$staged/mh/${StateTable.Sigs}"))
    assert(rows(Dedup.loadSignatures(spark, st + "/mh")) === stagedSigs)
    assert(rows(Similarity.loadIvfIndex(spark, st + "/ivf")._2) ===
      rows(Similarity.loadIvfIndex(spark, staged + "/ivf")._2))
    assert(rows(TextAnalysis.dsirWeightsFromState(docs, spark, st + "/dsir", "src0")) ===
      rows(TextAnalysis.dsirWeightsFromState(docs, spark, staged + "/dsir", "src0")))
    // appends: day 2's arrivals
    Dedup.incrementalMinhashEstimated(docs.filter(col("doc_id") % 5 === 0), 3, 16, 4, 0.5,
      st + "/mh")
    Similarity.appendToIvfIndex(embs.join(d1e, Seq("vec_id"), "left_anti"), spark, st + "/ivf")
    TextAnalysis.persistDsirState(docs.filter(col("doc_id") % 5 === 0), "src0", st + "/dsir")
    // tombstones: edits and removals (never a centroid vector)
    val current = docs.filter(col("doc_id") % 7 =!= 3)
    val changed = current.filter(col("doc_id") % 7 === 1)
      .withColumn("text", concat(col("text"), lit(" revised")))
    val currentDocs = current.filter(col("doc_id") % 7 =!= 1).unionByName(changed)
    Dedup.tombstoneSignatures(changed, 3, 16, 4, st + "/mh",
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
    val currentEmb = embs.filter(col("vec_id") < 16 || col("vec_id") % 7 =!= 3)
    Similarity.tombstoneIvfIndex(currentEmb.limit(0), spark, st + "/ivf",
      embs.filter(col("vec_id") >= 16 && col("vec_id") % 7 === 3).select("vec_id"))
    assert(StateTable(spark, st + "/mh").hasTombstones && StateTable(spark, st + "/ivf").hasTombstones)
    // compactions: state equals a fresh build over the current corpus
    Dedup.compactSignatures(currentDocs, 3, 16, 4, st + "/mh", none)
    Similarity.compactIvfIndex(spark, st + "/ivf", noVecs)
    val fresh = tmp("graft_q188_fresh")
    Dedup.persistMinhashSignatures(currentDocs, 3, 16, 4, fresh + "/mh")
    Similarity.buildIvfIndex(currentEmb, nlist = 16, path = fresh + "/ivf")
    assert(rows(Dedup.loadSignatures(spark, st + "/mh")) ===
      rows(Dedup.loadSignatures(spark, fresh + "/mh")))
    assert(rows(Similarity.loadIvfIndex(spark, st + "/ivf")._2) ===
      rows(Similarity.loadIvfIndex(spark, fresh + "/ivf")._2))
    assertNoDebris(st + "/mh", Seq(StateTable.Sigs))
    assertNoDebris(st + "/ivf", Seq(StateTable.Assignments))
    // the staged original is untouched by its copy's commits
    assert(rows(Dedup.loadSignatures(spark, staged + "/mh")) === stagedSigs)
  }

  test("a deep copy of a compacted root reads identically to the original") {
    val st = tmp("graft_copy_compacted")
    Dedup.persistMinhashSignatures(docs, 3, 16, 4, st + "/mh")
    Dedup.compactSignatures(docs.filter(col("doc_id") % 4 =!= 0), 3, 16, 4, st + "/mh", none)
    Similarity.buildIvfIndex(embs, nlist = 16, path = st + "/ivf")
    Similarity.recenterIvfIndex(spark, st + "/ivf", nlist = 8)
    Similarity.buildPqIndex(embs, m = 8, ks = 16, path = st + "/pq")
    Similarity.compactPqIndex(spark, st + "/pq", embs.filter(col("vec_id") % 4 === 0).select("vec_id"))
    val copy = copyOf(st)
    assert(rows(Dedup.loadSignatures(spark, copy + "/mh")) ===
      rows(Dedup.loadSignatures(spark, st + "/mh")))
    assert(Similarity.cosineTopKIvfIndexed(spark, copy + "/ivf", 8, 6, 3).collect().toSeq ===
      Similarity.cosineTopKIvfIndexed(spark, st + "/ivf", 8, 6, 3).collect().toSeq)
    assert(Similarity.pqTopKIndexed(embs, spark, copy + "/pq", 4, 6, 24).collect().toSeq ===
      Similarity.pqTopKIndexed(embs, spark, st + "/pq", 4, 6, 24).collect().toSeq)
  }
}
