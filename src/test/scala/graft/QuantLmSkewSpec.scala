package graft

import graft.operators.{Similarity, SkewJoin, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q69–q71 operators: unigram LM scoring, int8-quantized ANN, salted
  * skew-safe equi-join.
  */
class QuantLmSkewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.load(spark, sf, "documents")
  private def embs = Tables.load(spark, sf, "embeddings")
  private def events = Tables.load(spark, sf, "events")

  // ---- unigram LM --------------------------------------------------------

  test("unigram logprob matches a hand computation on a two-doc corpus") {
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // corpus: a=2, b=2, c=1, total=5
    val out = TextAnalysis.unigramLogProb(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exp1 = (2 * -math.log(2.0 / 5) + -math.log(2.0 / 5)) / 3
    val exp2 = (-math.log(2.0 / 5) + -math.log(1.0 / 5)) / 2
    assert(out(1L)._1 == 3 && math.abs(out(1L)._2 - exp1) < 1e-9)
    assert(out(2L)._1 == 2 && math.abs(out(2L)._2 - exp2) < 1e-9)
  }

  test("unigram logprob: rare-token docs score higher than common-token docs") {
    val common = Seq.fill(20)("x").mkString(" ")
    val d = (Seq((1L, common), (2L, common), (3L, common)) :+ (4L, "raretoken " + common))
      .toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(d)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(4L) > out(1L))
  }

  test("unigram logprob is identical across repartitionings (decimal accumulation)") {
    val a = TextAnalysis.unigramLogProb(docs)
    val b = TextAnalysis.unigramLogProb(docs.repartition(7, $"lang"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  // ---- DSIR importance weights -------------------------------------------

  test("dsirWeights: a source doc sharing the target's vocabulary outscores a disjoint one") {
    val d = Seq(
      (1L, "alpha beta gamma alpha", "tgt"),
      (2L, "alpha gamma beta beta", "tgt"),
      (10L, "alpha beta gamma", "web"),
      (11L, "zeta eta theta", "web")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.dsirWeights(d, "tgt")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!out.contains(1L) && !out.contains(2L), "target docs must be absent")
    assert(out(10L) > out(11L),
      s"target-vocabulary doc must outscore the disjoint one: $out")
  }

  test("dsirWeights is identical across repartitionings (decimal accumulation)") {
    val a = TextAnalysis.dsirWeights(docs, "src0")
    val b = TextAnalysis.dsirWeights(docs.repartition(7, $"lang"), "src0")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("dsir persisted state: batch-appended counts score identically to the full corpus") {
    val st = java.nio.file.Files.createTempDirectory("graft_dsir_state").toString
    // three uneven ingest batches append independently
    TextAnalysis.persistDsirState(docs.filter($"doc_id" % 3 === 0), "src0", st)
    TextAnalysis.persistDsirState(docs.filter($"doc_id" % 3 === 1), "src0", st)
    TextAnalysis.persistDsirState(docs.filter($"doc_id" % 3 === 2), "src0", st)
    val full = TextAnalysis.dsirWeights(docs, "src0")
    val fromState = TextAnalysis.dsirWeightsFromState(docs, spark, st, "src0")
    assert(full.exceptAll(fromState).isEmpty && fromState.exceptAll(full).isEmpty)
    // the incremental shape: scoring ONE batch from state equals the
    // full-corpus weights restricted to that batch — rescoring under
    // the complete distributions never rescans the other batches' text
    val batch = docs.filter($"doc_id" % 3 === 2)
    val slice = TextAnalysis.dsirWeightsFromState(batch, spark, st, "src0")
    val ids = batch.select($"doc_id").as[Long].collect().toSet
    val fullSlice = full.filter($"doc_id".isin(ids.toSeq: _*))
    assert(slice.exceptAll(fullSlice).isEmpty && fullSlice.exceptAll(slice).isEmpty)
  }

  test("dsir state scoring rejects a bucket-count mismatch before any arithmetic") {
    val st = java.nio.file.Files.createTempDirectory("graft_dsir_nb").toString
    val day1 = Seq((1L, "alpha beta", "tgt"), (10L, "alpha gamma", "web"))
      .toDF("doc_id", "text", "source")
    TextAnalysis.persistDsirState(day1, "tgt", st, buckets = 64)
    // a SMALLER reader count maps into a subset of the writer's bucket
    // domain — the unseen-bucket raise can never fire, so the count
    // check is the only defense against a silently-wrong score
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.dsirWeightsFromState(day1, spark, st, "tgt", buckets = 32)
    }
    assert(e.getMessage.contains("bucket count"), e.getMessage)
  }

  test("dsir state scoring fails loudly on a bucket the distributions never saw") {
    val st = java.nio.file.Files.createTempDirectory("graft_dsir_viol").toString
    // state sees ONLY doc 1's vocabulary; scoring doc 2 (disjoint
    // vocabulary, un-appended) hits buckets absent from the table —
    // a silently partial weight is the failure mode to refuse
    val day1 = Seq((1L, "alpha beta", "tgt"), (10L, "alpha gamma", "web"))
      .toDF("doc_id", "text", "source")
    TextAnalysis.persistDsirState(day1, "tgt", st)
    val strangers = Seq((2L, "zeta eta theta omicron", "web"))
      .toDF("doc_id", "text", "source")
    val e = intercept[Exception] {
      TextAnalysis.dsirWeightsFromState(strangers, spark, st, "tgt").collect()
    }
    assert(e.getMessage.contains("persistDsirState") ||
      Option(e.getCause).exists(_.getMessage.contains("persistDsirState")),
      e.getMessage)
  }

  test("dsir bigram features: word-ORDER differences score differently, and short docs drop out") {
    // two source docs over the SAME unigram multiset but different
    // word order — unigram features cannot tell them apart; bigram
    // features must (that order sensitivity is why Xie et al. report
    // hashed bigrams as the best feature set)
    val d = Seq(
      (1L, "alpha beta alpha beta alpha beta", "tgt"),
      (10L, "alpha beta alpha beta", "web"),
      (11L, "beta alpha beta alpha", "web"),
      (12L, "solo", "web") // 1 token: no bigrams, must drop out
    ).toDF("doc_id", "text", "source")
    val uni = TextAnalysis.dsirWeights(d, "tgt")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val bi = TextAnalysis.dsirWeights(d, "tgt", ngram = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uni(10L) === uni(11L), "unigrams are order-blind by construction")
    assert(bi(10L) > bi(11L),
      s"bigram features must prefer the doc sharing the target's word order: $bi")
    assert(uni.contains(12L) && !bi.contains(12L),
      "a doc shorter than the n-gram order has no features and drops out")
    // n-token accounting: 4 tokens -> 3 bigrams
    val nTok = TextAnalysis.dsirWeights(d, "tgt", ngram = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nTok(10L) === 3L)
  }

  test("dsir retraction cancels a superseded batch exactly (edit = retract + persist)") {
    val st = java.nio.file.Files.createTempDirectory("graft_dsir_retract").toString
    val changed = docs.filter($"doc_id" % 7 === 0)
    val stale = changed.withColumn("text", concat($"text", lit(" stale draft")))
    val ghosts = docs.filter($"doc_id" < 10).withColumn("doc_id", $"doc_id" + 1000000L)
    // day 0: the tampered corpus is what got persisted
    TextAnalysis.persistDsirState(
      docs.filter($"doc_id" % 7 =!= 0).unionByName(stale).unionByName(ghosts), "src0", st)
    // the edit lands: retract the superseded rows, persist the current
    TextAnalysis.retractDsirState(stale.unionByName(ghosts), "src0", st)
    TextAnalysis.persistDsirState(changed, "src0", st)
    val fromState = TextAnalysis.dsirWeightsFromState(docs, spark, st, "src0")
    val inline = TextAnalysis.dsirWeights(docs, "src0")
    assert(inline.exceptAll(fromState).isEmpty && fromState.exceptAll(inline).isEmpty)
    // a removal alone: retract one more doc and the state must equal
    // the inline weights over the corpus without it
    val removed = docs.filter($"doc_id" === 7L)
    TextAnalysis.retractDsirState(removed, "src0", st)
    val afterRemove = TextAnalysis.dsirWeightsFromState(
      docs.filter($"doc_id" =!= 7L), spark, st, "src0")
    val inlineRemove = TextAnalysis.dsirWeights(docs.filter($"doc_id" =!= 7L), "src0")
    assert(inlineRemove.exceptAll(afterRemove).isEmpty &&
      afterRemove.exceptAll(inlineRemove).isEmpty)
  }

  test("dsir bigram persisted state round-trips and rejects a cross-ngram reader") {
    val st = java.nio.file.Files.createTempDirectory("graft_dsir_ng").toString
    TextAnalysis.persistDsirState(docs.filter($"doc_id" % 2 === 0), "src0", st, ngram = 2)
    TextAnalysis.persistDsirState(docs.filter($"doc_id" % 2 =!= 0), "src0", st, ngram = 2)
    val full = TextAnalysis.dsirWeights(docs, "src0", ngram = 2)
    val fromState = TextAnalysis.dsirWeightsFromState(docs, spark, st, "src0", ngram = 2)
    assert(full.exceptAll(fromState).isEmpty && fromState.exceptAll(full).isEmpty)
    // a unigram reader against bigram state maps into the same
    // [0, buckets) domain — no bucket-level check can fire, so the
    // stamped ng param is the only defense and must reject loudly
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.dsirWeightsFromState(docs, spark, st, "src0")
    }
    assert(e.getMessage.contains("ngram") || e.getMessage.contains("n-gram"), e.getMessage)
  }

  test("dsirResample takes the top-k weights with dense ranks and doc_id tie-break") {
    val k = 10
    val out = TextAnalysis.dsirResample(docs, "src0", k).collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to k))
    val byWeight = TextAnalysis.dsirWeights(docs, "src0")
      .orderBy($"avg_log_ratio".desc, $"doc_id").limit(k)
      .select($"doc_id").as[Long].collect().toSeq
    assert(out.map(_.getLong(1)).toSeq == byWeight)
    // scores descend (ties broken by doc_id ascending)
    val scores = out.map(_.getDouble(3)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("dsirResampleBudget: prefix-start rule, window-reference equality, partition invariance") {
    import org.apache.spark.sql.expressions.Window
    val budget = 4000L
    // coalescing off keeps the range exchange's 4 partitions, so the
    // selection stitches across partitions instead of stamping one
    val out = SparkTestSession.withoutCoalescing(
      TextAnalysis.dsirResampleBudget(docs, "src0", budget).collect())
    // reference: one global window over the full weights frame
    val ref = TextAnalysis.dsirWeights(docs, "src0")
      .withColumn("rnk", row_number().over(
        Window.orderBy($"avg_log_ratio".desc, $"doc_id")).cast("long"))
      .withColumn("cum_tokens", sum($"n_tokens").over(
        Window.orderBy($"rnk")))
      .filter($"cum_tokens" - $"n_tokens" < budget)
      .select($"rnk", $"doc_id", $"n_tokens", $"cum_tokens", $"avg_log_ratio")
      .orderBy($"rnk").collect()
    assert(out.map(_.toSeq).toSeq === ref.map(_.toSeq).toSeq,
      "distributed prefix sum must equal the global-window reference")
    // the prefix-start contract: every kept doc starts under budget,
    // every doc but possibly the last ends under it, and the NEXT doc
    // would not have started under it
    assert(out.forall(r => r.getLong(3) - r.getLong(2) < budget))
    assert(out.init.forall(r => r.getLong(3) < budget))
    assert(out.last.getLong(3) >= budget || out.length.toLong ===
      TextAnalysis.dsirWeights(docs, "src0").count(),
      "selection stops exactly at the budget boundary (or exhausts the corpus)")
    // invariance to input partitioning
    val out13 = SparkTestSession.withoutCoalescing(
      TextAnalysis.dsirResampleBudget(docs.repartition(13), "src0", budget).collect())
    assert(out13.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
    // a budget smaller than the best doc still keeps exactly that doc
    val tiny = TextAnalysis.dsirResampleBudget(docs, "src0", 1L).collect()
    assert(tiny.length === 1 && tiny.head.getLong(0) === 1L)
    // the default (coalesced, one-partition) plan returns the same rows
    val coalesced = TextAnalysis.dsirResampleBudget(docs, "src0", budget).collect()
    assert(coalesced.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq,
      "partition count must be output-invisible")
  }

  test("dsirMixtureBudget: per-source window equality, partition invariance, target guard") {
    import org.apache.spark.sql.expressions.Window
    val budgets = Map("src1" -> 400L, "src3" -> 250L)
    val out = SparkTestSession.withoutCoalescing(
      TextAnalysis.dsirMixtureBudget(docs, "src0", budgets).collect())
    val w = Window.partitionBy($"source").orderBy($"avg_log_ratio".desc, $"doc_id")
    val ref = TextAnalysis.dsirWeights(docs, "src0")
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .filter($"source".isin(budgets.keys.toSeq: _*))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum($"n_tokens").over(
        Window.partitionBy($"source").orderBy($"rnk")))
      .withColumn("budget", element_at(typedLit(budgets), $"source"))
      .filter($"cum_tokens" - $"n_tokens" < $"budget")
      .select($"source", $"rnk", $"doc_id", $"n_tokens", $"cum_tokens", $"avg_log_ratio")
      .orderBy($"source", $"rnk").collect()
    assert(out.map(_.toSeq).toSeq === ref.map(_.toSeq).toSeq,
      "stitched per-source prefix sums must equal the per-source window reference")
    // each source independently respects its boundary contract
    out.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val b = budgets(src)
      assert(rows.forall(r => r.getLong(4) - r.getLong(3) < b))
      assert(rows.sortBy(_.getLong(1)).init.forall(_.getLong(4) < b))
    }
    // invariance to input partitioning
    val out7 = SparkTestSession.withoutCoalescing(
      TextAnalysis.dsirMixtureBudget(docs.repartition(7), "src0", budgets).collect())
    assert(out7.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
    // the steering target is not a selectable slice
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.dsirMixtureBudget(docs, "src0", Map("src0" -> 100L))
    }
    assert(e.getMessage.contains("steering target"))
  }

  // ---- int8 ANN ----------------------------------------------------------

  test("int8 top-k recall >= 0.8 vs exact cosine top-k") {
    val exact = Similarity.cosineTopK(embs, 10, 5)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val quant = Similarity.cosineTopKInt8(embs, 10, 5)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("int8 scores are exact integers bounded by 127^2 * dim") {
    val dim = embs.select(size($"embedding")).head().getInt(0)
    val out = Similarity.cosineTopKInt8(embs, 10, 5)
    val bad = out.filter(abs($"qdot") > lit(127L * 127 * dim))
    assert(bad.isEmpty)
    assert(out.schema("qdot").dataType.typeName == "long")
  }

  test("graft_dotl evaluates exactly and plans inside whole-stage codegen") {
    graft.functions.VectorExprs.register(spark)
    val df = Seq((Array(1L, 2L), Array(3L, 4L))).toDF("a", "b")
      .select(expr("graft_dotl(a, b)").as("d"))
    assert(df.head().getLong(0) == 11L)
    // a literal frame constant-folds to LocalTableScan; assert codegen
    // on the real parquet-backed int8 scoring plan instead (the AQE
    // plan string hides codegen stars pre-execution, so use explain
    // mode "codegen", which compiles the stages)
    val qe = Similarity.cosineTopKInt8(embs, 10, 5).queryExecution
    assert(qe.executedPlan.toString.contains("graft_dotl"))
    val cg = qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen subtrees"))
  }

  test("dot kernels yield NULL on mismatched lengths, like the HOF form (no partial dots)") {
    graft.functions.VectorExprs.register(spark)
    val df = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0))).toDF("a", "b")
    assert(df.select(expr("graft_dot(a, b)")).head().isNullAt(0))
    val dl = Seq((Array(1L, 2L, 3L), Array(1L, 2L))).toDF("a", "b")
    assert(dl.select(expr("graft_dotl(a, b)")).head().isNullAt(0))
  }

  test("wrong-arity dot calls fail at analysis with the function named") {
    graft.functions.VectorExprs.register(spark)
    val df = Seq((Array(1.0), Array(1.0))).toDF("a", "b")
    val e = intercept[Exception] { df.select(expr("graft_dot(a)")).head() }
    assert(e.getMessage.contains("graft_dot"))
  }

  test("graft_dotl under ANSI raises on i64 overflow like the HOF form it replaces") {
    graft.functions.VectorExprs.register(spark)
    assume(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val big = Seq((Array(Long.MaxValue), Array(2L))).toDF("a", "b")
    // the HOF form aggregate(zip_with(...)) errors under ANSI; the
    // rewritten kernel must match that contract, not wrap silently
    val e = intercept[Exception] {
      big.select(expr("graft_dotl(a, b)")).head()
    }
    assert(e.toString.toLowerCase.contains("overflow")
      || e.getCause != null && e.getCause.toString.toLowerCase.contains("overflow"))
  }

  // ---- chunking / redaction ----------------------------------------------

  test("chunk never emits a trailing chunk fully contained in its predecessor") {
    // 100 tokens, size 40 / overlap 10 (stride 30): starts 0,30,60 —
    // NOT 90, whose 10-token tail is entirely inside chunk 2
    val doc = Seq((1L, (1 to 100).map(i => s"t$i").mkString(" ")),
      (2L, "a b c"), (3L, "")).toDF("doc_id", "text")
    val got = operators.TextPrep.chunk(doc, size = 40, overlap = 10)
      .select($"doc_id", $"chunk_idx", $"n_tokens").as[(Long, Long, Long)].collect().toSeq
    assert(got.filter(_._1 == 1L).map(_._3) == Seq(40L, 40L, 40L)) // 1-40, 31-70, 61-100
    assert(got.filter(_._1 == 2L) == Seq((2L, 0L, 3L))) // short doc: one chunk
    assert(got.filter(_._1 == 3L).size == 1) // empty doc still chunks once
    // every token of doc 1 is covered despite dropping the contained tail
    val toks = operators.TextPrep.chunk(doc.filter($"doc_id" === 1L), 40, 10)
      .select(explode(split($"chunk", " "))).distinct().count()
    assert(toks == 100L)
  }

  test("redact scrubs underscore/hyphen/plus emails whole, not partially") {
    val doc = Seq((1L, "contact jane_doe+spam@my-site.com or x99@a.io now"))
      .toDF("doc_id", "text")
    val out = operators.TextPrep.redact(doc).select($"redacted").as[String].head()
    assert(out == "contact <EMAIL> or <EMAIL> now")
  }

  test("bm25 rejects empty and duplicated query terms loudly") {
    val d = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      operators.TextAnalysis.bm25(d, Seq.empty, 1.2, 0.75, 10)
    }
    intercept[IllegalArgumentException] {
      operators.TextAnalysis.bm25(d, Seq("merge", "merge"), 1.2, 0.75, 10)
    }
  }

  // ---- sequence packing --------------------------------------------------

  test("sequence packing: greedy reset, overlong chunk gets its own sequence") {
    val chunks = Seq(
      (1L, 0L, 60L), (1L, 1L, 30L), (1L, 2L, 20L), (1L, 3L, 150L), (1L, 4L, 10L),
      (2L, 0L, 100L)).toDF("doc_id", "chunk_idx", "n_tokens")
    val got = operators.TextPrep.packSequences(chunks, budget = 100)
      .select($"doc_id", $"chunk_idx", $"seq_idx").as[(Long, Long, Long)].collect().toSeq
    // doc 1: [60+30] then [20] is still seq0? no: 60+30=90, +20 would be 110 > 100 -> seq1;
    // 150 overflows alone -> seq2; 10 -> seq3 (150 already > budget, so next chunk resets)
    assert(got == Seq((1L, 0L, 0L), (1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 3L),
      (2L, 0L, 0L)))
  }

  test("sequence packing on real chunks: no sequence except singletons exceeds the budget") {
    val chunks = operators.TextPrep.chunk(docs.filter($"doc_id" < 50), 40, 10)
    val packed = operators.TextPrep.packSequences(chunks, budget = 100)
    val over = packed.groupBy($"doc_id", $"seq_idx")
      .agg(sum($"n_tokens").as("tot"), count(lit(1)).as("nchunks"))
      .filter($"tot" > 100 && $"nchunks" > 1)
    assert(over.isEmpty)
    assert(packed.count() == chunks.count()) // every chunk assigned exactly once
  }

  // ---- salted join -------------------------------------------------------

  test("salted equi-join returns exactly the plain join's rows") {
    val dim = events.groupBy($"event_type")
      .agg((Ops.decSum($"value") / count($"value")).as("ta"))
    val plain = events.join(dim, Seq("event_type"))
    val salted = SkewJoin.saltedEquiJoin(events, dim, "event_type", $"event_id", 16)
      .select(plain.columns.map(col): _*)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("salting spreads a hot key across buckets") {
    val salted = events.withColumn("_salt", pmod(hash($"event_id"), lit(16)))
      .filter($"event_type" === "click")
      .groupBy($"_salt").count()
    assert(salted.count() >= 12) // 210 clicks land in nearly all 16 buckets
  }
}
