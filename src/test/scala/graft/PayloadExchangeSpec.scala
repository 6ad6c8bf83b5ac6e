package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{TextAnalysis, TextPrep}

/** Plan pins for the round-16 single-payload-exchange fixes: the
  * assembled token arrays (shard assembly, BPE id assembly) must ride
  * exactly ONE shuffle — the fragments/word rows are range-partitioned
  * before the regroup, the aggregate reuses that partitioning
  * (RangePartitioning satisfies ClusteredDistribution), and every
  * downstream ordering sorts partition-local (OrderedDistribution).
  * A regression to the hash-agg-then-re-exchange shape ships the
  * payload TWICE (×500/budget=4096 measured 169.9 s vs 101.3 s
  * end-to-end, `tools/scaleprobe_r16_shards.jsonl`) and would pass
  * every value-level spec — only the plan shows it.
  */
class PayloadExchangeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")

  // AQE wraps the plan, hiding children from collect() until the query
  // runs — force execution, then read the FINAL plan's rendered string
  // (the TopKPlanSpec idiom). One "Exchange rangepartitioning/
  // hashpartitioning" line per shuffle; ReusedExchange does not mint a
  // second shuffle and is deliberately not counted.
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan.toString
  }

  private def shuffles(plan: String): Seq[String] =
    plan.linesIterator.filter(l =>
      l.contains("Exchange rangepartitioning") ||
        l.contains("Exchange hashpartitioning")).map(_.trim).toSeq

  private def broadcasts(plan: String): Seq[String] =
    plan.linesIterator.filter(_.contains("BroadcastExchange")).map(_.trim).toSeq

  // the shuffles ABOVE the fragment cut: every exchange in the final
  // plan minus those under the GlobalRank that stamps the cut's offsets
  // (its doc_id range exchange and the encoder's own)
  private def shufflesAboveCut(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan
    val cuts = aqe.collect(plan) { case g: graft.plans.GlobalRankExec => g }
    assert(cuts.length == 1, s"one fragment cut expected:\n$plan")
    val below = aqe.collect(cuts.head) { case e: ShuffleExchangeExec => e }
    aqe.collect(plan) { case e: ShuffleExchangeExec => e }
      .filterNot(e => below.exists(_ eq e))
      .map(_.outputPartitioning.toString)
  }

  test("packShards plans ONE payload shuffle above the fragment cut (range, reused by agg and sort)") {
    // above the cut the plan is exactly the assembly: one range
    // exchange, agg in place, local sort
    val ex = shufflesAboveCut(TextPrep.packShards(
      TextAnalysis.bpeEncodeIds(docs, merges = 2).filter(col("doc_id") < 200),
      budget = 64))
    assert(ex.length == 1,
      s"shard assembly must ship the token payload through exactly one shuffle, got:\n${ex.mkString("\n")}")
    assert(ex.head.contains("rangepartitioning"),
      s"the one exchange must be the seq_idx range partition, got ${ex.head}")
  }

  test("packShardsWithSpans plans the same single range shuffle") {
    val ex = shufflesAboveCut(TextPrep.packShardsWithSpans(
      TextAnalysis.bpeEncodeIds(docs, merges = 2).filter(col("doc_id") < 200),
      budget = 64))
    assert(ex.length == 1 && ex.head.contains("rangepartitioning"),
      s"got:\n${ex.mkString("\n")}")
  }

  test("bpeEncodeIds assembly: one range shuffle; the vocab join broadcasts") {
    val plan = finalPlan(TextAnalysis.bpeEncodeIds(docs, merges = 2))
    val ex = shuffles(plan)
    assert(ex.length == 1,
      s"BPE id assembly must ship the word rows through exactly one shuffle, got:\n${ex.mkString("\n")}")
    assert(ex.head.contains("rangepartitioning"), s"got ${ex.head}")
    // the word→ids map is vocab-sized and must broadcast — a
    // shuffled-hash/sort-merge vocab join would add payload exchanges
    assert(broadcasts(plan).nonEmpty,
      "the vocab join must plan as a broadcast join")
  }

  test("-Dgraft.encode.assemble=hash selects the two-exchange shape with identical output") {
    val range = TextAnalysis.bpeEncodeIds(docs, merges = 2)
      .collect().map(_.toSeq).toSeq
    sys.props("graft.encode.assemble") = "hash"
    try {
      val hashDf = TextAnalysis.bpeEncodeIds(docs, merges = 2)
      val ex = shuffles(finalPlan(hashDf))
      assert(ex.length == 2,
        s"the hash layout pays the documented two exchanges, got:\n${ex.mkString("\n")}")
      assert(hashDf.collect().map(_.toSeq).toSeq === range,
        "both assembly layouts must be output-identical")
    } finally sys.props.remove("graft.encode.assemble")
  }
}
