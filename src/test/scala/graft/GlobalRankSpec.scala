package graft

import graft.plans.GlobalRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The global-rank operator's job budget and the plans that use it:
  * no extra job on one partition, exactly one (the carry summaries) on
  * more, and no unpartitioned window left in the queries it replaced.
  */
class GlobalRankSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def jobsOf(df: DataFrame): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  private def input = (0L until 400L).map(i => (i % 3, i, i % 7)).toDF("g", "o", "v")
  private val order = Seq($"o".desc)

  // the same range exchange and sort without the rank: the difference
  // is the jobs the operator itself launches
  private def extraJobs(ranked: DataFrame): Int =
    jobsOf(ranked) - jobsOf(input.orderBy($"g", $"o".desc))

  test("a one-partition input launches no extra job") {
    assert(extraJobs(GlobalRank(input, order, Seq($"g"), Some($"v"))) === 0)
  }

  test("a multi-partition input launches exactly one extra job") {
    SparkTestSession.withoutCoalescing {
      val ranked = GlobalRank(input, order, Seq($"g"), Some($"v"))
      assert(ranked.rdd.getNumPartitions > 1)
      assert(extraJobs(ranked) === 1)
    }
  }

  test("ranked queries plan no window without a partition spec") {
    val sf = "/root/testdata/sf0.001"
    val names = Seq("q60_ranked_flatten", "q172_concat_cut_pack",
      "q176_dsir_token_budget", "q177_dsir_mixture_budget", "q57_top_pairs_lsh",
      "q97_embedding_outliers", "q153_dsir_resample")
    for (name <- names) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      val global = plan.collect { case w: Window if w.partitionSpec.isEmpty => w }
      assert(global.isEmpty, s"$name plans an unpartitioned window:\n$plan")
    }
  }
}
