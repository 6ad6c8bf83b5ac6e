package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Global rank and running sum over a total order, without a global
  * window: appends `rnk` (1-based row number) and, given a long column,
  * `cum_before` (that column's EXCLUSIVE running sum, nulls counting
  * 0), both restarting at each value of the leading group keys. The
  * order is `groupKeys` ascending, then `order`; it must be total (end
  * it on a unique column), or tied rows take an arbitrary rank.
  *
  * The exec requires [[OrderedDistribution]] of that order, so
  * EnsureRequirements range-partitions and sorts its input and every
  * group lands contiguous — only a partition's FIRST group can
  * continue from earlier partitions. Each partition then needs one
  * carry from its predecessors: the (rows, sum) of the group still
  * open at their end. A one-partition input (AQE coalesces every
  * small input to one) stamps in one pass with no extra job; more
  * partitions run ONE job over the same child RDD that returns a
  * per-partition summary (first key, last key, rows and sum of the
  * last group), the driver chains the summaries into carries, and the
  * stamping pass re-reads the exchange's shuffle files. Driver data is
  * O(partitions); no Dataset↔RDD round trip, no checkpoint.
  */
case class GlobalRankNode(groupKeys: Seq[Expression], order: Seq[SortOrder],
                          sumOf: Option[Expression], rnk: Attribute,
                          cumBefore: Option[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ (rnk +: cumBefore.toSeq)
  override def producedAttributes: AttributeSet = AttributeSet(rnk +: cumBefore.toSeq)
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object GlobalRankStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GlobalRankNode(keys, order, sumOf, rnk, cum, child) =>
      GlobalRankExec(keys, order, sumOf, rnk, cum, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class GlobalRankExec(groupKeys: Seq[Expression], order: Seq[SortOrder],
                          sumOf: Option[Expression], rnk: Attribute,
                          cumBefore: Option[Attribute], child: SparkPlan)
    extends UnaryExecNode {
  private def fullOrder: Seq[SortOrder] = groupKeys.map(SortOrder(_, Ascending)) ++ order
  override def output: Seq[Attribute] = child.output ++ (rnk +: cumBefore.toSeq)
  override def producedAttributes: AttributeSet = AttributeSet(rnk +: cumBefore.toSeq)
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(fullOrder) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = fullOrder :: Nil
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val scan = new GlobalRank.Scan(groupKeys, sumOf, child.output)
    val rows = child.execute()
    // carries(i) = (rows, sum) of the group open where partition i starts
    val carries = Array.fill(rows.getNumPartitions)((0L, 0L))
    if (rows.getNumPartitions > 1) {
      val summaries = sparkContext.runJob(rows, (it: Iterator[InternalRow]) => scan.summary(it))
      var open: UnsafeRow = null
      var openRows, openSum = 0L
      for ((s, i) <- summaries.zipWithIndex; (first, last, lastRows, lastSum) <- s) {
        if (first == open) carries(i) = (openRows, openSum)
        val (r0, s0) = if (first == last) carries(i) else (0L, 0L)
        open = last; openRows = r0 + lastRows; openSum = s0 + lastSum
      }
    }
    val withSum = cumBefore.nonEmpty
    val out = output
    rows.mapPartitionsWithIndex { (i, it) =>
      val walk = new scan.Walk(carries(i))
      val extra = new GenericInternalRow(if (withSum) 2 else 1)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(out, out)
      it.map { row =>
        val before = walk.step(row)
        extra.setLong(0, walk.rows)
        if (withSum) extra.setLong(1, before)
        proj(joined(row, extra))
      }
    }
  }
}

/** User-facing constructor: inject [[GlobalRankStrategy]] into the
  * session (idempotent) and wrap `df` in the logical node. */
object GlobalRank {
  /** `df` plus `rnk` (and `cum_before` when `sumOf` is given) over
    * `groupBy` ascending then `orderBy`; see [[GlobalRankNode]]. */
  def apply(df: DataFrame, orderBy: Seq[Column], groupBy: Seq[Column] = Nil,
            sumOf: Option[Column] = None): DataFrame = {
    val spark = df.sparkSession
    TopK.inject(spark, GlobalRankStrategy)
    val child = df.queryExecution.analyzed
    val bind = TopK.binder(spark, child)
    val sum = sumOf.map(bind)
    sum.foreach(e => require(e.dataType == LongType,
      s"running sum needs a long column (got ${e.dataType.simpleString})"))
    GraftSqlBridge.ofRows(spark, GlobalRankNode(groupBy.map(bind),
      TopK.sortOrders(orderBy, bind), sum,
      AttributeReference("rnk", LongType, nullable = false)(),
      sum.map(_ => AttributeReference("cum_before", LongType, nullable = false)()),
      child))
  }

  /** The group walk both passes share, shipped to the tasks as one
    * serializable definition. */
  private[plans] class Scan(groupKeys: Seq[Expression], sumOf: Option[Expression],
                            input: Seq[Attribute]) extends Serializable {
    /** One partition's walk in order; the first group continues from
      * `carry`. After [[step]], `rows` is the row's rank in its group
      * and `sum` the group's running sum through it. */
    final class Walk(carry: (Long, Long)) {
      private val key = UnsafeProjection.create(groupKeys, input)
      private val value = UnsafeProjection.create(sumOf.toSeq, input)
      var first, group: UnsafeRow = null
      var (rows, sum) = carry

      /** Advance over `row`; returns the group's sum before it. */
      def step(row: InternalRow): Long = {
        val k = key(row)
        if (group == null) { group = k.copy(); first = group }
        else if (k != group) { group = k.copy(); rows = 0L; sum = 0L }
        val before = sum
        rows += 1
        if (sumOf.nonEmpty) {
          val v = value(row)
          if (!v.isNullAt(0)) sum += v.getLong(0)
        }
        before
      }
    }

    /** (first key, last key, rows and sum of the last group) of one
      * partition; None when it is empty. */
    def summary(it: Iterator[InternalRow]): Option[(UnsafeRow, UnsafeRow, Long, Long)] = {
      val walk = new Walk((0L, 0L))
      it.foreach(walk.step)
      Option(walk.first).map(f => (f, walk.group, walk.rows, walk.sum))
    }
  }
}
