package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator custom plan: top-k rows per group — the full
  * Catalyst extension ladder (logical node → Strategy → physical
  * SparkPlan), for the one shape the built-in operators can't plan
  * optimally. The DataFrame encoding (`row_number().over(window) <=
  * k`) SORTS every group in full before discarding all but k rows;
  * this operator keeps a bounded k-heap per group instead — and runs
  * TWICE, once per-partition BEFORE the shuffle (the map-side
  * combine) and once after, so at 100 TB the exchange carries at most
  * k rows per (partition, group) instead of the whole table. The
  * classic TakeOrderedAndProject trick, generalized per group.
  *
  * Semantics: the k first rows of each group under `order` (ties
  * broken by the order expressions only — supply a tiebreaker column
  * for a total order). Output row order is unspecified, like any
  * aggregate.
  */
case class TopKPerGroupNode(groupKeys: Seq[Expression], order: Seq[SortOrder],
                            k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

/** Plans [[TopKPerGroupNode]] as partial → (exchange) → final
  * [[TopKPerGroupExec]]; EnsureRequirements inserts the hash exchange
  * demanded by the final stage's required distribution.
  */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(keys, order, k, child) =>
      val partial = TopKPerGroupExec(keys, order, k, planLater(child), finalStage = false)
      TopKPerGroupExec(keys, order, k, partial, finalStage = true) :: Nil
    case _ => Nil
  }
}

case class TopKPerGroupExec(groupKeys: Seq[Expression], order: Seq[SortOrder],
                            k: Int, child: SparkPlan, finalStage: Boolean)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    if (finalStage) ClusteredDistribution(groupKeys) :: Nil
    else UnspecifiedDistribution :: Nil
  override def outputPartitioning = child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = groupKeys
    val orderExprs = order
    val childOutput = child.output
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = GenerateOrdering.generate(orderExprs, childOutput)
      // heap head = the WORST row currently kept (reverse comparator),
      // so admission is one compare against the head
      val revCmp = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int = ord.compare(b, a)
      }
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      while (it.hasNext) {
        val row = it.next()
        val key = keyProj.apply(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](kLocal, revCmp)
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < kLocal) heap.add(row.copy())
        else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }
  }
}

/** User-facing constructor: inject [[TopKStrategy]] into the session
  * (idempotent) and wrap `df` in the logical node.
  */
object TopK {
  def perGroup(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column], k: Int): DataFrame = {
    // a k < 1 would otherwise surface as java.util.PriorityQueue's
    // IllegalArgumentException deep inside a task (and only on
    // non-empty partitions) — fail at construction, naming the knob
    require(k >= 1, s"per-group top-k needs k >= 1 (got $k)")
    val spark = df.sparkSession
    inject(spark, TopKStrategy)
    val child = df.queryExecution.analyzed
    val bind = binder(spark, child)
    GraftSqlBridge.ofRows(spark,
      TopKPerGroupNode(keyCols.map(bind), sortOrders(orderCols, bind), k, child))
  }

  /** Add `strategy` to the session's planner once (idempotent) — the
    * self-registration fallback for sessions built without
    * [[graft.functions.GraftExtensions]]. */
  private[plans] def inject(spark: SparkSession, strategy: SparkStrategy): Unit =
    if (!spark.experimental.extraStrategies.contains(strategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ strategy

  /** Column → expression bound to `child`'s output. Binding happens
    * here because the analyzer does not descend into unknown node
    * types' expressions. Name matching goes through the session
    * resolver so case sensitivity follows spark.sql.caseSensitive like
    * every built-in lookup. */
  private[plans] def binder(spark: SparkSession, child: LogicalPlan): Column => Expression = {
    val resolver = spark.sessionState.conf.resolver
    c => GraftSqlBridge.expression(c).transformUp {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        child.output.find(a => resolver(a.name, u.nameParts.mkString(".")))
          .getOrElse(throw new IllegalArgumentException(
            s"column ${u.name} not in ${child.output.map(_.name).mkString(", ")}"))
    }
  }

  /** Order columns as sort orders; a bare column sorts ascending. */
  private[plans] def sortOrders(cols: Seq[Column], bind: Column => Expression): Seq[SortOrder] =
    cols.map(bind).map {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    }
}
