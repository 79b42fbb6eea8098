package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graft.ColumnBridge

/** Whole-operator Catalyst extension (SURVEY.md §2.G, brief option (c)):
  * top-k rows per group as a first-class logical node + planner strategy +
  * physical operator.
  *
  * The window-function formulation (`row_number().over(partitionBy(...)
  * .orderBy(...)) <= k`) must fully SORT every partition — O(n log n) per
  * group and the whole group's rows held through the sort. This operator
  * keeps a bounded k-element heap per group — O(n log k), memory O(groups
  * x k) — and declares `ClusteredDistribution(group)` so Catalyst inserts
  * exactly one hash shuffle (or none if the child is already co-located,
  * e.g. bucketed input).
  */
case class TopKPerGroupPlan(
    k: Int,
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

case class TopKPerGroupExec(
    k: Int,
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** One shuffle on the group key, supplied by Catalyst (and elided when
    * the child already satisfies it). */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil

  /** Rows never move between partitions here, so the child's (group-key
    * hash) partitioning survives — a downstream per-group operator (e.g. a
    * rank window over the k survivors) plans with ZERO extra exchanges. */
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val kk = k
    val g = groupExprs
    val ord = order
    child.execute().mapPartitions { iter =>
      val groupProj = UnsafeProjection.create(g, childOutput)
      val ordering = GenerateOrdering.generate(ord, childOutput)
      // per group: max-heap under the sort order, so peek() is the WORST
      // retained row and bounded eviction is O(log k)
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      iter.foreach { row =>
        val key = groupProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](kk + 1, ordering.reversed())
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < kk) heap.add(row.copy())
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
      heaps.values().forEach(h => h.forEach(r => out += r))
      out.iterator
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Planner rule: logical TopKPerGroupPlan → physical TopKPerGroupExec. */
object GraftStrategies extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupPlan(k, g, o, child) =>
      TopKPerGroupExec(k, g, o, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopK {
  /** Top-k rows per group through the custom operator (planned by
    * [[GraftStrategies]], which [[graft.GraftExtensions]] installs).
    * orderCols may be plain columns (ascending) or col.desc/col.asc forms. */
  def topKPerGroup(df: DataFrame, k: Int, groupCols: Seq[Column], orderCols: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val sortOrders = orderCols.map(c => ColumnBridge.eagerExpression(spark, c) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    })
    ColumnBridge.ofRows(spark,
      TopKPerGroupPlan(k, groupCols.map(ColumnBridge.eagerExpression(spark, _)),
        sortOrders, ColumnBridge.analyzedPlan(df)))
  }
}
