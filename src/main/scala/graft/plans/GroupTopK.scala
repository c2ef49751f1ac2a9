package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

import scala.collection.mutable

/** Whole-operator Catalyst extension (SURVEY.md §2 / brief option (c)):
  * per-group top-k as a first-class plan node — logical node, planning
  * strategy, and physical operator with bounded per-key heaps.
  *
  * The window formulation (`row_number() OVER (PARTITION BY g ORDER BY o)
  * <= k`) must hash-exchange ALL rows and fully sort every partition before
  * it can discard anything. This operator holds only O(groups × k) rows at
  * any moment, and — like Spark's own partial aggregation — it is planned
  * as a PARTIAL pass before the exchange and a FINAL pass after it: each
  * map task first reduces its input to ≤ groups×k rows with local heaps, so
  * the hash exchange shuffles candidate survivors, not the full input. The
  * final pass re-runs the identical heap logic on the now co-located
  * candidates and attaches the rank. A 100 TB input with a million groups
  * and k=3 peaks at a few MB of heap state per task and shuffles only
  * map-tasks × groups × k rows.
  *
  * Planned by [[GroupTopKStrategy]], which [[graft.GraftExtensions]]
  * injects at session build ([[graft.Session.builder]]). A session built
  * without the extensions has no strategy for the node and fails at
  * planning ("No plan for GroupTopK", wrapped in Spark's internal-error
  * exception).
  */
case class GroupTopK(groupExprs: Seq[Expression], ordering: Seq[SortOrder],
                     k: Int, rankAttr: Attribute, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rn is generated here, not read from the child
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupTopK =
    copy(child = newChild)
}

object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopK(groupExprs, ordering, k, rankAttr, child) =>
      // partial (map-side, pre-exchange) → final (post-exchange), composed
      // exactly like partial/final HashAggregate
      val partial = GroupTopKExec(groupExprs, ordering, k, rankAttr,
        planLater(child), partial = true)
      GroupTopKExec(groupExprs, ordering, k, rankAttr, partial,
        partial = false) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap per-group top-k, in two modes:
  *  - `partial = true`: no distribution requirement; reduces each input
  *    partition to ≤ groups×k candidate rows (no rank attached — ranks
  *    computed on partial data would be meaningless);
  *  - `partial = false`: requires hash-clustering on the group key (one
  *    exchange, satisfied by EnsureRequirements), re-reduces the candidate
  *    union and emits the rank column.
  */
case class GroupTopKExec(groupExprs: Seq[Expression], ordering: Seq[SortOrder],
                         k: Int, rankAttr: Attribute, child: SparkPlan,
                         partial: Boolean)
    extends UnaryExecNode {

  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    if (partial) org.apache.spark.sql.catalyst.expressions.AttributeSet.empty
    else org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)

  /** Final mode: one hash exchange on the group key; no sort requirement —
    * the heaps replace it. Partial mode runs wherever the child already is.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val isPartial = partial
    child.execute().mapPartitions { rows =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      val ord = GenerateOrdering.generate(ordering, childOutput)
      // max-heap by ranking order: head = worst row currently kept
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
      rows.foreach { row =>
        val key = keyProj(row)
        val heap = heaps.getOrElseUpdate(key.copy(),
          mutable.PriorityQueue.empty[UnsafeRow](ord.on((r: UnsafeRow) => r)))
        if (heap.size < k) heap.enqueue(row.copy().asInstanceOf[UnsafeRow])
        else if (ord.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.copy().asInstanceOf[UnsafeRow])
        }
      }
      if (isPartial) {
        // emit the surviving candidates as-is; ranks only make sense after
        // the exchange has co-located every candidate of a group
        heaps.iterator.flatMap { case (_, heap) => heap.dequeueAll.iterator }
      } else {
        val outProj = UnsafeProjection.create(output, childOutput :+ rankAttr)
        val joined = new JoinedRow
        val rankRow = new GenericInternalRow(1)
        val rankIsLong = rankAttr.dataType == org.apache.spark.sql.types.LongType
        heaps.iterator.flatMap { case (_, heap) =>
          val best = heap.dequeueAll.reverse // priority order is worst-first
          best.iterator.zipWithIndex.map { case (row, i) =>
            // match the declared rank type (LongType when built directly,
            // IntegerType when substituted for a row_number by TopKRewriteRule)
            rankRow.update(0, if (rankIsLong) (i + 1).toLong else i + 1)
            outProj(joined(row, rankRow))
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupTopKExec =
    copy(child = newChild)
}
