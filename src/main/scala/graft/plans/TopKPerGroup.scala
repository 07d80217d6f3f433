package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

import scala.collection.mutable

/** Whole-operator Catalyst extension: top-k rows per group WITHOUT a
  * per-partition full sort.
  *
  * `filter(row_number().over(partitionBy(g).orderBy(o)) <= k)` is the
  * universal top-k-per-group idiom, but Window planning sorts every
  * partition on (g, o) to rank ALL rows, then throws away everything
  * past k. This operator keeps a bounded k-heap per group instead:
  * O(groups·k) memory, O(n log k) comparisons, no sort — at 100 TB the
  * difference between a full shuffle-sort of the fact table and a
  * streaming pass. The rewrite is an optimizer rule so user queries
  * keep the idiomatic window spelling and the plan swap is free.
  *
  * The stack: [[TopKPerGroup]] (logical) → [[TopKStrategy]] (planner)
  * → [[TopKPerGroupExec]] (physical), rewritten in by [[TopKRewrite]],
  * all injected through `graft.GraftExtensions`.
  */
case class TopKPerGroup(
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(parts, order, k, rank, child) =>
      // partial pass before the exchange prunes each map partition to
      // ≤ k rows per group, so shuffle volume tracks groups·k, not n —
      // the same partial/final split as hash aggregation
      TopKPerGroupExec(parts, order, k, rank, partial = false,
        TopKPerGroupExec(parts, order, k, rank, partial = true,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap physical top-k per group.
  *
  * Requires clustering on the group keys (Spark inserts the same hash
  * exchange the window would need) but NO child ordering — that is the
  * point. Each task keeps one k-bounded priority queue per group seen
  * in its partition (heap max = current worst kept row); emission
  * sorts each group's ≤ k survivors and attaches the 1-based rank.
  * A map-side partial pass (same operator before the exchange) would
  * cut shuffle volume to groups·k rows; at fixture scale the exchange
  * is already tiny so only the post-shuffle pass is planned. */
case class TopKPerGroupExec(
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rankAttr
  override def producedAttributes: AttributeSet =
    if (partial) AttributeSet.empty else AttributeSet(rankAttr)
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) super.requiredChildDistribution
    else if (partitionSpec.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(partitionSpec) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val parts = partitionSpec
    val order = orderSpec
    val kk = k
    val emitRank = !partial
    val rankIsLong = rankAttr.dataType == LongType
    child.execute().mapPartitions { iter =>
      val groupProj = UnsafeProjection.create(parts, childOutput)
      val ordering = GenerateOrdering.generate(order, childOutput)
      // PriorityQueue dequeues the MAX of the ordering = the row that
      // sorts LAST among the kept k = the current worst
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = groupProj(row)
        heaps.get(key) match {
          case Some(pq) =>
            if (pq.size < kk) pq.enqueue(row.copy())
            else if (ordering.compare(row, pq.head) < 0) {
              pq.dequeue(); pq.enqueue(row.copy())
            }
          case None =>
            val pq = new mutable.PriorityQueue[InternalRow]()(ordering)
            pq.enqueue(row.copy())
            heaps.put(key.copy(), pq)
        }
      }
      if (!emitRank) heaps.valuesIterator.flatMap(_.iterator)
      else heaps.valuesIterator.flatMap { pq =>
        val rows = pq.dequeueAll.reverse // best-first
        rows.iterator.zipWithIndex.map { case (row, i) =>
          val rank = new GenericInternalRow(1)
          if (rankIsLong) rank.setLong(0, i + 1L) else rank.setInt(0, i + 1)
          new JoinedRow(row, rank)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** `Filter(rank <= k, Window[single row_number])` ⇒ [[TopKPerGroup]].
  *
  * Fires only on the exact safe shape: ONE window expression that is
  * `row_number()` (optionally cast), a deterministic `<=` literal
  * bound, and the filtered attribute being that window output — so
  * rank semantics, output attributes (same exprIds), and values are
  * identical; everything else keeps the stock Window plan.
  *
  * Guard rail (the exec holds one k-heap per group in memory with no
  * spill path, so groups·k rows must fit an executor): the rewrite
  * fires only for k ≤ `spark.graft.topk.maxK` (default 100000) — above
  * that the query keeps the stock sort-and-spill Window, trading speed
  * for the spill path, and `maxK=0` turns the rewrite off. Group
  * cardinality is not knowable at rewrite time; the cap is the
  * explicit escape hatch for high-cardinality workloads. */
object TopKRewrite extends Rule[LogicalPlan] {
  // clamp to Int.MaxValue: the limit flows into TopKPerGroup's Int k,
  // so a huge configured cap must not make limit.toInt wrap negative
  private def maxK: Long =
    math.min(conf.getConfString("spark.graft.topk.maxK", "100000").toLong,
      Int.MaxValue.toLong)
  private object RowNumberAlias {
    def unapply(e: NamedExpression): Option[Alias] = e match {
      case a @ Alias(WindowExpression(RowNumber(), _), _) => Some(a)
      case a @ Alias(Cast(WindowExpression(RowNumber(), _), _, _, _), _) => Some(a)
      case _ => None
    }
  }
  private object IntLike {
    def unapply(l: Literal): Option[Long] = l.value match {
      case i: Int => Some(i.toLong)
      case i: Long => Some(i)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(
            LessThanOrEqual(attr: Attribute, IntLike(limit)),
            w: org.apache.spark.sql.catalyst.plans.logical.Window)
          if w.windowExpressions.size == 1 && limit > 0 && limit <= maxK &&
            RowNumberAlias.unapply(w.windowExpressions.head)
              .exists(_.toAttribute.semanticEquals(attr)) =>
        TopKPerGroup(w.partitionSpec, w.orderSpec, limit.toInt, attr, w.child)
    }
}
