package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.ColumnBridge

/** Logical "first k rows of every group under a total order" — the
  * shape behind top-N-per-key, argmin/argmax-per-key, and k-NN
  * ranking.
  *
  * Stock Spark expresses it as `row_number().over(Window) <= k`. Even
  * with Spark 4's `WindowGroupLimit` pushdown (which does prune rows
  * before the shuffle) that plan SORTS every partition's full row set
  * twice — `WindowGroupLimitExec` requires child ordering on
  * (partition, order) keys both map-side and reduce-side, O(n log n)
  * comparisons and sort buffers that spill at scale. This node plans
  * to [[GroupedTopKExec]] instead: a bounded per-group heap pass on
  * each input partition (no sort, O(n log k), at most k·groups rows
  * retained), a shuffle of only those survivors clustered by group,
  * and a second heap pass to merge — the partial/final shape of a
  * hash aggregation, with the heap as the aggregation buffer.
  *
  * `ordering` must be a TOTAL order (include a unique tiebreak
  * column) or the k-th place is nondeterministic — same contract as
  * an oracle-checked `row_number`.
  *
  * Planned by [[GroupedTopKStrategy]] (installed by
  * [[graft.functions.GraftExtensions]]); built from the Column API
  * via [[GroupedTopK.of]], which resolves names against the child.
  */
case class GroupedTopK(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k >= 1, s"groupedTopK needs k >= 1, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedTopK =
    copy(child = newChild)
}

object GroupedTopK {

  /** `df` restricted to the first `k` rows of each `groupCols` group
    * under `orderBy` (column name, ascending?) — nulls follow each
    * direction's Spark default (asc ⇒ nulls first, desc ⇒ nulls
    * last). Output column set and row multiset match
    * `row_number().over(Window.partitionBy(groupCols).orderBy(...)) <= k`
    * exactly (no rank column; rows in no particular order).
    */
  def of(df: DataFrame, groupCols: Seq[String],
      orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute =
      analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"groupedTopK: no column '$name' in ${analyzed.output.map(_.name)}"))
    val order = orderBy.map { case (name, asc) =>
      SortOrder(attr(name), if (asc) Ascending else Descending)
    }
    ColumnBridge.ofRows(spark,
      GroupedTopK(groupCols.map(attr), order, k, analyzed))
  }
}

/** Plans [[GroupedTopK]] as partial-heaps → shuffle-by-group →
  * final-heaps ([[GroupedTopKExec]] twice; `EnsureRequirements`
  * inserts the exchange for the final node's
  * `ClusteredDistribution`).
  */
object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopK(groupExprs, ordering, k, child) =>
      val partial =
        GroupedTopKExec(groupExprs, ordering, k, partial = true,
          planLater(child))
      GroupedTopKExec(groupExprs, ordering, k, partial = false,
        partial) :: Nil
    case _ => Nil
  }
}

/** One heap pass of the grouped top-k: per input partition, a hash
  * map group-key → bounded max-heap of the k least rows seen (under
  * `ordering`). A row is copied only when it enters a heap — losers
  * are compared (O(log k)) and dropped in place, so the pass is
  * sort-free and its memory is bounded by k · (groups in the
  * partition), the same envelope as a partial hash aggregation's
  * buffer map.
  *
  * `partial = true` runs on arbitrary input partitions and emits each
  * partition's local top-k per group (at most k · groups · partitions
  * rows reach the exchange — the map-side-combine property).
  * `partial = false` declares `ClusteredDistribution(groupExprs)` so
  * all survivors of a group meet, and the same heap pass yields the
  * exact global top-k: any row in the true top-k is in its
  * partition's local top-k (fewer than k rows of its group can beat
  * it anywhere, so fewer can beat it in its own partition).
  */
case class GroupedTopKExec(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil
  override def nodeName: String =
    if (partial) "GroupedTopKPartial" else "GroupedTopKFinal"

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprsB = groupExprs
    val orderingB = ordering
    val kB = k
    val childOutput = child.output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(groupExprsB, childOutput)
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      val cmp = RowOrdering.create(orderingB, childOutput)
      // PriorityQueue dequeues the MAX under cmp = the worst kept row,
      // so each heap holds the k least rows of its group.
      val heaps =
        mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        // look up with the projection's reused buffer (UnsafeRow
        // equality is value-based); copy the key only on first insert
        val key = keyProj(row)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](cmp)
            heaps.put(key.copy(), h)
            h
        }
        if (heap.size < kB) {
          heap.enqueue(toUnsafe(row).copy())
        } else if (cmp.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(toUnsafe(row).copy())
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupedTopKExec =
    copy(child = newChild)
}
