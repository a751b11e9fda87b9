package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftshim.GraftShim

/** PER-GROUP TOP-K as a first-class operator — builder preference order
  * (c): a custom LogicalPlan + Strategy + SparkPlan, for semantics whose
  * stock expression (Window rank + filter) does strictly more work than
  * the operator needs.
  *
  * Why not Window: `row_number() OVER (PARTITION BY g ORDER BY o) <= k`
  * SORTS EVERY PARTITION COMPLETELY — O(n log n) comparisons and a full
  * materialized sort buffer (spilling at scale) to then discard all but
  * k rows per group. The dedicated operator keeps a bounded k-row binary
  * heap per group: O(n log k) comparisons, memory bounded by
  * groups-per-partition × k rows, nothing spills, and rows stream
  * through one pass. Same one Exchange on the group key (declared via
  * requiredChildDistribution, so Catalyst plans/reuses it like any
  * aggregation shuffle); at 1000 executors it scales exactly like a
  * hash aggregate.
  *
  * Spark's own TakeOrderedAndProject does this for GLOBAL limits; this
  * is its grouped sibling. Registered through
  * `session.experimental.extraStrategies` (and GraftExtensions), the
  * public extension point for planner strategies.
  */
case class TopKPerGroup(groupExprs: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"topKPerGroup: k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : LogicalPlan = copy(child = newChild)
}

case class TopKPerGroupExec(groupExprs: Seq[Expression],
    order: Seq[SortOrder], k: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      val base = RowOrdering.create(order, childOutput)
      // base sorts best-first; PriorityQueue is a max-heap, so with this
      // Ordering the heap head is the WORST retained row — the one to
      // evict when a better row arrives.
      implicit val ord: Ordering[InternalRow] = (a, b) => base.compare(a, b)
      val heaps = scala.collection.mutable.LinkedHashMap
        .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
      while (it.hasNext) {
        val row = it.next()
        val key = keyProj(row)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = scala.collection.mutable.PriorityQueue.empty[InternalRow]
            heaps.put(key.copy(), h)
            h
        }
        if (heap.size < k) heap.enqueue(row.copy())
        else if (base.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : SparkPlan = copy(child = newChild)
}

object TopKPerGroup {
  /** Public Dataset-API face:
    * `TopKPerGroup(df, Seq("g"), Seq("x" -> Descending, "id" ->
    * Ascending), 3)`. Columns are resolved EAGERLY against the child's
    * analyzed output (Spark 4 Columns carry ColumnNodes the generic
    * analyzer won't resolve inside third-party logical nodes), so the
    * node is born resolved. Idempotently registers the planner strategy
    * on the DataFrame's session (GraftExtensions also injects it for
    * `spark.sql.extensions`-configured deployments).
    */
  def apply(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[(String, org.apache.spark.sql.catalyst.expressions.SortDirection)],
      k: Int): DataFrame = {
    val session = df.sparkSession
    if (!session.experimental.extraStrategies.contains(GraftStrategy))
      session.experimental.extraStrategies =
        GraftStrategy +: session.experimental.extraStrategies
    val analyzed = df.queryExecution.analyzed
    val byName = analyzed.output.map(a => a.name -> a).toMap
    def attr(n: String): Attribute = byName.getOrElse(n,
      sys.error(s"topKPerGroup: no column '$n' in " +
        analyzed.output.map(_.name).mkString(", ")))
    val g = groupCols.map(attr(_): Expression)
    val o = orderCols.map { case (n, dir) => SortOrder(attr(n), dir) }
    GraftShim.ofRows(session, new TopKPerGroup(g, o, k, analyzed))
  }
}
