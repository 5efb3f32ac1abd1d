package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.InternalDataFrames
import org.apache.spark.sql.types.LongType

/** Top-k rows per group as a FIRST-CLASS physical operator — the
  * whole-operator extension tier (custom `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`), used where composing built-ins genuinely leaves
  * performance on the table.
  *
  * The composed form (`row_number().over(partitionBy(g).orderBy(o))` then
  * `filter(rn <= k)`, graft.ops.Windows.qTopkPerGroup) must SORT every
  * group's full extent before the filter can drop anything: one exchange +
  * one O(n log n) sort of the whole table, with the sort's memory/spill
  * proportional to the DATA. This operator keeps a bounded heap of k rows
  * per group and streams the partition through it: same single exchange,
  * but O(n log k) comparisons, no sort buffer, and state proportional to
  * GROUPS × k — at 100 TB that is the difference between spilling a
  * terabyte-scale sort and holding a few million heap entries. (Spark has
  * exactly this operator for the global case — TakeOrderedAndProject —
  * but nothing per-group; this is that operator generalized.)
  *
  * Rows are emitted with their 1-based `rn` rank so the output contract is
  * identical to the window formulation, and the ordering must be TOTAL
  * (include a tiebreak column) for the result to be deterministic — same
  * contract as the window form.
  */
object TopKPerGroup {

  /** Logical node: top `k` of `child` per `groupCols` under `order`,
    * output = child columns + `rn` (1-based BIGINT rank). */
  case class TopKPerGroupPlan(groupCols: Seq[Expression], order: Seq[SortOrder],
      k: Int, rankAttr: Attribute, child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output :+ rankAttr
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
    override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
      copy(child = newChild)
  }

  /** Physical operator: requires clustering on the group key (the planner
    * inserts the single exchange), then per partition streams rows through
    * a bounded max-heap per group — the heap root is the WORST retained
    * row, so a row beating it replaces it in O(log k). */
  case class TopKPerGroupExec(groupCols: Seq[Expression], order: Seq[SortOrder],
      k: Int, rankAttr: Attribute, child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output :+ rankAttr
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(groupCols) :: Nil
    override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
      copy(child = newChild)

    override protected def doExecute(): RDD[InternalRow] = {
      val groupExprs = groupCols
      val sortOrder = order
      val limit = k
      val childOutput = child.output
      val outAttrs = output
      child.execute().mapPartitions({ iter =>
        val keyProj = UnsafeProjection.create(groupExprs, childOutput)
        val ord = RowOrdering.create(sortOrder, childOutput)
        // max-heap on the ordering: head = worst retained row of the group
        val heapOrd = new java.util.Comparator[InternalRow] {
          override def compare(a: InternalRow, b: InternalRow): Int =
            ord.compare(b, a)
        }
        val state = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
        while (iter.hasNext) {
          val row = iter.next()
          val key = keyProj(row)
          var heap = state.get(key)
          if (heap == null) {
            heap = new java.util.PriorityQueue[InternalRow](limit, heapOrd)
            state.put(key.copy(), heap)
          }
          if (heap.size() < limit) heap.add(row.copy())
          else if (ord.compare(row, heap.peek()) < 0) {
            heap.poll(); heap.add(row.copy())
          }
        }
        val outProj = UnsafeProjection.create(outAttrs, childOutput :+ rankAttr)
        val joined = new JoinedRow
        val rankRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
        import scala.jdk.CollectionConverters._
        state.values().iterator().asScala.flatMap { heap =>
          val rows = new Array[InternalRow](heap.size())
          var i = rows.length - 1
          while (i >= 0) { rows(i) = heap.poll(); i -= 1 } // drain worst-first
          rows.iterator.zipWithIndex.map { case (r, idx) =>
            rankRow.update(0, (idx + 1).toLong)
            outProj(joined(r, rankRow))
          }
        }
      }, preservesPartitioning = true)
    }
  }

  /** Planner strategy mapping the logical node to the exec, injected by
    * [[GraftExtensions]]. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TopKPerGroupPlan(g, o, k, r, child) =>
        TopKPerGroupExec(g, o, k, r, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Public API: top `k` rows per `groupCols` under `order` — (column,
    * descending?) pairs that MUST form a total order (include a tiebreak)
    * — plus a 1-based `rn` column. */
  def apply(df: DataFrame, groupCols: Seq[String],
      order: Seq[(String, Boolean)], k: Int): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    val resolve = analyzed.output.map(a => a.name -> a).toMap
    def attr(c: String): Attribute = resolve.getOrElse(c,
      throw new IllegalArgumentException(s"no column '$c'"))
    val groupExprs: Seq[Expression] = groupCols.map(attr)
    val sortOrder = order.map { case (c, desc) =>
      SortOrder(attr(c),
        if (desc) org.apache.spark.sql.catalyst.expressions.Descending
        else org.apache.spark.sql.catalyst.expressions.Ascending)
    }
    val rankAttr = AttributeReference("rn", LongType, nullable = false)()
    InternalDataFrames.ofPlan(df.sparkSession,
      TopKPerGroupPlan(groupExprs, sortOrder, k, rankAttr, analyzed))
  }
}
