package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences, Coalesce, Expression, GenericInternalRow, JoinedRow, Literal, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Global running sum as a plan operator: the distributed form of
  * `sum(v) OVER (ORDER BY …)`, which Spark plans as a single-partition
  * window. A row number is the running sum of `1`, so this one node
  * serves all of [[graft.operators.Rank]]. Output: the child's columns,
  * then the running sum and the grand total of `value` (non-null longs;
  * a NULL value adds nothing). The order must be total.
  */
case class GlobalRunningSum(order: Seq[SortOrder], value: Expression,
    sumAttr: Attribute, totalAttr: Attribute, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ sumAttr :+ totalAttr
  override def producedAttributes: AttributeSet = AttributeSet(Seq(sumAttr, totalAttr))
  override protected def withNewChildInternal(newChild: LogicalPlan): GlobalRunningSum =
    copy(child = newChild)
}

/** `EnsureRequirements` range-partitions and sorts the child by
  * `order`, so partition i holds a contiguous slice of the order. At
  * execution time one job sums `value` per partition, the driver turns
  * those sums into prefix offsets, and one pass emits each row's
  * running sum and the grand total. The second pass re-reads the
  * child's shuffle files or re-evaluates a shuffle-free (deterministic)
  * child; nothing is persisted, both jobs run in the query's execution.
  */
case class GlobalRunningSumExec(order: Seq[SortOrder], value: Expression,
    sumAttr: Attribute, totalAttr: Attribute, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ sumAttr :+ totalAttr
  override def producedAttributes: AttributeSet = AttributeSet(Seq(sumAttr, totalAttr))
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = child.execute()
    val v = BindReferences.bindReference(Coalesce(Seq(value, Literal(0L))), child.output)
    val sums = sparkContext.runJob(rdd, (it: Iterator[InternalRow]) =>
      it.foldLeft(0L)((s, row) => s + v.eval(row).asInstanceOf[Long]))
    val offsets = sums.scanLeft(0L)(_ + _)
    val outAttrs = output
    rdd.mapPartitionsWithIndex { (i, it) =>
      var s = offsets(i)
      val extra = new GenericInternalRow(Array[Any](0L, offsets.last))
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      it.map { row =>
        s += v.eval(row).asInstanceOf[Long]
        extra.setLong(0, s)
        proj(joined(row, extra))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GlobalRunningSumExec =
    copy(child = newChild)
}

/** Planner strategy mapping the logical node to the exec. */
object GlobalRankStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GlobalRunningSum(order, value, sumAttr, totalAttr, child) =>
      GlobalRunningSumExec(order, value, sumAttr, totalAttr, planLater(child)) :: Nil
    case _ => Nil
  }
}
