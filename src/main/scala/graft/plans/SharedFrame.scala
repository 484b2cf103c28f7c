package graft.plans

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** A frame that two or more branches of ONE query read, planned as one
  * exchange that every branch shares: the `Repartition` that Spark's
  * `ReplaceCTERefWithRepartition` puts on a CTE it keeps. A plain
  * `repartition` is not enough, because the optimizer pushes each
  * branch's filters (an inferred `isnotnull` join key, an explode's
  * `size > 0`) and column pruning below it, so the branches plan
  * different exchanges and each re-runs the frame. The optimizer has no
  * rule for this node: nothing passes through it, and `keys` (every
  * column) keeps a reader's pruning above it. Nothing is persisted; the
  * shuffle files go with the query.
  */
case class SharedFrame(keys: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): SharedFrame =
    copy(child = newChild)
}

/** Plans [[SharedFrame]] as a hash exchange on every column at the
  * session's shuffle width, as `repartition(width, …)` would. AQE does
  * not coalesce it: the readers' per-row work (a pair explode, a cosine
  * fold) stays spread over the width (d02 at sf0.1 on 4 cores ran 1.2 s
  * against 2.0 s with a coalescable exchange). Identical subtrees
  * canonicalize alike, so every branch reads the one stage AQE makes.
  */
object SharedFrameStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SharedFrame(keys, child) =>
      ShuffleExchangeExec(HashPartitioning(keys, SQLConf.get.numShufflePartitions),
        planLater(child), REPARTITION_BY_NUM) :: Nil
    case _ => Nil
  }
}
