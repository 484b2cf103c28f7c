package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Connected components of an undirected edge list: each child row is
  * an edge `(src, dst)` of long ids (a NULL end drops it). Output: one
  * `(node, label)` row per node with an edge, label = the least id of
  * its component.
  *
  * Spark 4.1's recursive CTE (`UnionLoop`, used by q127) cannot express
  * min-label propagation: each step sees only the previous step's rows
  * and appends them with UNION ALL (UNION is rejected there), never
  * lowering a stored label, and the recursive reference may not feed an
  * aggregate, so no step can take a node's minimum. Append-only, the
  * labels become reachability, up to c² rows for a c-node component,
  * and every undirected edge is a 2-cycle, so no step is ever empty:
  * the loop ends only at its depth limit.
  */
case class ConnectedComponents(src: Expression, dst: Expression,
    nodeAttr: Attribute, labelAttr: Attribute, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = Seq(nodeAttr, labelAttr)
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): ConnectedComponents =
    copy(child = newChild)
}

/** One min-root union-find, run in the query's own execution: one job
  * runs it over each partition's edges and returns `(node, root)` for
  * every node seen; the driver merges each task's pairs as it lands
  * with the same union-find and hands the labels back as an RDD. Driver
  * state is one entry per node of the edge graph, whatever the edge
  * count. Nothing iterates, so there is no lineage to cut and nothing
  * to checkpoint: a lost task reruns its own partition.
  */
case class ConnectedComponentsExec(src: Expression, dst: Expression,
    nodeAttr: Attribute, labelAttr: Attribute, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = Seq(nodeAttr, labelAttr)
  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val s = BindReferences.bindReference(src, child.output)
    val d = BindReferences.bindReference(dst, child.output)
    val merged = new MinRootUnionFind
    sparkContext.runJob(child.execute(), (it: Iterator[InternalRow]) => {
      val uf = new MinRootUnionFind
      it.foreach { row =>
        val a = s.eval(row)
        val b = d.eval(row)
        if (a != null && b != null) uf.union(a.asInstanceOf[Long], b.asInstanceOf[Long])
      }
      uf.roots
    }, (_: Int, pairs: Array[Long]) =>
      pairs.indices.by(2).foreach(i => merged.union(pairs(i), pairs(i + 1))))
    val labels = merged.roots
    val n = labels.length / 2
    val slices = math.max(1, math.min(n, sparkContext.defaultParallelism))
    val chunks = (0 until slices).map(i =>
      labels.slice(2 * (i * n / slices), 2 * ((i + 1) * n / slices)))
    sparkContext.parallelize(chunks, slices).mapPartitions { it =>
      val proj = UnsafeProjection.create(Array[DataType](LongType, LongType))
      val row = new GenericInternalRow(2)
      it.flatMap(chunk => chunk.indices.by(2).iterator.map { i =>
        row.setLong(0, chunk(i))
        row.setLong(1, chunk(i + 1))
        proj(row)
      })
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ConnectedComponentsExec =
    copy(child = newChild)
}

/** Union-find over long ids whose every root is the least id of its set. */
private final class MinRootUnionFind {
  private val parent = new scala.collection.mutable.LongMap[Long]

  def find(a: Long): Long = {
    var r = parent.getOrElseUpdate(a, a)
    while (parent(r) != r) r = parent(r)
    var c = a
    while (c != r) { val next = parent(c); parent(c) = r; c = next }
    r
  }

  def union(a: Long, b: Long): Unit = {
    val (ra, rb) = (find(a), find(b))
    if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
  }

  /** `node, root` pairs, flattened, for every node seen. */
  def roots: Array[Long] = {
    val nodes = parent.keys.toArray
    val out = new Array[Long](2 * nodes.length)
    nodes.indices.foreach { i => out(2 * i) = nodes(i); out(2 * i + 1) = find(nodes(i)) }
    out
  }
}

/** Planner strategy mapping the logical node to the exec. */
object ConnectedComponentsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ConnectedComponents(src, dst, nodeAttr, labelAttr, child) =>
      ConnectedComponentsExec(src, dst, nodeAttr, labelAttr, planLater(child)) :: Nil
    case _ => Nil
  }
}
