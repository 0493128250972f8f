package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.DataType

/** Connected components of an undirected edge list as one operator:
  * the reference's reduction shape (`src/reduction/tasks/
  * unary_reduction.cc:228` → `scalar_reduction.cc:196`), a per-piece
  * reduce plus a combine, run when the plan executes and never while the
  * Dataset is built.
  *
  *  - **Per piece.** A union-find over the partition's edges (a `LongMap`
  *    of parents, union by min id, path compression), so every root is
  *    its tree's minimum id. It emits `(v, root)` for every vertex seen.
  *  - **One piece.** The forest is the answer, with no job of its own.
  *    q166 and q281 reach the node as one piece on perfbench `eager` and
  *    at sf0.01 and sf0.1, and q146 and q114 do at sf0.01 (the event-log
  *    counts are in `plans/components/README.md`).
  *  - **Several pieces.** A piece's forest, read as `(v, root)` edges,
  *    has the same components as the piece's edges. So the forests are
  *    shuffled into one partition and the same union-find runs over them
  *    once: one shuffle stage, whatever the components' diameter, and the
  *    final task holds one map entry per vertex, as the one-piece path
  *    does. q146 and q114 take this path at sf0.1, where their pairs
  *    reach the node as 4 pieces.
  *
  * Null endpoints: the other endpoint is a vertex of its own, and one
  * `(null, null)` row stands for the null vertex, which joins nothing.
  * Each piece's `(null, null)` row is an edge that adds no vertex to the
  * merge, which emits it once.
  */
// NOTE: `src`/`dst` are constructor expressions so they stay in
// `references` (ColumnPruning keeps the child's columns); the output is
// entirely `producedAttributes`.
case class ComponentsNode(src: Expression, dst: Expression, produced: Seq[Attribute],
                          child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override protected def withNewChildInternal(c: LogicalPlan): ComponentsNode =
    copy(child = c)
}

case class ComponentsExec(src: Expression, dst: Expression, produced: Seq[Attribute],
                          child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override def nodeName: String = "Components"

  override protected def doExecute(): RDD[InternalRow] = {
    val types = output.map(_.dataType).toArray
    val pieces = ComponentsExec.forests(child.execute(), Seq(src, dst), child.output, types)
    // several pieces: one union-find over all their forests; the rows
    // are copied because `toRows` reuses its buffer
    if (pieces.getNumPartitions == 1) pieces
    else ComponentsExec.forests(pieces.map(_.copy()).repartition(1), output, output, types)
  }

  override protected def withNewChildInternal(c: SparkPlan): ComponentsExec =
    copy(child = c)
}

object ComponentsExec {
  /** Each partition's union-find forest over the `(src, dst)` edges that
    * `ends` projects from `in`, as `(v, root)` rows plus one
    * `(null, null)` row when some endpoint was null.
    */
  private def forests(rows: RDD[InternalRow], ends: Seq[Expression], in: Seq[Attribute],
                      types: Array[DataType]): RDD[InternalRow] =
    rows.mapPartitions { it =>
      val uf = new UnionFind
      val sawNull = uf.addEdges(it, UnsafeProjection.create(ends, in))
      toRows(types, uf.pairs, sawNull)
    }

  private def toRows(types: Array[DataType], pairs: Iterator[(Long, Long)],
                     nullRow: Boolean): Iterator[InternalRow] = {
    val toUnsafe = UnsafeProjection.create(types)
    val row = new GenericInternalRow(2)
    val tail = if (nullRow) Iterator.single(new GenericInternalRow(2)) else Iterator.empty
    pairs.map { case (v, r) => row.setLong(0, v); row.setLong(1, r); row }
      .++(tail).map(toUnsafe)
  }
}

/** Union-find over long vertex ids: parents in a `LongMap`, union by min
  * id (every root is its set's minimum) and path compression.
  */
private[plans] final class UnionFind {
  private val parent = new scala.collection.mutable.LongMap[Long]

  private def add(v: Long): Unit = if (!parent.contains(v)) parent(v) = v

  private def find(v: Long): Long = {
    var r = v
    while (parent(r) != r) r = parent(r)
    var x = v
    while (x != r) { val up = parent(x); parent(x) = r; x = up }
    r
  }

  /** Add every edge row's `(src, dst)` as projected by `ends`; an edge
    * with a null endpoint adds its other endpoint alone. True when some
    * endpoint was null.
    */
  def addEdges(rows: Iterator[InternalRow], ends: UnsafeProjection): Boolean = {
    var sawNull = false
    rows.foreach { r =>
      val e = ends(r)
      if (e.isNullAt(0) || e.isNullAt(1)) {
        sawNull = true
        if (!e.isNullAt(0)) add(e.getLong(0))
        if (!e.isNullAt(1)) add(e.getLong(1))
      } else {
        val (a, b) = (e.getLong(0), e.getLong(1))
        add(a); add(b)
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    }
    sawNull
  }

  /** `(v, root)` for every vertex added, the root being its set's min id. */
  def pairs: Iterator[(Long, Long)] = parent.keys.toArray.iterator.map(v => (v, find(v)))
}

object ComponentsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ComponentsNode(s, d, p, child) => ComponentsExec(s, d, p, planLater(child)) :: Nil
    case _ => Nil
  }
}
