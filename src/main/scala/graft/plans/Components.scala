package graft.plans

import org.apache.spark.HashPartitioner
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
  *    at sf0.01 and sf0.1, and q146 does at sf0.01 (the event-log counts
  *    are in `plans/components/README.md`).
  *  - **Several pieces.** The forests' `(v, root)` edges contract the
  *    graph without changing its components. Rounds of min-label
  *    propagation with pointer jumping merge them exactly: each vertex
  *    takes the min of its own label, its neighbors' labels and its
  *    representative's label, so a diameter-d component settles in
  *    O(log d) rounds. Every RDD of the merge is co-partitioned by one
  *    `HashPartitioner` of the child's width, and each round is one job
  *    that counts the labels it changed; the merge stops at zero. Each
  *    round's labels are local checkpoints: the node unpersists the
  *    superseded ones and the edges, and the RDD it returns holds the
  *    last round's, which Spark's ContextCleaner drops with it. q146 at
  *    sf0.1 takes this path: its pair kernel's output reaches the node
  *    as 4 pieces, merged in 12 rounds.
  *
  * Null endpoints: the other endpoint is a vertex of its own, and one
  * `(null, null)` row stands for the null vertex, which joins nothing.
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
    val (ends, childOut) = (Seq(src, dst), child.output)
    val types = output.map(_.dataType).toArray
    val rows = child.execute()
    if (rows.getNumPartitions > 1) merge(rows, ends, childOut, types)
    else rows.mapPartitions { it =>
      val uf = new UnionFind
      val sawNull = uf.addEdges(it, UnsafeProjection.create(ends, childOut))
      ComponentsExec.toRows(types, uf.pairs, sawNull)
    }
  }

  private def merge(rows: RDD[InternalRow], ends: Seq[Expression], childOut: Seq[Attribute],
                    types: Array[DataType]): RDD[InternalRow] = {
    val part = new HashPartitioner(rows.getNumPartitions)
    val nulls = sparkContext.longAccumulator
    // both orientations of every forest edge, each vertex's (v, v) once
    val edges = rows.mapPartitions { it =>
      val uf = new UnionFind
      if (uf.addEdges(it, UnsafeProjection.create(ends, childOut))) nulls.add(1)
      uf.pairs.flatMap { case (v, r) => if (v == r) Iterator((v, r)) else Iterator((v, r), (r, v)) }
    }.partitionBy(part).persist()
    try {
      var labels = edges.reduceByKey(part, math.min(_: Long, _: Long))
      var held: RDD[_] = null
      var changed = 1L
      while (changed > 0) {
        // neighbor edges plus pointer edges rep → id: one join delivers
        // both the neighbors' labels and the representative's label
        val pointers = labels.map(_.swap).partitionBy(part)
        val best = edges.union(pointers).join(labels, part).values
          .reduceByKey(part, math.min(_: Long, _: Long))
        val next = labels.leftOuterJoin(best, part).mapValues { case (rep, m) =>
          (math.min(rep, m.getOrElse(rep)), rep)
        }
        next.localCheckpoint()
        changed = next.filter { case (_, (rep, was)) => rep != was }.count()
        if (held != null) held.unpersist(blocking = false)
        held = next
        labels = next.mapValues(_._1)
      }
      val sawNull = nulls.value > 0
      labels.mapPartitionsWithIndex { (i, it) =>
        ComponentsExec.toRows(types, it, sawNull && i == 0)
      }
    } finally edges.unpersist(blocking = false)
  }

  override protected def withNewChildInternal(c: SparkPlan): ComponentsExec =
    copy(child = c)
}

object ComponentsExec {
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
