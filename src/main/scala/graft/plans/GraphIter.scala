package graft.plans

import scala.collection.{mutable, Map => AnyMap}
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, Literal, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.PageRank.Scale

/** Iterative graph ranking (PageRank, HITS, label propagation) as one
  * operator: the Pregel superstep shape (Malewicz et al., SIGMOD 2010)
  * run inside one plan, as [[ComponentsExec]] runs connected components.
  * Building the Dataset fires no job, and nothing is re-planned between
  * supersteps.
  *
  *  - **Layout.** The exec lays the `(src, dst[, w])` edges out once on
  *    one `HashPartitioner` as wide as the child's own partition count,
  *    which AQE has already sized. A piece holds each of its vertices with
  *    its deduplicated neighbours; the weights of a repeated pair add up.
  *    An undirected layout keeps both orientations of an edge in one
  *    neighbour list, a directed one keeps in-neighbours apart.
  *  - **Supersteps.** Each superstep sends one message per (vertex,
  *    neighbour), combined per target inside the sending task, through
  *    one shuffle on the same partitioner, and the target's piece folds
  *    them into its new state. Every stage reads its pieces back from the
  *    layout's shuffle output and the states ride the message shuffles,
  *    so nothing is cached and the supersteps run as stages of one job.
  *    The exec's own shuffles are Kryo-serialized.
  *  - **Scalars.** A global number a kernel needs (PageRank's seed count,
  *    HITS's hub count and each half-step's normalizer) is one small job
  *    inside the exec, so the job count depends on `iters` alone.
  *
  * Ids are longs or strings, and an edge with a null endpoint is
  * dropped. Scores are fixed-point longs, so every sum is exact in any
  * order and the result does not depend on the number of pieces.
  */
// NOTE: `seed` refers to the output's id attribute (a produced
// attribute), so it resolves without the child; only PageRank reads it.
case class GraphIterNode(kernel: GraphKernel, iters: Int, ends: Seq[Expression],
                         seed: Expression, produced: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override protected def withNewChildInternal(c: LogicalPlan): GraphIterNode =
    copy(child = c)
}

case class GraphIterExec(kernel: GraphKernel, iters: Int, ends: Seq[Expression],
                         seed: Expression, produced: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override def nodeName: String = "GraphIter"

  override protected def doExecute(): RDD[InternalRow] = {
    val g = Graph.layout(child.execute(), ends, child.output, kernel.directed, seed, produced.head)
    val types = produced.map(_.dataType).toArray
    kernel.run(g, iters).mapPartitions(_.map(UnsafeProjection.create(types)))
  }

  override protected def withNewChildInternal(c: SparkPlan): GraphIterExec =
    copy(child = c)
}

object GraphIterStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GraphIterNode(k, n, e, s, p, child) => GraphIterExec(k, n, e, s, p, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** A vertex's deduplicated neighbours `out` with their summed weights
  * `w` (all 1 in an unweighted layout), and its in-neighbours apart when
  * the layout is directed.
  */
private[plans] final class Adj(val seed: Boolean, val out: Array[Any], val w: Array[Long],
                               val in: Array[Any])

/** The edges laid out on `part`: one piece (its vertices and their
  * [[Adj]]) per partition, the vertices of partition i being the ids
  * `part` sends to i.
  */
private[plans] final class Graph(val pieces: RDD[Graph.Piece], part: Partitioner,
                                 val idType: DataType) {
  import Graph.{shuffle, Piece}

  /** One superstep: `msgs` shuffled to their targets' pieces, where `fold`
    * turns each piece's messages into its new state.
    */
  def deliver[M: ClassTag, S: ClassTag](msgs: RDD[(Any, M)])(
      fold: (Piece, Iterator[(Any, M)]) => S): RDD[(Piece, S)] =
    pieces.zipPartitions(shuffle(msgs, part), preservesPartitioning = true) { (ps, ms) =>
      val p = ps.next()
      Iterator.single(p -> fold(p, ms))
    }
}

private[plans] object Graph {
  type Piece = Array[(Any, Adj)]

  /** `rows` moved to `part`'s partitions, Kryo-serialized. */
  def shuffle[V: ClassTag](rows: RDD[(Any, V)], part: Partitioner): RDD[(Any, V)] =
    new ShuffledRDD[Any, V, V](rows, part).setSerializer(new KryoSerializer(rows.sparkContext.getConf))

  /** Two shuffles on one partitioner: the half-edges to their vertices,
    * deduplicated there into one [[Adj]] per vertex (its `seed`
    * evaluated once), and those records again, unchanged, so that every
    * stage reads its finished pieces back from this second shuffle.
    */
  def layout(edges: RDD[InternalRow], ends: Seq[Expression], in: Seq[Attribute],
             directed: Boolean, seed: Expression, id: Attribute): Graph = {
    val idType = ends.head.dataType
    val weighted = ends.size > 2
    val halves = edges.mapPartitions { rows =>
      val proj = UnsafeProjection.create(ends, in)
      def key(r: InternalRow, i: Int): Any =
        if (idType == StringType) r.getUTF8String(i).clone() else r.getLong(i)
      rows.map(proj).filterNot(e => e.isNullAt(0) || e.isNullAt(1)).flatMap { e =>
        val (s, d) = (key(e, 0), key(e, 1))
        val w = if (weighted && !e.isNullAt(2)) e.getLong(2) else 1L
        Iterator((s, (d, w, true)), (d, (s, w, false)))
      }
    }
    val part = new HashPartitioner(math.max(1, edges.getNumPartitions))
    val adj = shuffle(halves, part).mapPartitionsWithIndex { (i, it) =>
      val isSeed: Any => Boolean = if (seed == Literal.TrueLiteral) _ => true else {
        val (pred, row) = (Predicate.create(seed, Seq(id)), new GenericInternalRow(1))
        pred.initialize(i)
        v => { row.update(0, v); pred.eval(row) }
      }
      val outs = new mutable.HashMap[Any, mutable.HashMap[Any, Long]]
      val ins = new mutable.HashMap[Any, mutable.HashSet[Any]]
      it.foreach { case (v, (u, w, fwd)) =>
        if (fwd || !directed) {
          val m = outs.getOrElseUpdate(v, new mutable.HashMap)
          m(u) = if (weighted) m.getOrElse(u, 0L) + w else 1L
        } else ins.getOrElseUpdate(v, new mutable.HashSet) += u
      }
      (outs.keySet ++ ins.keySet).iterator.map { v =>
        val (us, ws) = outs.getOrElse(v, mutable.HashMap.empty[Any, Long]).toArray.unzip
        v -> new Adj(isSeed(v), us, ws, ins.get(v).fold(Array.empty[Any])(_.toArray))
      }
    }
    new Graph(shuffle(adj, part).mapPartitions(it => Iterator.single(it.toArray), true), part, idType)
  }

  /** `msgs` summed per target. */
  def sums(msgs: Iterator[(Any, Long)]): mutable.HashMap[Any, Long] = {
    val acc = new mutable.HashMap[Any, Long]
    msgs.foreach { case (k, m) => acc(k) = acc.getOrElse(k, 0L) + m }
    acc
  }

  def row(values: Any*): InternalRow = new GenericInternalRow(values.toArray)
}

/** The per-vertex arithmetic of one [[GraphIterNode]]. */
sealed trait GraphKernel extends Serializable {
  def directed: Boolean = false
  /** The output columns after `id`, for ids of type `id`. */
  def columns(id: DataType): Seq[(String, DataType)]
  def run(g: Graph, iters: Int): RDD[InternalRow]
}

/** PageRank with damping 85/100 over the undirected graph, in
  * Scale-scaled longs: a vertex sends `(pr·w) div sw` to each neighbour
  * (`sw` its total weight, `pr div deg` unweighted), and takes
  * `tele + (85·mass) div 100`. The `n` seeds start at `Scale div n` and
  * get the teleport `(3·Scale) div (20·n)`; other vertices get neither.
  */
case class PageRankKernel(weighted: Boolean) extends GraphKernel {
  def columns(id: DataType): Seq[(String, DataType)] =
    Seq((if (weighted) "sw" else "deg") -> LongType, "pr" -> LongType)

  def run(g: Graph, iters: Int): RDD[InternalRow] = {
    val n = g.pieces.map(_.count(_._2.seed).toLong).fold(0L)(_ + _)
    require(n > 0, "PageRank needs at least one seed vertex")
    val (pr0, tele) = (Scale / n, (3L * Scale) / (20L * n))
    def ranks(p: Graph.Piece)(f: (Any, Adj) => Long): AnyMap[Any, Long] =
      mutable.HashMap.from(p.iterator.map { case (v, x) => v -> f(v, x) })
    val init = g.pieces.map(p => p -> ranks(p)((_, x) => if (x.seed) pr0 else 0L))
    (1 to iters).foldLeft(init) { (state, _) =>
      g.deliver(state.flatMap { case (p, pr) =>
        Graph.sums(p.iterator.flatMap { case (v, x) =>
          val sw = x.w.sum
          x.out.iterator.zip(x.w).map { case (u, w) => u -> Math.multiplyExact(pr(v), w) / sw }
        }).iterator
      }) { (p, msgs) =>
        val mass = Graph.sums(msgs)
        ranks(p)((v, x) => (if (x.seed) tele else 0L) + Math.multiplyExact(85L, mass.getOrElse(v, 0L)) / 100L)
      }
    }.flatMap { case (p, pr) => p.iterator.map { case (v, x) => Graph.row(v, x.w.sum, pr(v)) } }
  }
}

/** HITS hubs and authorities (Kleinberg 1999) over the directed graph:
  * the `n` hubs (vertices with an out-edge) start at `Scale div n`, and
  * each round is two half-steps, hubs to authorities along out-edges and
  * back along in-edges. A half-step sums each target's `raw` score and
  * normalizes it `raw div max(Σraw div Scale, 1)`.
  */
case object HitsKernel extends GraphKernel {
  override def directed: Boolean = true
  def columns(id: DataType): Seq[(String, DataType)] = Seq("side" -> StringType, "score" -> LongType)

  def run(g: Graph, iters: Int): RDD[InternalRow] = {
    val n = g.pieces.map(_.count(_._2.out.nonEmpty).toLong).fold(0L)(_ + _)
    val h0 = Scale / math.max(n, 1L)
    val hub0 = g.pieces.map(p => p -> (mutable.HashMap.from(p.iterator.collect {
      case (v, x) if x.out.nonEmpty => v -> h0 }): AnyMap[Any, Long]))
    val (hubs, auths) = (1 to iters).foldLeft((hub0, hub0)) { case ((h, _), _) =>
      val a = half(g, h, _.out)
      (half(g, a, _.in), a)
    }
    def rows(s: AnyMap[Any, Long], side: String) =
      s.iterator.map { case (v, x) => Graph.row(v, UTF8String.fromString(side), x) }
    hubs.zipPartitions(auths) { (h, a) => rows(h.next()._2, "hub") ++ rows(a.next()._2, "auth") }
  }

  private def half(g: Graph, from: RDD[(Graph.Piece, AnyMap[Any, Long])],
                   along: Adj => Array[Any]): RDD[(Graph.Piece, AnyMap[Any, Long])] = {
    val raw = g.deliver(from.flatMap { case (p, s) =>
      Graph.sums(p.iterator.flatMap { case (v, x) =>
        s.get(v).iterator.flatMap(score => along(x).iterator.map(_ -> score)) }).iterator
    })((_, msgs) => Graph.sums(msgs))
    val d = math.max(raw.map(_._2.valuesIterator.sum).fold(0L)(_ + _) / Scale, 1L)
    raw.map { case (p, r) => p -> r.map { case (v, x) => v -> x / d } }
  }
}

/** Synchronous label propagation: every vertex starts with its own id as
  * label and adopts its neighbours' most frequent label, ties going to
  * the smallest under Spark's ordering of the id type.
  */
case object LpaKernel extends GraphKernel {
  def columns(id: DataType): Seq[(String, DataType)] = Seq("label" -> id)

  def run(g: Graph, iters: Int): RDD[InternalRow] = {
    val idType = g.idType
    val init = g.pieces.map(p =>
      p -> (mutable.HashMap.from(p.iterator.map(v => v._1 -> v._1)): AnyMap[Any, Any]))
    (1 to iters).foldLeft(init) { (labels, _) =>
      g.deliver(labels.flatMap { case (p, l) =>
        val votes = new mutable.HashMap[(Any, Any), Long]
        for ((v, x) <- p; u <- x.out) votes((u, l(v))) = votes.getOrElse((u, l(v)), 0L) + 1L
        votes.iterator.map { case ((u, label), c) => u -> (label, c) }
      }) { (_, msgs) =>
        val ord = PhysicalDataType.ordering(idType)
        val counts = new mutable.HashMap[(Any, Any), Long]
        msgs.foreach { case (u, (label, c)) => counts((u, label)) = counts.getOrElse((u, label), 0L) + c }
        val best = new mutable.HashMap[Any, (Any, Long)]
        counts.foreach { case ((u, label), c) =>
          best.get(u) match {
            case Some((b, bc)) if bc > c || (bc == c && ord.lteq(b, label)) =>
            case _ => best(u) = (label, c)
          }
        }
        best.map { case (u, (label, _)) => u -> label }: AnyMap[Any, Any]
      }
    }.flatMap { case (_, l) => l.iterator.map { case (v, label) => Graph.row(v, label) } }
  }
}

object GraphIter {
  /** `kernel` run for `iters` rounds over `edges`' `ends` (src, dst and
    * an optional integer weight) as one lazy plan node. String ids stay
    * strings and other ids are cast to long. `seed` selects PageRank's
    * seed vertices, as a predicate on the output's `id` column.
    */
  def apply(edges: DataFrame, kernel: GraphKernel, iters: Int, ends: Seq[String],
            seed: Column => Column = _ => lit(true)): DataFrame = {
    require(iters >= 1, "at least one iteration")
    val spark = edges.sparkSession
    GroupTopK.register(spark)
    val idType = edges.select(ends.head).schema.head.dataType match {
      case StringType => StringType
      case _ => LongType
    }
    val child = edges.select(ends.zipWithIndex.map { case (c, i) =>
      col(c).cast(if (i < 2) idType else LongType) }: _*).queryExecution.analyzed
    val produced = (("id" -> idType) +: kernel.columns(idType)).map { case (n, t) =>
      AttributeReference(n, t)() }
    val node = GraphIterNode(kernel, iters, child.output, Literal.TrueLiteral, produced, child)
    ColumnBridge.ofRows(spark, node).select(seed(col("id"))).queryExecution.analyzed match {
      case Project(Seq(Alias(s, _)), n: GraphIterNode) => ColumnBridge.ofRows(spark, n.copy(seed = s))
    }
  }
}
