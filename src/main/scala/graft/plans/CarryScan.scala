package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** The algebra of one global two-phase scan. `S` summarizes a run of
  * consecutive rows: a partition's summary is `step` folded over its
  * rows from `zero`, and its carry-in is the `combine` of every
  * preceding partition's summary.
  *
  * Rows handed to the kernel are the node's `inputs` evaluated on each
  * child row (reused buffers: copy what you keep).
  */
trait CarryKernel[S] extends Serializable {
  /** Type and nullability of each appended column. */
  def out: Seq[(DataType, Boolean)]
  def zero: S
  /** Summary of the rows before `row` in its partition, then `row`. */
  def step(s: S, row: InternalRow): S
  /** Summary of the rows of `a` followed by the rows of `b`. */
  def combine(a: S, b: S): S
  /** Write `row`'s appended values into `into`, from its partition's
    * `carryIn` and `local`, the partition's summary through `row`.
    */
  def emit(carryIn: S, local: S, row: InternalRow, into: InternalRow): Unit
}

/** A global scan in `order` (cumulative op, global row number, forward
  * fill, trailing window) as one operator: the reference's SCAN launch
  * (`core/column.py:644-687`, `src/reduction/tasks/scan.cc:262`), a
  * local pass that summarizes each piece, an exclusive prefix of the
  * summaries, and a second local pass that consumes the carry-in.
  *
  * Physical contract: the exec requires `OrderedDistribution(order)`
  * and `order` within partitions, so Catalyst plans the range exchange
  * and the sort (or elides them when the child already has them). Both
  * passes read the same child RDD — the second re-reads the exchange's
  * shuffle output — so nothing is cached, and the summary job runs when
  * the plan executes, never while the Dataset is built. A one-partition
  * child needs no summary job at all. AQE's coalesced
  * read keeps the range partitioning, so pieces stay in scan order.
  */
// NOTE: appended columns are `producedAttributes`, so `references`
// keeps only the inputs and the order; ColumnPruning cannot strip them.
case class CarryScanNode(order: Seq[SortOrder], inputs: Seq[Expression],
                         kernel: CarryKernel[_], produced: Seq[Attribute],
                         child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): CarryScanNode =
    copy(child = c)
}

case class CarryScanExec(order: Seq[SortOrder], inputs: Seq[Expression],
                         kernel: CarryKernel[_], produced: Seq[Attribute],
                         child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output ++ produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def nodeName: String = "CarryScan"
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil

  override protected def doExecute(): RDD[InternalRow] = scan(kernel)

  private def scan[S](k: CarryKernel[S]): RDD[InternalRow] = {
    val (in, childOut, out) = (inputs, child.output, output)
    val rows = child.execute()
    // one piece: its carry-in is `zero`, and no summary job runs
    val carries =
      if (rows.getNumPartitions == 1) Seq(k.zero)
      else rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) =>
          it.map(UnsafeProjection.create(in, childOut)).foldLeft(k.zero)(k.step): Any)
        .toSeq.map(_.asInstanceOf[S]).scanLeft(k.zero)(k.combine)
    rows.mapPartitionsWithIndex({ (i, it) =>
      val proj = UnsafeProjection.create(in, childOut)
      val toUnsafe = UnsafeProjection.create(out, out)
      val (joined, appended) = (new JoinedRow, new GenericInternalRow(k.out.size))
      val carry = carries(i)
      var local = k.zero
      it.map { r =>
        val x = proj(r)
        local = k.step(local, x)
        k.emit(carry, local, x, appended)
        toUnsafe(joined(r, appended))
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): CarryScanExec =
    copy(child = c)
}

object CarryScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CarryScanNode(o, in, k, p, child) =>
      CarryScanExec(o, in, k, p, planLater(child)) :: Nil
    case _ => Nil
  }
}

object CarryScan {

  /** `df` plus the `kernel`'s columns, named `names`, scanned in `order`
    * (sort Columns: names or `.desc_nulls_last`-style orders) over the
    * `inputs` evaluated on each row. A name already in `df` is replaced
    * in place, as `withColumn` does.
    */
  def apply(df: DataFrame, order: Seq[Column], inputs: Seq[Column],
            kernel: CarryKernel[_], names: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    GroupTopK.register(spark)
    // let the analyzer resolve the order and the inputs against `df`
    val (ord, in, child) = df.sortWithinPartitions(order: _*).select(inputs: _*)
      .queryExecution.analyzed match {
        case Project(list, Sort(o, false, c, _)) =>
          (o, list.map { case Alias(e, _) => e; case e => e }, c)
      }
    val produced = kernel.out.zipWithIndex.map { case ((t, nullable), i) =>
      AttributeReference(s"__carry$i", t, nullable)() }
    val scanned = ColumnBridge.ofRows(spark,
      CarryScanNode(ord, in, kernel, produced, child))
    names.zip(produced).foldLeft(scanned) { case (d, (n, a)) =>
      d.withColumn(n, ColumnBridge.column(a))
    }.drop(produced.map(_.name): _*)
  }
}
