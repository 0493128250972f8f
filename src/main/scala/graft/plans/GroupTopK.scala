package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Group-wise top-k as a first-class operator
  * (SURVEY §4.3 preference tier (c): LogicalPlan + Strategy + SparkPlan).
  *
  * The composed form — `row_number().over(partitionBy(g).orderBy(o))`
  * then `filter(rn <= k)` — SORTS every group completely before
  * discarding all but k rows. This operator keeps a bounded heap of k
  * rows per group instead: O(n log k) per partition, O(groups × k)
  * memory, no sort buffer, no spill pressure. At 100 TB ("top-k
  * documents per domain by quality") that is the difference between a
  * full sort of the corpus and one streaming pass.
  *
  * Physical contract: requiredChildDistribution = Clustered(groupCols),
  * so Catalyst inserts (or elides, if the child is already partitioned)
  * the hash exchange exactly like any aggregation.
  */
// NOTE: order expressions are a flat Seq[Expression] (+ parallel Seq of
// directions) — TreeNode's reflection does not discover Expressions
// inside tuple containers, and ColumnPruning would strip their columns.
case class GroupTopKNode(groupExprs: Seq[Expression],
                         orderExprs: Seq[Expression], orderDesc: Seq[Boolean],
                         k: Int, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): GroupTopKNode =
    copy(child = c)
}

/** `partial = true` is the map-side pass: it runs on whatever
  * partitioning the child already has (no distribution requirement, so
  * it sits BELOW the exchange) and bounds the shuffle to ≤ k rows per
  * group per map partition — the same partial/final split Spark gives
  * hash aggregation. Top-k is decomposable, so partial-then-final is
  * exact.
  */
case class GroupTopKExec(groupExprs: Seq[Expression],
                         orderExprs: Seq[Expression], orderDesc: Seq[Boolean],
                         k: Int, partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def nodeName: String = if (partial) "GroupTopKPartial" else "GroupTopK"
  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial) UnspecifiedDistribution else ClusteredDistribution(groupExprs)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val groupE = groupExprs
    val orderE = orderExprs.zip(orderDesc)
    val kk = k
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupE, childOutput)
      // "best-first" ordering; heap head = current worst retained row
      val sortOrders = orderE.map { case (e, desc) =>
        SortOrder(e, if (desc) Descending else Ascending) }
      val rowOrd = GenerateOrdering.generate(sortOrders, childOutput)
      val heaps = new java.util.HashMap[InternalRow, java.util.PriorityQueue[InternalRow]]()
      // PQ ordered worst-first: reverse of the best-first row ordering
      val pqOrd = rowOrd.reverse
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var pq = heaps.get(key)
        if (pq == null) {
          pq = new java.util.PriorityQueue[InternalRow](kk + 1, pqOrd)
          heaps.put(key.copy(), pq)
        }
        if (pq.size() < kk) pq.add(row.copy())
        else if (rowOrd.compare(row, pq.peek()) < 0) { // row beats worst
          pq.poll(); pq.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().asScala.iterator.flatMap(_.iterator().asScala)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): GroupTopKExec =
    copy(child = c)
}

object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopKNode(g, o, d, k, child) =>
      GroupTopKExec(g, o, d, k, partial = false,
        GroupTopKExec(g, o, d, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

object GroupTopK {

  /** Register graft's planning strategies ([[GroupTopKStrategy]],
    * [[CarryScanStrategy]], [[ComponentsStrategy]], [[GraphIterStrategy]],
    * [[BloomFilterStrategy]]) on a live session (idempotent).
    */
  def register(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    exp.synchronized {
      val missing = Seq(GroupTopKStrategy, CarryScanStrategy, ComponentsStrategy,
          GraphIterStrategy, BloomFilterStrategy).filterNot(exp.extraStrategies.contains)
      if (missing.nonEmpty) exp.extraStrategies = exp.extraStrategies ++ missing
    }
  }

  /** Top `k` rows per `groupCols` group, ordered by `orderCols`
    * ((name, descending) pairs — include a unique tiebreak column for
    * deterministic results).
    */
  def topKPerKey(df: DataFrame, groupCols: Seq[String],
                 orderCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    register(spark)
    val analyzed = df.queryExecution.analyzed
    def resolve(name: String): Attribute =
      analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name"))
    ColumnBridge.ofRows(spark,
      GroupTopKNode(groupCols.map(resolve),
        orderCols.map(c => resolve(c._1): Expression), orderCols.map(_._2),
        k, analyzed))
  }
}
