package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Expression, If, IsNull, Literal, SortOrder, UnsafeProjection, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter

/** The rows of `big` whose `bigKey` may be in the one-column `keys`: a
  * bloom pre-filter for PRE-FILTER → EXACT-VERIFY pipelines. The bloom
  * admits no false negatives, so a caller's exact join (or its
  * `size ≥ 2` filter) after the node keeps the result exact, while the
  * rows that reach that join's shuffle are only candidates. A null key
  * never passes.
  *
  * Everything runs when the plan executes, never while the Dataset is
  * built, and nothing touches the session's settings:
  *  - one job hashes and counts the non-null `keys`; with none, no row
  *    passes;
  *  - one job builds a `BloomFilter.create(n, 10·n)` per `keys` piece over
  *    those `xxhash64(key)` values and merges the pieces on the driver;
  *  - the filter object is broadcast, so each executor deserializes it
  *    once, and `big`'s pieces are filtered in place, keeping their
  *    partitioning and ordering.
  */
case class BloomFilterNode(bigKey: Expression, big: LogicalPlan, keys: LogicalPlan)
    extends BinaryNode {
  override def left: LogicalPlan = big
  override def right: LogicalPlan = keys
  override def output: Seq[Attribute] = big.output
  // the key's columns count as used, so ColumnPruning keeps them in `big`
  override def references: AttributeSet = bigKey.references ++ keys.outputSet
  override def maxRows: Option[Long] = big.maxRows
  // at most `big`'s rows; Catalyst's default for a binary node would be
  // the product of both children's sizes, which steers joins above the
  // node away from broadcasting
  override def stats: Statistics = big.stats
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): BloomFilterNode =
    copy(big = l, keys = r)
}

case class BloomFilterExec(bigKey: Expression, big: SparkPlan, keys: SparkPlan)
    extends BinaryExecNode {
  override def left: SparkPlan = big
  override def right: SparkPlan = keys
  override def output: Seq[Attribute] = big.output
  override def outputPartitioning: Partitioning = big.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = big.outputOrdering
  override def nodeName: String = "BloomFilter"

  override protected def doExecute(): RDD[InternalRow] = {
    val rows = big.execute()
    val (key, in) = (keys.output.head, keys.output)
    // the key hashes are kept between the count and the build, so the
    // keys plan runs once; they are released once the filter is built
    val hashes = keys.execute().mapPartitions { it =>
      val hash = BloomFilterExec.keyHash(key, in)
      it.map(hash).filterNot(_.isNullAt(0)).map(_.getLong(0))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = hashes.count()
      if (n == 0) rows.mapPartitions(_ => Iterator.empty, preservesPartitioning = true)
      else {
        val filter = hashes.mapPartitions { it =>
          if (!it.hasNext) Iterator.empty
          else {
            val f = BloomFilter.create(n, 10 * n)
            it.foreach(f.putLong)
            Iterator.single(f)
          }
        }.reduce(_ mergeInPlace _)
        val bcast = sparkContext.broadcast(filter)
        val (bk, bin) = (bigKey, big.output)
        rows.mapPartitions({ it =>
          val f = bcast.value
          val hash = BloomFilterExec.keyHash(bk, bin)
          it.filter { r =>
            val h = hash(r)
            !h.isNullAt(0) && f.mightContainLong(h.getLong(0))
          }
        }, preservesPartitioning = true)
      }
    } finally hashes.unpersist(blocking = false)
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): BloomFilterExec =
    copy(big = l, keys = r)
}

object BloomFilterExec {
  /** `xxhash64(key)` over `in`, null for a null key. */
  private def keyHash(key: Expression, in: Seq[Attribute]): UnsafeProjection =
    UnsafeProjection.create(
      Seq(If(IsNull(key), Literal(null, LongType), new XxHash64(Seq(key)))), in)
}

object BloomFilterStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BloomFilterNode(k, big, keys) =>
      BloomFilterExec(k, planLater(big), planLater(keys)) :: Nil
    case _ => Nil
  }
}

object BloomFilterNode {

  /** The rows of `big` whose `key` may be among the values of the
    * one-column `keys` (same type as `key`), as a [[BloomFilterNode]].
    */
  def filter(big: DataFrame, key: Column, keys: DataFrame): DataFrame = {
    val spark = big.sparkSession
    GroupTopK.register(spark)
    val (k, child) = big.select(key).queryExecution.analyzed match {
      case Project(Seq(Alias(e, _)), c) => (e, c)
      case Project(Seq(e), c) => (e, c)
    }
    val keyPlan = keys.queryExecution.analyzed
    require(keyPlan.output.size == 1 && keyPlan.output.head.dataType == k.dataType,
      s"keys must be one ${k.dataType} column, got ${keyPlan.output.map(_.dataType)}")
    ColumnBridge.ofRows(spark, BloomFilterNode(k, child, keyPlan))
  }
}
