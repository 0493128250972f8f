package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.LongType

import graft.plans.{ComponentsNode, GroupTopK}

/** Connected components over an undirected edge list — the clustering
  * step of near-duplicate deduplication: docs linked by any near-dup
  * pair form one cluster, and the cluster keeps min(doc_id) as its
  * representative (every other member is the duplicate set).
  *
  * Algorithm: union-find, as one lazy plan node
  * ([[graft.plans.ComponentsExec]]): a union-find per edge partition,
  * and, when there are several, the same union-find once more over the
  * partitions' forests shuffled into one partition. Building the Dataset
  * fires no job; the edge derivation and the merge run when the plan
  * executes.
  *
  * The reference has no graph surface at all; this is beyond-parity for
  * the curation pipeline (dedup keeps one representative per cluster).
  */
object Components {

  /** @param edges two-column DataFrame (srcCol, dstCol), undirected
    * @return (id, rep): every node that appears in an edge, with the
    *         min node id of its component
    */
  def connected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val spark = edges.sparkSession
    GroupTopK.register(spark)
    val child = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).queryExecution.analyzed
    val produced = Seq("id", "rep").map(AttributeReference(_, LongType)())
    ColumnBridge.ofRows(spark,
      ComponentsNode(child.output(0), child.output(1), produced, child))
  }
}
