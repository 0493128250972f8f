package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the clustering
  * step of near-duplicate deduplication: docs linked by any near-dup
  * pair form one cluster, and the cluster keeps min(doc_id) as its
  * representative (every other member is the duplicate set).
  *
  * Algorithm: minimum-label propagation. Each node starts labeled with
  * itself; every round each node takes the min label among itself and
  * its neighbors; stop when no label changes. Rounds are bounded by the
  * component diameter (near-dup clusters are small and dense, so
  * a handful of rounds) and each round is one hash-shuffle join on node
  * id — the GraphX-free, pure-DataFrame formulation, run as an
  * [[Iterative]] until-stable loop (each round one eager checkpoint job
  * that also observes how many labels changed).
  *
  * The reference has no graph surface at all; this is beyond-parity for
  * the curation pipeline (dedup keeps one representative per cluster).
  */
object Components {

  /** @param edges two-column DataFrame (srcCol, dstCol), undirected
    * @return (id, rep): every node that appears in an edge, with the
    *         min node id of its component
    */
  def connected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    Iterative.loop(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))) { g =>
      val sym = g.keep(g.bothWays().distinct())
      // rep = min(src) = id (see LabelProp): one id partitioning survives checkpoints
      val init = sym.groupBy(col("src").as("id")).agg(min(col("src")).as("rep"))
      g.untilStable(init) { labels =>
        // Graph edges PLUS this round's pointer edges (rep → id): the
        // min-over-senders then delivers both the neighbor labels AND the
        // label of my current representative in the SAME join — pointer
        // jumping (O(log d) rounds on a diameter-d chain) without a
        // separate prop/jump self-join per round.
        val nbr = sym.union(labels.select(col("rep").as("src"), col("id").as("dst")))
          .join(labels.select(col("id").as("src"), col("rep").as("na")), "src")
          .groupBy(col("dst").as("id"))
          .agg(min(col("na")).as("nrep"))
        val rep = least(col("rep"), coalesce(col("nrep"), col("rep")))
        labels.join(nbr, Seq("id"), "left")
          .select(col("id"), rep.as("rep"), (rep =!= col("rep")).as("changed"))
      }
    }
}
