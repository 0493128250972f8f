package graft.operators

import org.apache.spark.sql.DataFrame

import graft.plans.{GraphIter, LpaKernel}

/** Synchronous label propagation (Raghavan et al. 2007) — community
  * detection beside [[Components]] (which finds *connectivity*; LPA
  * finds *density* structure, the signal used to group near-duplicate
  * crawl domains).  Deterministic variant: each iteration every vertex
  * adopts the most frequent label among its neighbors, ties broken by
  * the SMALLEST label — so results are reproducible across partitions
  * and replayable in a SQL oracle (classic LPA breaks ties randomly).
  *
  * Runs as one lazy [[graft.plans.GraphIterNode]]
  * ([[graft.plans.LpaKernel]]): one message shuffle of the votes per
  * iteration inside the exec, and no job while the Dataset is built.
  */
object LabelProp {

  /** `edges(srcCol, dstCol)` is symmetrized + deduped; initial label of
    * a vertex is its own id.  Returns (id, label) after `iters` rounds.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String, iters: Int): DataFrame =
    GraphIter(edges, LpaKernel, iters, Seq(srcCol, dstCol))
}
