package graft.operators

import org.apache.spark.sql.DataFrame

import graft.plans.{GraphIter, HitsKernel}

/** HITS hubs & authorities (Kleinberg 1999) on a DIRECTED bipartite
  * graph — the mutual-reinforcement ranking beside [[PageRank]]'s
  * random-walk one (hub customers "endorse" authority suppliers and
  * vice versa; in a curation pipeline this ranks crawl sources against
  * the documents they link).
  *
  * Same fixed-point integer discipline as PageRank: scores are
  * Scale-scaled longs, and each half-iteration sums the scores along the
  * edges (exact long sums, order-independent) and normalizes
  * `x·Scale/Σx` as `x div (Σx div Scale)` — pure integer ops a SQL
  * oracle replays to the unit. It runs as one lazy
  * [[graft.plans.GraphIterNode]] ([[graft.plans.HitsKernel]]), whose exec
  * computes each half-step's normalizer. Per-iteration normalization
  * keeps every score ≤ ~Scale, so the sums stay inside long range for
  * vertex counts up to ~10^6 per side at the default Scale.
  */
object Hits {

  val Scale: Long = PageRank.Scale

  /** Returns (id, side['hub'|'auth'], score) after `iters` rounds. */
  def run(edges: DataFrame, srcCol: String, dstCol: String, iters: Int): DataFrame =
    GraphIter(edges, HitsKernel, iters, Seq(srcCol, dstCol))
}
