package graft.operators

import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (Kleinberg 1999) on a DIRECTED bipartite
  * graph — the mutual-reinforcement ranking beside [[PageRank]]'s
  * random-walk one (hub customers "endorse" authority suppliers and
  * vice versa; in a curation pipeline this ranks crawl sources against
  * the documents they link).
  *
  * Same fixed-point integer discipline as PageRank: scores are
  * Scale-scaled longs; each half-iteration is one hash join + one
  * partial-agg groupBy (exact long sums, order-independent) run as an
  * [[Iterative]] superstep, and the
  * normalization `x·Scale/Σx` is computed as `x div (Σx div Scale)` —
  * pure integer ops a SQL oracle replays to the unit.  Per-iteration
  * normalization keeps every score ≤ ~Scale, so the sums stay inside
  * long range for vertex counts up to ~10^6 per side at the default
  * Scale (drop Scale for larger graphs).
  */
object Hits {

  val Scale: Long = PageRank.Scale

  /** Returns (id, side['hub'|'auth'], score) after `iters` rounds.
    *
    * The loop state is both sides as one (id, side, score, deg) frame,
    * hash-partitioned by id on the loop width, and each round is two
    * supersteps that replace one side each. Edges are laid out by src
    * once. Hub→auth joins them with the hub rows in place (shuffle-hash,
    * co-partitioned) and aggregates by dst: the round's one hash
    * exchange. Auth→hub broadcasts the auth scores onto the src layout,
    * whose per-src aggregate needs no exchange.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String, iters: Int): DataFrame =
    Iterative.loop(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))) { g =>
      val e = g.keep(g.edges.repartition(g.parts, col("src")).distinct())
      val hubs = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val hub0 = hubs.crossJoin(broadcast(hubs.agg(count(lit(1)).as("n")))).select(col("id"),
        lit("hub").as("side"), expr(s"${Scale}L div n").as("score"), col("deg"))
      val toAuth = flow("hub", "auth", hub => e.hint("shuffle_hash")
        .join(hub.hint("shuffle_hash"), e("src") === hub("id")).groupBy(col("dst").as("id"))) _
      val toHub = flow("auth", "hub", auth => e.join(broadcast(auth), e("dst") === auth("id"))
        .groupBy(e("src").as("id"))) _
      g.fixed(hub0, iters)(toAuth, toHub).drop("deg")
    }

  /** One superstep: the `from` rows' scores summed along the edges into
    * `to` rows, normalized `raw div (Σraw div Scale)`. Every edge carries
    * its source's score once, so Σraw is Σ score·deg over the `from` rows
    * of the state — read from the checkpointed state, not by a second
    * pass over the raw sums.
    */
  private def flow(from: String, to: String, along: DataFrame => RelationalGroupedDataset)
                  (s: DataFrame): DataFrame = {
    val x = s.filter(col("side") === from)
    along(x).agg(sum(col("score")).as("raw"), count(lit(1)).as("deg"))
      .crossJoin(broadcast(x.agg(expr(s"sum(score * deg) div ${Scale}L").as("d"))))
      .select(col("id"), lit(to).as("side"), expr("raw div greatest(d, 1L)").as("score"), col("deg"))
      .unionByName(s.filter(col("side") =!= to))
  }
}
