package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) — community
  * detection beside [[Components]] (which finds *connectivity*; LPA
  * finds *density* structure, the signal used to group near-duplicate
  * crawl domains).  Deterministic variant: each iteration every vertex
  * adopts the most frequent label among its neighbors, ties broken by
  * the SMALLEST label — so results are reproducible across partitions
  * and replayable in a SQL oracle (classic LPA breaks ties randomly).
  *
  * Distributed shape: one co-partitioned hash join (labels ⋈ edges laid
  * out by src), ONE exchange of the votes by receiving vertex, then the
  * (vertex, label) count and the per-vertex arg-max window both run on
  * that layout — one exchange per iteration, the labels landing back on
  * the edge layout for the next join. The loop (session, width,
  * checkpoints, releases) is [[Iterative]]'s.
  */
object LabelProp {

  /** `edges(srcCol, dstCol)` is symmetrized + deduped; initial label of
    * a vertex is its own id.  Returns (id, label) after `iters` rounds.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String, iters: Int): DataFrame =
    Iterative.loop(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))) { g =>
      val sym = g.keep(g.bothWays().repartition(g.parts, col("src")).distinct())
      val byVote = Window.partitionBy("id").orderBy(col("n").desc, col("label").asc)
      // label = min(src) = id: an aggregate, not a second alias of the
      // key, so the state keeps one id partitioning through checkpoints
      val init = sym.groupBy(col("src").as("id")).agg(min(col("src")).as("label"))
      g.fixed(init, iters) { lab =>
        sym.hint("shuffle_hash").join(lab.hint("shuffle_hash"), sym("src") === lab("id"))
          .repartition(g.parts, col("dst"))
          .groupBy(col("dst").as("id"), col("label")).agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(byVote))
          .filter(col("rn") === 1)
          .select("id", "label")
      }
    }
}
