package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/test overlap detection (decontamination) — flag every corpus
  * document that shares at least one word n-gram with an evaluation
  * set (the GPT-3 appendix-C / Dolma procedure: 13-gram collisions
  * against benchmark text mark a training document contaminated).
  *
  * Not a reference operator (legate.pandas has no text surface); this
  * is training-pipeline surface built on the engine's shingle + bloom
  * machinery ([[Shingles]], [[graft.plans.BloomFilterNode]]).
  *
  * Scale shape: the eval set is orders of magnitude smaller than the
  * corpus, but at 10⁹ distinct eval grams it does not broadcast as rows.
  * So:
  *
  *   1. distinct eval grams (one shuffle over the SMALL side),
  *   2. a bloom built from them gates the corpus-side exploded grams
  *      INSIDE the scan stage — non-candidate grams (the vast
  *      majority) never reach a shuffle; the node counts the eval grams
  *      and sizes the bloom to them when the plan executes,
  *   3. an exact semi-join over the survivors removes bloom false
  *      positives, so the flags are exact and oracle-checkable.
  *
  * The per-doc shuffle volume is O(candidate grams), not O(all
  * grams): at a realistic collision rate the 100 TB corpus explode
  * stays scan-local and the verify join carries ~nothing.
  */
object Decontaminate {

  /** Per-document contamination flags: `(idCol, hit_grams, contaminated)`
    * with one row per corpus document. `hit_grams` counts the DISTINCT
    * n-grams of the document that occur anywhere in the eval set
    * (shingle sets are distinct by construction).
    */
  def flag(corpus: DataFrame, idCol: String, textCol: String,
           eval: DataFrame, evalTextCol: String, n: Int): DataFrame = {
    val evalGrams = eval
      .select(explode(Shingles.shingles(col(evalTextCol), n)).as("g"))
      .distinct()
    val candidates = corpus
      .select(col(idCol), explode(Shingles.shingles(col(textCol), n)).as("g"))
    val hits = graft.plans.BloomFilterNode.filter(candidates, col("g"), evalGrams)
      // exact verify kills bloom FPs; BROADCAST: the eval-gram table is
      // small by contract (bounded eval suites vs unbounded corpus), and
      // the alternative is a sort-merge join that sorts every surviving
      // corpus gram string — the dominant cost of this plan at any scale
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy(idCol)
      .agg(count(lit(1)).as("hit_grams"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("hit_grams"), lit(0L)).as("hit_grams"),
        (coalesce(col("hit_grams"), lit(0L)) > 0).as("contaminated"))
  }

  /** The corpus with contaminated documents removed — `flag` as a
    * filter, keeping all corpus columns. The join is a left_anti
    * against only the CONTAMINATED ids (small), not the full flag
    * table.
    */
  def clean(corpus: DataFrame, idCol: String, textCol: String,
            eval: DataFrame, evalTextCol: String, n: Int): DataFrame = {
    val bad = flag(corpus, idCol, textCol, eval, evalTextCol, n)
      .filter(col("contaminated"))
      .select(col(idCol))
    corpus.join(bad, Seq(idCol), "left_anti")
  }
}
