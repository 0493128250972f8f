package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Exact pair counting over an inverted index: the shared core of the
  * near-duplicate pair queries (q54 Jaccard, q409 containment, q169 and
  * q198 substring duplication).
  *
  * SCALE NOTE: the output (and shuffle) is inherently quadratic in
  * corpus duplication; [[ScaleGuidance]] warns at plan-build time when
  * the documents' Catalyst size estimate exceeds
  * `spark.graft.exactPairs.warnBytes` (default 1 GiB).
  */
object PairCounts {

  /** `(id1, id2, n_shared)` with `id1 < id2` for every pair of ids that
    * share `n_shared` keys of `inv`, a two-column `(id, key)` index with
    * distinct keys per id and ids that fit 32 bits (they are packed into
    * one long per pair, [[PackedPairs]]). `docs` is the input the index
    * was derived from and `op` names the caller, both for the scale
    * warning.
    */
  def apply(docs: DataFrame, inv: DataFrame, op: String): DataFrame = {
    ScaleGuidance.checkExactPairs(docs, op)
    val Array(id, key) = inv.columns
    // ADAPTIVE singleton pre-filter: on a real corpus most keys occur in
    // one document and contribute no pairs, yet they dominate the
    // exchange and the collect_list object-agg. One HLL sketch pass
    // estimates the singleton fraction; when singleton-dominated
    // (ratio ≥ 0.6) the index is bloom-filtered against its duplicated
    // keys, so the heavy shuffle only carries candidates. A bloom false
    // positive admits a singleton whose 1-element list dies at the
    // size ≥ 2 filter, so exactness does not depend on the gate. On a
    // duplication-heavy corpus the gate cannot pay for its
    // duplicate-key shuffle and is skipped.
    //
    // This `.head()` is the one job run while the Dataset is built, on
    // purpose: the gate exists to skip the duplicate-key shuffle, and
    // under AQE that shuffle is a child stage, materialized before any
    // exec above it could decide to skip it.
    val st = inv.agg(count(lit(1)), approx_count_distinct(col(key))).head()
    val ratio = st.getLong(1).toDouble / math.max(st.getLong(0), 1L).toDouble
    val gated =
      if (ratio < 0.6) inv
      else graft.plans.BloomFilterNode.filter(inv, col(key),
        inv.groupBy(key).agg(count(lit(1)).as("c")).filter(col("c") >= 2).select(key))
    // group by key and expand id pairs map-side; singleton keys
    // contribute no pairs and are filtered free
    gated.groupBy(key)
      .agg(sort_array(collect_list(col(id))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(ColumnBridge.column(
        PackedPairs(ColumnBridge.expression(col("ds"))))).as("pk"))
      .groupBy("pk")
      .agg(count(lit(1)).as("n_shared"))
      .select(shiftrightunsigned(col("pk"), 32).as("id1"),
        col("pk").bitwiseAND(lit(0xffffffffL)).as("id2"),
        col("n_shared"))
  }
}
