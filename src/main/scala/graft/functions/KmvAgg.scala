package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count sketch: the k smallest DISTINCT
  * hash values per group ([[TopKMinAgg]], a mergeable aggregate whose
  * map-side partial sketches merge before the shuffle, so the exchange
  * carries at most k hashes per (partition, group) regardless of input
  * size — the `sum`-shaped dataflow, applied to approximate nunique)
  * plus an estimate over them.
  *
  * Input is the 12-hex-char md5 prefix (48 bits — exact in a double);
  * the estimate is (k−1)/u_k with u_k the kth smallest normalized hash,
  * or the exact distinct count when fewer than k hashes were seen.
  * Deterministic: same input set → same sketch → same estimate, which
  * is what lets a SQL oracle recompute it (q154).
  */
object KmvAgg {
  /** 16^12 — the 12-hex-digit hash space, for normalizing u_k. */
  val SPACE: Double = math.pow(16.0, 12)

  /** Column form: approximate nunique of `hashCol` (12-hex md5 prefix). */
  def kmv(hashCol: Column, k: Int = 64): Column = {
    val mins = TopKMinAgg.topkMin(hashCol, k)
    when(size(mins) < k, size(mins).cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (conv(get(mins, lit(k - 1)), 16, 10).cast("double") / lit(SPACE)))
  }
}
