package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact substring-duplication pairs (Lee et al. "Deduplicating
  * Training Data Makes Language Models Better" family): documents
  * sharing ≥ `minShared` char-`k`-gram fingerprints, counted over a
  * packed-long inverted index.
  *
  * `w` is the winnow window ([[WinnowSetLong]], MOSS): w=1 keeps EVERY
  * gram — the exhaustive exact path (q169's contract) whose inverted
  * index is |text| rows per document; w>1 keeps the per-window minimum
  * (~2/(w+1) of grams) while GUARANTEEING any shared substring of
  * length ≥ k+w-1 still collides on at least one selected gram — the
  * bounded path for corpus scale, where the exhaustive index's pair
  * expansion exceeds single-node spill capacity (measured: >70 GB
  * shuffle at the 100×-salted tier for w=1; the w=8 twin q198 runs the
  * same tier in bounded space). `minShared` calibrates to the sampling
  * rate: the w=1 threshold t corresponds to ≈ t·2/(w+1) at window w.
  *
  * Pair counting is [[PairCounts]], whose adaptive singleton gate
  * bloom-filters the index when most grams occur in one document.
  */
object SubstringDup {

  def pairs(docs: DataFrame, idCol: String, textCol: String,
            k: Int, w: Int, minShared: Long): DataFrame = {
    val g = docs
      .filter(length(col(textCol)) >= k + w - 1)
      .select(col(idCol), Fingerprint.winnowSetLong(col(textCol), k, w).as("hs"))
    val sizes = g.select(col(idCol), size(col("hs")).as("ng"))
    // explode_outer: an inner explode infers `size(hs) > 0`, which the
    // optimizer pushes below the caller's fan-out exchange, so the
    // fingerprints would be computed twice, the first time in one task
    // (hs is never empty after the length filter, so the rows are equal)
    val inv = g.select(col(idCol), explode_outer(col("hs")).as("h"))
    PairCounts(docs, inv, "SubstringDup.pairs")
      .join(sizes.select(col(idCol).as("id1"), col("ng").as("ng1")), "id1")
      .join(sizes.select(col(idCol).as("id2"), col("ng").as("ng2")), "id2")
      .filter(col("n_shared") >= minShared)
      .select(col("id1"), col("id2"), col("n_shared"),
        graft.functions.Num.rnd(col("n_shared").cast("double") /
          least(col("ng1"), col("ng2")), 6).as("frac"))
  }
}
