package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document fingerprinting by winnowing (MOSS-style): hash every
  * k-character gram of the document, slide a window of `w` consecutive
  * gram hashes, and keep the minimum of each window. The distinct window
  * minima are the document's fingerprints — a position-robust signature
  * set whose size adapts to document length and which two documents
  * share in proportion to their overlapping substrings (Schleimer,
  * Wilkerson, Aiken, "Winnowing: Local Algorithms for Document
  * Fingerprinting", SIGMOD 2003).
  *
  * The reference has no fingerprinting surface (nearest is hashing for
  * partitioning); this is beyond-parity for training-data curation,
  * where winnowed fingerprints drive containment/overlap detection that
  * whole-document hashes (q53) and set-similarity near-dup (q54/q55)
  * don't cover.
  *
  * Gram hash = first 16 hex chars of md5 — chosen (like SimHash q56)
  * because the oracle can recompute it bit-for-bit in SQL. A
  * raw-throughput deployment swaps in a true rolling polynomial hash
  * (O(1) per position instead of O(k)); the winnowing layout is
  * identical. Plan shape: scan-stage gram explode → one shuffle on
  * doc_id for the ordered window → partial/final agg. At 100 TB the
  * explode multiplies rows by ~doc_len but each row is (id, pos, 16B
  * hash); the shuffle is what a distributed ordered scan costs, and
  * per-doc windows parallelize across all executors.
  */
object Fingerprint {

  /** Distinct winnowed fingerprints as an array column — the native
    * one-pass [[WinnowSet]] expression (scan-stage, no shuffle). It and
    * [[winnowSetLong]] run one winnow kernel over unsigned-long gram
    * hashes; this form renders each emitted long as its 16 hex chars.
    */
  def winnowSet(text: org.apache.spark.sql.Column, k: Int, w: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(WinnowSet(ColumnBridge.expression(text), k, w))
  }

  /** [[winnowSet]] with primitive long fingerprints ([[WinnowSetLong]])
    * — the shuffle-key-friendly form for inverted-index consumers.
    */
  def winnowSetLong(text: org.apache.spark.sql.Column, k: Int, w: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(WinnowSetLong(ColumnBridge.expression(text), k, w))
  }

  /** Fingerprint summary per document via [[WinnowSet]] — identical
    * output to [[fingerprints]] (spec-pinned) with zero shuffles: the
    * whole computation is one scan-stage projection.
    */
  def fingerprintsNative(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4): DataFrame = {
    val n = length(col(textCol))
    docs
      .filter(n >= k + w - 1)
      .select(col(idCol), n.as("n"), winnowSet(col(textCol), k, w).as("fps"))
      .select(col(idCol),
        (col("n") - (k - 1)).cast("long").as("n_grams"),
        size(col("fps")).cast("long").as("n_fps"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))
  }

  /** Fingerprint summary per document: number of grams, number of
    * distinct winnowed fingerprints, and the lexicographic min/max
    * fingerprint (a stable 2-point signature for quick equality checks).
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, w: Int = 4): DataFrame = {
    val n = length(col(textCol))
    val grams = docs
      .filter(n >= k + w - 1)
      .select(col(idCol), n.as("n"), col(textCol).as("__t"))
      .select(col(idCol), col("n"),
        explode(sequence(lit(1L), (col("n") - (k - 1)).cast("long"))).as("i"),
        col("__t"))
      .select(col(idCol), col("n"), col("i"),
        substring(md5(col("__t").substr(col("i").cast("int"), lit(k))), 1, 16).as("h"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("i")).rowsBetween(0, w - 1)
    grams
      .withColumn("mn", min(col("h")).over(win))
      // only full windows: starts 1 .. n_grams - w + 1 = n - k - w + 2
      .filter(col("i") <= col("n") - (k + w - 2))
      .groupBy(col(idCol))
      .agg(
        (max(col("n")) - (k - 1)).cast("long").as("n_grams"),
        countDistinct(col("mn")).as("n_fps"),
        min(col("mn")).as("min_fp"),
        max(col("mn")).as("max_fp"))
  }
}
