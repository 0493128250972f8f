package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash + LSH banding for near-duplicate detection at corpus scale.
  *
  * Pipeline (shingle → minhash → band → bucket-join):
  *  1. per-doc shingle set (scan stage, no shuffle);
  *  2. k minhashes, each `min over shingles of xxhash64(seed_i, s)` —
  *     k array expressions inside the same scan;
  *  3. k/r LSH bands, each hashing r consecutive signature slots;
  *  4. explode bands → shuffle on (band, hash) → self-join within
  *     buckets → candidate pairs;
  *  5. exact-Jaccard verification of candidates only.
  *
  * Scale: the only shuffles are (a) the band explode (k/r rows per doc,
  * fixed fan-out) and (b) the candidate-pair join back to shingle sets.
  * Everything before is embarrassingly parallel in the scan. Hot buckets
  * (boilerplate docs) are bounded by `maxBucket` — the standard guard
  * against quadratic blowup on giant clusters of identical docs.
  *
  * With k=64, r=4 → 16 bands, P(candidate | j) = 1-(1-j^4)^16: ≈0.97 at
  * j=0.7, ≈0.19 at j=0.3.
  */
object MinHash {

  /** Candidate near-dup pairs (idCol pairs, id1 < id2) via LSH banding.
    *
    * Band hashes are built DIRECTLY from per-band minhash expressions so
    * each of the k minhash subtrees appears exactly once in the plan —
    * routing them through an intermediate `sig` array looks cleaner but
    * Catalyst's CollapseProject re-inlines the whole array into every
    * element reference, duplicating the k×|shingles| hash work ~k times
    * (measured 25s → <2s on the sf0.001 corpus).
    */
  def candidatePairs(docs: DataFrame, idCol: String, shingleCol: String,
                     k: Int = 64, r: Int = 4, maxBucket: Int = 1000): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // Single-pass custom expression: k minhashes + band fold evaluated
    // once per row (see MinHashSig scaladoc for why the composed
    // expression form pays a large constant factor).
    val buckets = docs
      .select(col(idCol),
        posexplode(MinHashSig.bandHashes(col(shingleCol), k, r)).as(Seq("band", "h")))
    // One groupBy replaces the window-count + self-join + row-distinct
    // form: collect each bucket's id list, expand pairs map-side
    // (PackedPairs), dedup on the packed long. Buckets above `maxBucket`
    // are dropped whole — the standard guard against quadratic blowup on
    // giant clusters of identical docs (boilerplate).
    val lists = buckets.groupBy("band", "h")
      .agg(sort_array(collect_list(col(idCol))).as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) <= maxBucket)
    lists
      .select(explode(ColumnBridge.column(
        PackedPairs(ColumnBridge.expression(col("ds"))))).as("pk"))
      .distinct()
      .select(shiftrightunsigned(col("pk"), 32).as("id1"),
        col("pk").bitwiseAND(lit(0xffffffffL)).as("id2"))
  }

  /** Persistable LSH bucket index of a corpus: one (band, h, id) row
    * per document band — the incremental-curation contract. A 100 TB
    * corpus is deduplicated ONCE; every new crawl batch then probes
    * this index ([[probeIndex]]) instead of re-shingling the corpus:
    * the index is k/r rows per document (16 at the defaults) of three
    * small columns, write it partitioned by `band` and the probe's
    * bucket join prunes to matching band partitions.
    */
  def bucketIndex(corpus: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, k: Int = 64, r: Int = 4): DataFrame =
    corpus.select(col(idCol).as("id"),
      posexplode(MinHashSig.bandHashes(
        Shingles.shingles(col(textCol), n), k, r)).as(Seq("band", "h")))

  /** Dedup a NEW batch against a persisted [[bucketIndex]]: batch band
    * hashes bucket-join the index (shuffle on (band, h) — never an
    * all-pairs comparison), hot buckets above `maxBucket` are dropped
    * whole (same guard as [[candidatePairs]]), and only the CANDIDATE
    * corpus documents are re-shingled for the exact verify (a semi-join
    * sized by candidate count, not corpus size). Returns
    * (new_id, corpus_id, jaccard ≥ threshold).
    */
  def probeIndex(index: DataFrame, batch: DataFrame, corpus: DataFrame,
                 idCol: String, textCol: String,
                 n: Int = 3, threshold: Double = 0.5,
                 k: Int = 64, r: Int = 4, maxBucket: Int = 1000): DataFrame = {
    val batchSh = batch
      .select(col(idCol), Shingles.shingles(col(textCol), n).as("sh"))
      .cache() // banding + verify sides
    val probes = batchSh.select(col(idCol).as("new_id"),
      posexplode(MinHashSig.bandHashes(col("sh"), k, r)).as(Seq("band", "h")))
    // bucket lists keep the maxBucket contract stable as the corpus
    // grows: a bucket that outgrows the cap stops yielding candidates
    // (boilerplate cluster) rather than going quadratic
    val buckets = index.groupBy("band", "h")
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) <= maxBucket)
    val cand = probes.join(buckets, Seq("band", "h"))
      .select(col("new_id"), explode(col("ids")).as("corpus_id"))
      .filter(col("new_id") =!= col("corpus_id"))
      .distinct()
    val corpusSh = corpus
      .join(cand.select(col("corpus_id").as(idCol)).distinct(), idCol)
      .select(col(idCol).as("corpus_id"),
        Shingles.shingles(col(textCol), n).as("csh"))
    cand.join(batchSh.select(col(idCol).as("new_id"), col("sh")), "new_id")
      .join(corpusSh, "corpus_id")
      .withColumn("jaccard", Shingles.jaccard(col("sh"), col("csh")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** Full near-dup pipeline: LSH candidates verified with exact Jaccard
    * ≥ `threshold`. Returns (id1, id2, jaccard).
    */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, threshold: Double = 0.5,
                     k: Int = 64, r: Int = 4): DataFrame = {
    // cache the shingle sets: referenced by the LSH banding AND both
    // sides of the verification join — 4 recomputes of the shingle
    // expression otherwise.
    val sh = Shingles.cachedSets(docs, idCol, textCol, n)
      // cache-if-absent (r11): q54 caches the identical shingle
      // projection — share the entry silently instead of double-caching
      // (r13: shared helper so the plans stay identical by construction)
    val cand = candidatePairs(sh, idCol, "sh", k, r)
    val s1 = sh.select(col(idCol).as("id1"), col("sh").as("sh1"))
    val s2 = sh.select(col(idCol).as("id2"), col("sh").as("sh2"))
    cand.join(s1, "id1").join(s2, "id2")
      .withColumn("jaccard", Shingles.jaccard(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }
}
