package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Misra–Gries heavy-hitters sketch as a typed mergeable [[Aggregator]]
  * (Misra & Gries 1982; the mergeable form is Agarwal et al., "Mergeable
  * Summaries", PODS'12).
  *
  * Guarantee: every item with true frequency > N/(k+1) is in the final
  * candidate set, where N is the total item count.  This is the
  * scan-stage half of the scale-safe top-k-frequent plan (q232):
  *
  *   1. partial MG sketches per partition (bounded: ≤ k counters),
  *      merged associatively — the exchange carries ≤ k (item, count)
  *      pairs per partition, NOT one row per distinct item;
  *   2. the ≤ k candidates broadcast back as a scan filter;
  *   3. exact counts for candidates only — the groupBy shuffles only
  *      rows whose item survived the filter.
  *
  * At 100 TB with a Zipf-ish vocabulary this replaces a full
  * shuffle-every-word aggregation with a bounded sketch plus a
  * candidate-only aggregation.  The sketch alone gives approximate
  * counts; the verify pass makes the reported top-k EXACT (same
  * sketch-then-verify shape as the bloom pre-filter,
  * [[graft.plans.BloomFilterNode]]).
  *
  * Buffer: Map[item → counter].  The merge sums counters, then applies
  * the MG decrement: subtract the (k+1)-largest counter from all and
  * drop non-positive ones — the standard mergeable-summaries reduction
  * that preserves the error bound.
  */
class MisraGries(k: Int) extends Aggregator[String, Map[String, Long], Array[String]] {

  override def zero: Map[String, Long] = Map.empty

  override def reduce(buf: Map[String, Long], x: String): Map[String, Long] = {
    if (x == null) return buf
    buf.get(x) match {
      case Some(c) => buf.updated(x, c + 1)
      case None if buf.size < k => buf.updated(x, 1L)
      case None => // decrement all; drop zeros (classic MG step)
        buf.flatMap { case (w, c) => if (c > 1) Some(w -> (c - 1)) else None }
    }
  }

  override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
    val sum = b.foldLeft(a) { case (m, (w, c)) =>
      m.updated(w, m.getOrElse(w, 0L) + c)
    }
    if (sum.size <= k) sum
    else {
      val cut = sum.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      sum.flatMap { case (w, c) => if (c > cut) Some(w -> (c - cut)) else None }
    }
  }

  override def finish(buf: Map[String, Long]): Array[String] =
    buf.keysIterator.toArray.sorted

  override def bufferEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()

  override def outputEncoder: Encoder[Array[String]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[String]]()
}

object MisraGries {
  /** Column form: `mg(k)(itemCol)` → sorted candidate array.
    * Routes to the NATIVE [[MisraGriesExpr]] (mutable-HashMap buffer —
    * the immutable-Map udaf copies a HAMT path per token); this class
    * stays as its differential twin (MisraGriesSpec pins ≡ on a single
    * partition).
    */
  def mg(k: Int): Column => Column = { c => MisraGriesExpr(k)(c) }

  /** The boxed udaf twin (differential tests only). */
  def mgUdaf(k: Int): Column => Column = { c => udaf(new MisraGries(k)).apply(c) }

  /** EXACT top-k most frequent items via the certified-sketch plan:
    * one bounded-state MG pass (candidates + total count in the same
    * aggregation), exact counts for candidates only, and a
    * certification check — the kth candidate count must exceed
    * N/(sketchK+1), the ceiling on any non-candidate's true count.  If
    * the guarantee doesn't bind (vocabulary too flat for the sketch
    * size), falls back to the full exact aggregation, so the result is
    * exact top-k (count desc, item asc) in every case.
    */
  /** Fit the MG sketch as a PERSISTABLE one-row table
    * `(cand array<string>, n bigint, sketch_k int)` — the fit-once/
    * probe-many contract (like MinHash.bucketIndex and embedCellIndex):
    * a repeated heavy-hitters workload writes this row once and every
    * later call pays only the candidate-verify scan, not the MG pass
    * over the full corpus.  The row is mergeable across corpus deltas
    * by refitting on the delta and merging candidate sets (superset
    * candidates never break the certification — it re-proves exactness
    * from exact counts every call).
    */
  def fitSketch(items: org.apache.spark.sql.DataFrame, itemCol: String,
                sketchK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    items.agg(mg(sketchK)(col(itemCol)).as("cand"),
        count(col(itemCol)).as("n"))
      .select(col("cand"), col("n"), lit(sketchK).as("sketch_k"))
  }

  def topKFrequent(items0: org.apache.spark.sql.DataFrame, itemCol: String,
                   k: Int, sketchK: Int): org.apache.spark.sql.DataFrame = {
    // The item stream is read three times (sketch pass, certification
    // pass, and the returned plan's own execution). Re-tokenizing per
    // pass beats caching: materializing millions of exploded token
    // strings into the columnar cache costs more task time than the
    // codegen'd split+explode it saves (measured r12: persist 0.74 s vs
    // re-scan 0.5 s at sf0.1), and the cache's memory footprint scales
    // with the corpus while the re-scan holds nothing.
    topKFrequentPrefit(items0, itemCol, k,
      fitSketch(items0, itemCol, sketchK))
  }

  /** The amortized path: exact top-k from a PREFIT sketch row
    * ([[fitSketch]], typically read back from parquet).  One candidate-
    * filtered aggregation per call — the full-corpus MG pass is gone;
    * certification re-proves exactness from the exact counts.
    *
    * PRECONDITION: the corpus may only have GROWN by appends since
    * [[fitSketch]] (the same append-only contract as the persisted
    * LSH/embed indexes).  Under that contract a stale sketch is safe: a
    * non-candidate held ≤ n_sketch/(sketchK+1) occurrences at fit time
    * (the MG guarantee) plus at most `nNow - nSketch` added since, and
    * certification uses exactly that bound — a sketch missing a new
    * heavy item fails it and falls back to the exact aggregation.
    * Under REPLACEMENT (rows deleted and re-added), `nNow - nSketch`
    * understates the additions and certification can pass on a top-k
    * missing a post-fit heavy item; refit the sketch after any
    * non-append modification.  The one detectable violation — a corpus
    * that SHRANK (`nNow < nSketch`) — forces the exact fallback
    * unconditionally.
    */
  def topKFrequentPrefit(items: org.apache.spark.sql.DataFrame,
                         itemCol: String, k: Int,
                         sketch: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val row = sketch.select(col("cand"), col("n"), col("sketch_k"))
      .collect()(0)
    val cand = row.getAs[scala.collection.Seq[String]](0).toArray
    val nSketch = row.getLong(1)
    val sketchK = row.getInt(2)
    val exactAll: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      d => d.groupBy(itemCol).agg(count(lit(1)).as("cnt"))
    // ONE scan yields candidate counts AND the CURRENT corpus total:
    // non-candidate rows collapse map-side into a single null-key group
    // (the exchange still carries ≤ k+1 groups per partition). The
    // current total matters for soundness on a corpus that GREW since
    // the sketch was fit: a non-candidate could hold at most
    // n_sketch/(sketchK+1) occurrences at fit time (the MG guarantee)
    // plus every occurrence added since — certify against that bound,
    // not the stale fit-time threshold, so a stale sketch on a grown
    // corpus falls back instead of silently missing a new heavy item.
    val grouped = items
      .filter(col(itemCol).isNotNull)
      .groupBy(when(col(itemCol).isin(cand.toIndexedSeq: _*), col(itemCol))
        .otherwise(lit(null)).as(itemCol))
      .agg(count(lit(1)).as("cnt"))
      .collect()
    val nNow = grouped.map(_.getLong(1)).sum
    val candCounts = grouped.filter(!_.isNullAt(0))
    val threshold = nSketch.toDouble / (sketchK + 1) +
      math.max(0L, nNow - nSketch).toDouble
    val topRows = candCounts
      .sortBy(r => (-r.getLong(1), r.getString(0))).take(k)
    val candTop = items.sparkSession.createDataFrame(
      java.util.Arrays.asList(topRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(itemCol,
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cnt",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val certified = nNow >= nSketch && topRows.length == k &&
      topRows.map(_.getLong(1)).min > threshold
    if (certified) {
      // the certified answer is already on the driver (≤ k rows) —
      // return it as literals instead of re-executing the filtered
      // aggregation when the caller runs the plan
      items.sparkSession.createDataFrame(
        java.util.Arrays.asList(topRows: _*), candTop.schema)
    } else {
      // fallback still scans `items` in full: execute now (≤ k rows)
      // and return literals — exact in every case
      val fullTop = graft.operators.Sorts.topK(exactAll(items),
        Seq("cnt", itemCol), Seq(false, true), k)
      val rows = fullTop.collect()
      items.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), fullTop.schema)
    }
  }

  // ---- fused TEXT paths (q232/q389): no explode, no string hash-agg ----

  /** [[fitSketch]] consuming the text column directly: ONE tokenizing
    * pass yields the MG candidates AND the token total
    * ([[MisraGriesTextExpr]]) — the exploded form's separate
    * count(itemCol) re-tokenized the corpus. Same persisted schema.
    */
  def fitSketchText(docs: org.apache.spark.sql.DataFrame, textCol: String,
                    sketchK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    docs.agg(MisraGriesTextExpr(sketchK)(col(textCol)).as("s"))
      .select(col("s.cand").as("cand"), col("s.n").as("n"),
        lit(sketchK).as("sketch_k"))
  }

  /** Driver-side cache for PERSISTED sketch rows (path → (dir modTime,
    * (cand, n, sketchK))): a fit-once/probe-many workload re-reads the
    * same one-row parquet every call, which costs a full Spark job per
    * probe — the dominant per-call overhead once the fit is amortized.
    * Keyed by the staging directory's modification time, so a re-fit
    * (overwrite) invalidates; bounded LRU. Correctness does not depend
    * on freshness — a stale sketch only risks the exact fallback via
    * certification.
    */
  private val sketchCache =
    new java.util.LinkedHashMap[String, (Long, (Array[String], Long, Int))](
      8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, (Array[String], Long, Int))]): Boolean =
        size() > 8
    }

  /** Read a persisted [[fitSketch]]/[[fitSketchText]] row through the
    * modTime-keyed driver cache.
    */
  def readSketchCached(spark: org.apache.spark.sql.SparkSession,
                       path: String): (Array[String], Long, Int) = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mt = fs.getFileStatus(hp).getModificationTime
    sketchCache.synchronized {
      val hit = sketchCache.get(path)
      if (hit != null && hit._1 == mt) return hit._2
    }
    val row = spark.read.parquet(path)
      .select(org.apache.spark.sql.functions.col("cand"),
        org.apache.spark.sql.functions.col("n"),
        org.apache.spark.sql.functions.col("sketch_k"))
      .collect()(0)
    val v = (row.getAs[scala.collection.Seq[String]](0).toArray,
      row.getLong(1), row.getInt(2))
    sketchCache.synchronized { sketchCache.put(path, (mt, v)) }
    v
  }

  /** [[topKFrequentPrefit]] over the text column: the certify pass is
    * ONE [[CandTokenCountsExpr]] aggregation (per-candidate exact
    * counts + current total from a single tokenizing scan; the
    * exchange carries one long[cand+1] per partition). Certification
    * semantics identical — same bound, same exact fallback.
    */
  def topKFrequentPrefitText(docs: org.apache.spark.sql.DataFrame,
                             textCol: String, k: Int,
                             sketch: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val row = sketch.select(col("cand"), col("n"), col("sketch_k"))
      .collect()(0)
    topKFrequentPrefitText(docs, textCol, k,
      (row.getAs[scala.collection.Seq[String]](0).toArray,
        row.getLong(1), row.getInt(2)))
  }

  /** [[topKFrequentPrefitText]] from an already-collected sketch row
    * (e.g. via [[readSketchCached]]) — one Spark job per call total.
    */
  def topKFrequentPrefitText(docs: org.apache.spark.sql.DataFrame,
                             textCol: String, k: Int,
                             sketchRow: (Array[String], Long, Int)):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val (cand, nSketch, sketchK) = sketchRow
    val counts = docs
      .agg(CandTokenCountsExpr(cand.toIndexedSeq)(col(textCol)).as("c"))
      .collect()(0).getAs[scala.collection.Seq[Long]](0)
    val nNow = counts.last
    val threshold = nSketch.toDouble / (sketchK + 1) +
      math.max(0L, nNow - nSketch).toDouble
    val topPairs = cand.zip(counts.dropRight(1))
      .filter(_._2 > 0L)
      .sortBy { case (w, c) => (-c, w) }.take(k)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("word",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val certified = nNow >= nSketch && topPairs.length == k &&
      topPairs.map(_._2).min > threshold
    if (certified) {
      docs.sparkSession.createDataFrame(
        java.util.Arrays.asList(topPairs.map(p =>
          org.apache.spark.sql.Row(p._1, p._2)): _*), schema)
    } else {
      // exact fallback: full aggregation over the exploded tokens
      val words = docs.select(explode(
        graft.text.TextStats.tokensNonEmpty(col(textCol))).as("word"))
      val fullTop = graft.operators.Sorts.topK(
        words.groupBy("word").agg(count(lit(1)).as("cnt")),
        Seq("cnt", "word"), Seq(false, true), k)
      val rows = fullTop.collect()
      docs.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), fullTop.schema)
    }
  }

  /** [[topKFrequent]] over the text column: two tokenizing passes total
    * (sketch + certify), where the exploded form paid two tokenizations
    * PLUS two Generate stages and a string-keyed hash-agg. Result is
    * identical: explode never splits one document's tokens across
    * partitions, so the per-partition token sequences — and the merged
    * MG candidate set — match the exploded form's exactly, and the
    * certified answer is exact top-k either way.
    */
  def topKFrequentText(docs: org.apache.spark.sql.DataFrame, textCol: String,
                       k: Int, sketchK: Int): org.apache.spark.sql.DataFrame =
    topKFrequentPrefitText(docs, textCol, k, fitSketchText(docs, textCol, sketchK))
}
