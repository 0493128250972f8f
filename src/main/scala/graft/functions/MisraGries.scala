package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

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
  *   2. exact counts for the ≤ k candidates only, one fixed-size count
  *      array per partition ([[CandTokenCountsExpr]]).
  *
  * At 100 TB with a Zipf-ish vocabulary this replaces a full
  * shuffle-every-word aggregation with a bounded sketch plus a
  * candidate-only aggregation.  The sketch alone gives approximate
  * counts; the verify pass makes the reported top-k EXACT (same
  * sketch-then-verify shape as the bloom pre-filter,
  * [[graft.plans.BloomFilterNode]]).
  *
  * This boxed class is the reference twin the native
  * [[MisraGriesExpr]] is tested against; queries run the native one.
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
  /** The boxed udaf twin (differential tests only). */
  def mgUdaf(k: Int): Column => Column = { c => udaf(new MisraGries(k)).apply(c) }

  /** Fit the MG sketch as a PERSISTABLE one-row table
    * `(cand array<string>, n bigint, sketch_k int)` in one pass over
    * `items` (a text column or an `array(item)` column, as
    * [[MisraGriesExpr]] reads them) — the fit-once/probe-many contract:
    * a repeated heavy-hitters workload writes this row once and every
    * later call pays only the certify pass of [[topKFrequent]].
    */
  def fitSketch(data: DataFrame, items: Column, sketchK: Int): DataFrame =
    data.agg(MisraGriesExpr(sketchK)(items).as("s"))
      .select(col("s.cand").as("cand"), col("s.n").as("n"),
        lit(sketchK).as("sketch_k"))

  /** The `(cand, n, sketchK)` of a one-row [[fitSketch]] table. */
  def sketchRow(sketch: DataFrame): (Array[String], Long, Int) = {
    val row = sketch.select(col("cand"), col("n"), col("sketch_k")).collect()(0)
    (row.getAs[scala.collection.Seq[String]](0).toArray, row.getLong(1), row.getInt(2))
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

  /** Read a persisted [[fitSketch]] row through the modTime-keyed
    * driver cache.
    */
  def readSketchCached(spark: SparkSession, path: String): (Array[String], Long, Int) = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mt = fs.getFileStatus(hp).getModificationTime
    sketchCache.synchronized {
      val hit = sketchCache.get(path)
      if (hit != null && hit._1 == mt) return hit._2
    }
    val v = sketchRow(spark.read.parquet(path))
    sketchCache.synchronized { sketchCache.put(path, (mt, v)) }
    v
  }

  /** EXACT top-k most frequent items `(word, cnt)` (count desc, item
    * asc) from a sketch row `(cand, nSketch, sketchK)` ([[fitSketch]],
    * typically read back with [[readSketchCached]]). One
    * [[CandTokenCountsExpr]] pass over `items` yields the exact
    * candidate counts and the current item total `nNow`; the answer is
    * CERTIFIED when
    *   - `nNow ≥ nSketch`,
    *   - k candidates occur, and
    *   - the kth count exceeds `nSketch/(sketchK+1) + (nNow − nSketch)`,
    * the ceiling on any non-candidate's count: at most
    * `nSketch/(sketchK+1)` at fit time (the MG guarantee) plus every item
    * added since. Otherwise the full exact aggregation runs. Either way
    * the ≤ k rows come back as literals.
    *
    * PRECONDITION: the data may only have GROWN by appends since the
    * fit (the contract of the persisted LSH/embed indexes). Under
    * REPLACEMENT (rows deleted and re-added) `nNow − nSketch`
    * understates the additions and certification can pass on a top-k
    * missing a post-fit heavy item; refit after any non-append change.
    * The one detectable violation, data that SHRANK (`nNow < nSketch`),
    * always falls back.
    */
  def topKFrequent(data: DataFrame, items: Column, k: Int,
                   sketch: (Array[String], Long, Int)): DataFrame = {
    val (cand, nSketch, sketchK) = sketch
    val counts = data.agg(CandTokenCountsExpr(cand.toIndexedSeq)(items))
      .collect()(0).getAs[scala.collection.Seq[Long]](0)
    val nNow = counts.last
    val top = cand.zip(counts.dropRight(1)).filter(_._2 > 0L)
      .sortBy { case (w, c) => (-c, w) }.take(k)
    val certified = nNow >= nSketch && top.length == k &&
      top.map(_._2).min > nSketch.toDouble / (sketchK + 1) +
        math.max(0L, nNow - nSketch).toDouble
    val rows =
      if (certified) top.toSeq.map { case (w, c) => Row(w, c) }
      else {
        val in = data.select(items.as("items"))
        val words = in.select(explode(in.schema("items").dataType match {
          case _: StringType => graft.text.TextStats.tokensNonEmpty(col("items"))
          case _ => col("items")
        }).as("word")).filter(col("word").isNotNull)
        graft.operators.Sorts.topK(words.groupBy("word").agg(count(lit(1)).as("cnt")),
          Seq("cnt", "word"), Seq(false, true), k).collect().toSeq
      }
    data.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("word", StringType),
        StructField("cnt", LongType, nullable = false))))
  }
}
