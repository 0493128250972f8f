package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-match) join — a time-series operator the reference
  * lacks entirely (SURVEY §2.3: equi-joins only) and Spark lacks as a
  * builtin. Composed from existing operators per the preference order
  * (SURVEY §4.3(a)): union + partitioned window, no custom physical node
  * needed.
  *
  * Semantics: for every left row, attach the right row with the largest
  * `rightTime <= leftTime` within the same `key` (DuckDB/pandas
  * `merge_asof` backward direction, inclusive).
  *
  * Algorithm (scalable): tag and union both inputs, hash-shuffle once on
  * `key`, sort within partition by (time, tag) with right rows first at
  * equal timestamps, then `last(col, ignoreNulls)` over the running
  * window carries the most recent right values onto each left row. One
  * shuffle total — the same cost as a regular equi-join on `key`; no
  * range-explosion. Skewed keys: AQE-salted like any other window-by-key.
  */
object AsOfJoin {

  /** Ordering key for the asof sort. cast("long") on a timestamp truncates
    * to whole seconds and destroys sub-second ordering (a right row up to
    * 999ms after the left event would collapse to an equal key and wrongly
    * match); unix_micros preserves Spark's full timestamp precision, like
    * pandas merge_asof's ns ordering.
    */
  private def ordKey(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(c).cast("timestamp"))
      case _ => col(c).cast("long")
    }

  /** The union every direction carries over, with identical schemas:
    * key, the ordering time `__t`, `__tag` (`lTag` on left rows, `rTag`
    * on right rows, which orders equal times), the left columns (null
    * on right rows), the payload (null on left rows) and `__rt`, the
    * right row's time, for the tolerance check (null on left rows).
    */
  private def tagged(left: DataFrame, right: DataFrame, key: String,
                     leftTime: String, rightTime: String, payload: Seq[String],
                     lTag: Int, rTag: Int): DataFrame = {
    val leftOnly = left.columns.filterNot(_ == key).toSeq
    val l = left.select(
      (Seq(col(key), ordKey(left, leftTime).as("__t"), lit(lTag).as("__tag")) ++
        leftOnly.map(col) ++ payload.map(p => lit(null).as(p)) :+
        lit(null).cast("long").as("__rt")): _*)
    val r = right.select(
      (Seq(col(key), ordKey(right, rightTime).as("__t"), lit(rTag).as("__tag")) ++
        leftOnly.map(c => lit(null).as(c)) ++ payload.map(col) :+
        ordKey(right, rightTime).as("__rt")): _*)
    l.unionByName(r)
  }

  /** @param left        left (probe) table
    * @param right       right (reference) table
    * @param key         equi-key column present in both
    * @param leftTime    event-time column on the left (long/timestamp)
    * @param rightTime   event-time column on the right
    * @param payload     right columns to carry (must not collide with left)
    * @param tolerance   max allowed `leftTime - rightTime` distance (in
    *                    the ordering-key unit: µs for timestamps, raw
    *                    units for longs) — pandas merge_asof(tolerance=);
    *                    a match farther back yields null payloads
    */
  def backward(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               payload: Seq[String],
               tolerance: Option[Long] = None,
               allowExactMatches: Boolean = true): DataFrame = {
    // strict (<): right rows sort AFTER left at equal timestamps, so the
    // running carry can't hand an equal-time right value to the left row
    val rTag = if (allowExactMatches) 0 else 2
    // __tag=0 sorts right rows first at equal timestamps → inclusive
    // (<=) asof semantics
    val both = tagged(left, right, key, leftTime, rightTime, payload, 1, rTag)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = (payload :+ "__rt").foldLeft(both)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    val bounded = tolerance.fold(carried) { tol =>
      payload.foldLeft(carried)((d, c) =>
        d.withColumn(c,
          when(col("__t") - col("__rt") > tol, lit(null)).otherwise(col(c))))
    }
    bounded.filter(col("__tag") === 1).drop("__t", "__tag", "__rt")
  }

  /** Forward direction: smallest `rightTime >= leftTime` within the key
    * (pandas merge_asof direction="forward"). Same single-shuffle shape,
    * window reversed: right rows sort first at equal timestamps via the
    * tag so the match is inclusive.
    */
  def forward(left: DataFrame, right: DataFrame, key: String,
              leftTime: String, rightTime: String,
              payload: Seq[String],
              tolerance: Option[Long] = None,
              allowExactMatches: Boolean = true): DataFrame = {
    // strict (>): in the descending traversal right rows must come after
    // left rows at equal timestamps (tag desc: left 0 first needs right < 0)
    val rTag = if (allowExactMatches) 1 else -1
    val both = tagged(left, right, key, leftTime, rightTime, payload, 0, rTag)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__t").desc, col("__tag").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = (payload :+ "__rt").foldLeft(both)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    val bounded = tolerance.fold(carried) { tol =>
      payload.foldLeft(carried)((d, c) =>
        d.withColumn(c,
          when(col("__rt") - col("__t") > tol, lit(null)).otherwise(col(c))))
    }
    bounded.filter(col("__tag") === 0).drop("__t", "__tag", "__rt")
  }

  /** Nearest direction (pandas merge_asof direction="nearest"): the
    * right row with the smallest |rightTime − leftTime| within the key;
    * ties (one candidate before, one equally far after) resolve
    * backward. Still ONE hash shuffle on `key`: both carries run as two
    * windows (ascending and descending) over the same partitioning, so
    * the planner inserts one Exchange and two partition-local sorts.
    */
  def nearest(left: DataFrame, right: DataFrame, key: String,
              leftTime: String, rightTime: String,
              payload: Seq[String],
              tolerance: Option[Long] = None,
              allowExactMatches: Boolean = true): DataFrame = {
    val rTag = if (allowExactMatches) 0 else 2
    // right rows tag 0, left rows tag 1: ascending (__t, __tag) puts an
    // equal-time right row before the left row (inclusive backward);
    // descending __t with ASCENDING __tag does the same for forward.
    val both = tagged(left, right, key, leftTime, rightTime, payload, 1, rTag)
    val wb = Window.partitionBy(col(key))
      .orderBy(col("__t").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col(key))
      .orderBy(col("__t").desc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payload.foldLeft(
      both
        .withColumn("__bt", last(col("__rt"), ignoreNulls = true).over(wb))
        .withColumn("__ft", last(col("__rt"), ignoreNulls = true).over(wf))
    ) { (d, c) =>
      d.withColumn(s"__b_$c", last(col(c), ignoreNulls = true).over(wb))
        .withColumn(s"__f_$c", last(col(c), ignoreNulls = true).over(wf))
    }
    val tol = tolerance.map(lit(_))
    val bOk = col("__bt").isNotNull &&
      tol.fold(lit(true))(t => col("__t") - col("__bt") <= t)
    val fOk = col("__ft").isNotNull &&
      tol.fold(lit(true))(t => col("__ft") - col("__t") <= t)
    val useB = bOk && (!fOk || (col("__t") - col("__bt")) <= (col("__ft") - col("__t")))
    val chosen = payload.foldLeft(carried)((d, c) =>
      d.withColumn(c,
        when(useB, col(s"__b_$c")).when(fOk, col(s"__f_$c")).otherwise(lit(null))))
    chosen.filter(col("__tag") === 1)
      .drop((Seq("__t", "__tag", "__rt", "__bt", "__ft") ++
        payload.flatMap(c => Seq(s"__b_$c", s"__f_$c"))): _*)
  }
}
