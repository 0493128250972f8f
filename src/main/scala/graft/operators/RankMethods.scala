package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** pandas `Series.rank(method=)` over the WHOLE frame — average / min /
  * max / dense — without the classic scale bug.
  *
  * The naive Spark spelling, `rank().over(Window.orderBy(v))`, funnels
  * every row through one partition (Spark even warns).  This
  * implementation never materializes a global order over the rows at
  * all: ranks are a function of the VALUE, so it
  *
  *   1. aggregates to distinct values with counts — one hash shuffle,
  *      output size = |distinct values|;
  *   2. runs the existing two-phase distributed scan
  *      ([[Cumulative.globalScan]] / [[Cumulative.globalRowNumber]])
  *      over that (much smaller) frame to get each value's cumulative
  *      count and dense index;
  *   3. joins the per-value rank row back to the input on the value —
  *      an ordinary hash join keyed by value, partial-agg friendly,
  *      no skew beyond what the data itself has.
  *
  * min  = (# rows with smaller value) + 1   = cum − cnt + 1
  * max  = cum
  * average = (min + max) / 2
  * dense   = index of the value among sorted distinct values
  *
  * Nulls get null ranks (pandas `na_option='keep'`) and do not count
  * toward other rows' ranks, mirroring SQL windows over a
  * `WHERE v IS NOT NULL` universe.
  */
object RankMethods {

  /** Appends `<out>_min/_max/_avg/_dense` (long/long/double/long). */
  def rank(df: DataFrame, valueCol: String, out: String,
           ascending: Boolean = true): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(valueCol).agg(count(lit(1)).cast("double").as("__cnt"))
    // fused two-phase pass: ONE range exchange + ONE window operator
    // yields both the cumulative count and the dense index (r12c; the
    // chained globalScan → globalRowNumber spelling paid the exchange,
    // cache, driver job, and window twice)
    val dense = Cumulative.globalScanRowNumber(
      counts, Seq(valueCol), "__cnt", "__cum", "__dense")
    // total row count — only the descending variant needs it
    lazy val n = counts.agg(sum("__cnt")).scalar()
    // counts are integers carried in doubles (exact to 2^53); descending
    // ranks are the mirrored arithmetic on the same scan.
    val rmax0 = col("__cum")
    val rmin0 = col("__cum") - col("__cnt") + lit(1.0)
    val (rmin, rmax) =
      if (ascending) (rmin0, rmax0)
      else (n - rmax0 + lit(1.0), n - rmin0 + lit(1.0))
    val denseExpr =
      if (ascending) col("__dense")
      else counts.agg(count(lit(1))).scalar() - col("__dense") + lit(1L) // from top
    val ranks = dense.select(
      col(valueCol).as("__rank_v"), // renamed: the join is a self-derived
      rmin.cast("long").as(s"${out}_min"), // lineage, an ambiguous name
      rmax.cast("long").as(s"${out}_max"), // would resolve trivially-true
      ((rmin + rmax) / lit(2.0)).as(s"${out}_avg"),
      denseExpr.as(s"${out}_dense"))
    df.join(ranks, col(valueCol) === col("__rank_v"), "left")
      .drop("__rank_v")
  }
}
