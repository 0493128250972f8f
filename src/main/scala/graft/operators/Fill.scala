package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType}

import graft.plans.{CarryKernel, CarryScan}

/** pandas `fillna(method="ffill"/"bfill")` — forward/backward
  * propagation of the last/next observed value.
  *
  * Grouped form: one partitioned window per group key (the usual
  * time-series shape, scale-safe when groups fit a partition's worth of
  * rows — same contract as every grouped window here).
  *
  * GLOBAL form: the naive `Window.orderBy(...)` funnel is replaced by
  * the two-phase [[graft.plans.CarryScan]] of [[Cumulative.globalScan]]
  * — range shuffle, each partition's last non-null value as its
  * summary, "last non-null wins" exclusive prefix as each partition's
  * carry-in, then a partition-local pass that fills from the carry.
  * O(numPartitions) driver state.
  */
object Fill {

  /** Per-group forward fill of `valueCols` in `orderCols` order. */
  def ffillGrouped(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
                   valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(df)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** Per-group backward fill. */
  def bfillGrouped(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
                   valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    valueCols.foldLeft(df)((d, c) =>
      d.withColumn(c, first(col(c), ignoreNulls = true).over(w)))
  }

  /** pandas `interpolate(method="linear")` per group: null runs between
    * two observations get the linear blend by ROW position, leading
    * nulls stay null, trailing nulls carry the last observation. One
    * partitioned window set (q179's oracle mirrors the blend
    * arithmetic operation-for-operation).
    */
  def interpolateGrouped(df: DataFrame, groupCols: Seq[String],
                         orderCols: Seq[String], valueCol: String,
                         outCol: String): DataFrame = {
    val wAll = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val wPrec = wAll.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFoll = wAll.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val v = col(valueCol)
    df.withColumn("__pos", row_number().over(wAll))
      .withColumn("__pv", last(v, ignoreNulls = true).over(wPrec))
      .withColumn("__pp", last(when(v.isNotNull, col("__pos")),
        ignoreNulls = true).over(wPrec))
      .withColumn("__nv", first(v, ignoreNulls = true).over(wFoll))
      .withColumn("__np", first(when(v.isNotNull, col("__pos")),
        ignoreNulls = true).over(wFoll))
      .withColumn(outCol,
        when(v.isNotNull, v)
          .otherwise(when(col("__pv").isNull, lit(null))
            .when(col("__nv").isNull, col("__pv"))
            .otherwise(col("__pv") + (col("__nv") - col("__pv")) *
              ((col("__pos") - col("__pp")).cast("double") /
                (col("__np") - col("__pp"))))))
      .drop("__pos", "__pv", "__pp", "__nv", "__np")
  }

  /** GLOBAL forward fill of a DOUBLE column, never a single-partition
    * window. `orderCols` must be a unique key (ties across a range
    * boundary would make "previous row" ambiguous).
    */
  def ffillGlobal(df: DataFrame, orderCols: Seq[String],
                  valueCol: String): DataFrame =
    CarryScan(df, orderCols.map(col), Seq(col(valueCol).cast("double")),
      LastNonNull, Seq(valueCol))

  /** Last non-null value so far; an empty or all-null partition passes
    * its carry-in through unchanged.
    */
  private case object LastNonNull extends CarryKernel[Option[Double]] {
    val out: Seq[(DataType, Boolean)] = Seq(DoubleType -> true)
    def zero: Option[Double] = None
    def step(l: Option[Double], r: InternalRow): Option[Double] =
      if (r.isNullAt(0)) l else Some(r.getDouble(0))
    def combine(a: Option[Double], b: Option[Double]): Option[Double] = b.orElse(a)
    def emit(carryIn: Option[Double], local: Option[Double], r: InternalRow,
             into: InternalRow): Unit =
      local.orElse(carryIn).fold(into.setNullAt(0))(into.setDouble(0, _))
  }
}
