package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

import graft.plans.{CarryKernel, CarryScan}

/** Cumulative scans: cumsum / cummin / cummax / cumprod
  * (reference `legate/pandas/frontend/frame.py:396-430`).
  *
  * The reference computes a global scan in two phases: a per-piece local
  * scan plus a per-piece carry buffer, then a second pass adds the
  * carry-in (`core/column.py:644-687`; SCAN task
  * `src/reduction/tasks/scan.cc:262`). A naive Spark translation —
  * `Window.orderBy(...)` with no partitionBy — funnels ALL rows through a
  * single partition and cannot scale.
  *
  * [[globalScan]], [[globalScanRowNumber]] and [[globalRowNumberBy]]
  * are that algorithm as one [[graft.plans.CarryScan]] operator: range
  * exchange + sort on the order key (Spark's sampled RangePartitioner —
  * same sample/histogram trick as the reference's sort,
  * `core/sort.py:93-174`), per-partition totals, their exclusive prefix
  * on the driver (O(numPartitions) values), and a second partition-local
  * pass consuming the carry-in. Cost: one range shuffle + two narrow
  * passes over it; no single-partition bottleneck at any scale.
  *
  * For grouped cumulatives (many small groups) use [[groupedScan]] —
  * an ordinary partitioned window, which Spark executes with one hash
  * shuffle on the group keys.
  */
object Cumulative {

  sealed trait ScanOp {
    def zero: Double
    def apply(a: Double, b: Double): Double
  }
  case object SumOp extends ScanOp { val zero = 0.0; def apply(a: Double, b: Double): Double = a + b }
  case object ProdOp extends ScanOp { val zero = 1.0; def apply(a: Double, b: Double): Double = a * b }
  case object MinOp extends ScanOp { val zero = Double.PositiveInfinity; def apply(a: Double, b: Double): Double = math.min(a, b) }
  case object MaxOp extends ScanOp { val zero = Double.NegativeInfinity; def apply(a: Double, b: Double): Double = math.max(a, b) }

  /** The scan kernels: the running `op` of input 0 (when `op` is set;
    * null where the input is null) and/or the running row count. A row
    * emits `op(carryIn, localRunning)` — the association of the
    * reference's carry-in pass — never a fold started from the carry.
    */
  private case class Running(op: Option[ScanOp], count: Boolean)
      extends CarryKernel[(Double, Long)] {
    private val z = op.fold(0.0)(_.zero)
    val out: Seq[(DataType, Boolean)] =
      op.map(_ => DoubleType -> true).toSeq ++ (if (count) Seq(LongType -> false) else Nil)
    def zero: (Double, Long) = (z, 0L)
    def step(s: (Double, Long), r: InternalRow): (Double, Long) =
      (if (op.isEmpty || r.isNullAt(0)) s._1 else op.get(s._1, r.getDouble(0)), s._2 + 1)
    def combine(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (op.fold(z)(_(a._1, b._1)), a._2 + b._2)
    def emit(carryIn: (Double, Long), local: (Double, Long), r: InternalRow,
             into: InternalRow): Unit = {
      op.foreach { f =>
        if (r.isNullAt(0)) into.setNullAt(0) else into.setDouble(0, f(carryIn._1, local._1))
      }
      if (count) into.setLong(into.numFields - 1, carryIn._2 + local._2)
    }
  }

  /** The value as a double, null where it is null or NaN (pandas skipna). */
  private def skipna(valueCol: String): Column = {
    val v = col(valueCol).cast("double")
    when(v.isNotNull && !isnan(v), v)
  }

  /** Distributed global cumulative scan of `valueCol` in `orderCols`
    * order, appended as `outCol` (double). skipna: null/NaN values carry
    * the running value forward and produce null output, like pandas.
    */
  def globalScan(df: DataFrame, orderCols: Seq[String], valueCol: String,
                 outCol: String, op: ScanOp): DataFrame =
    CarryScan(df, orderCols.map(col), Seq(skipna(valueCol)),
      Running(Some(op), count = false), Seq(outCol))

  /** Fused [[globalScan]](Sum) + [[globalRowNumber]] over the SAME
    * ordering: one range exchange and one operator emitting BOTH the
    * running sum and the global row number (callers that chained the two
    * helpers — RankMethods, GFrame.expanding — paid the scan twice).
    */
  def globalScanRowNumber(df: DataFrame, orderCols: Seq[String],
                          valueCol: String, cumOut: String,
                          rnOut: String): DataFrame =
    CarryScan(df, orderCols.map(col), Seq(skipna(valueCol)),
      Running(Some(SumOp), count = true), Seq(cumOut, rnOut))

  /** Distributed GLOBAL row number in `orderCols` order — the same
    * two-phase scan as [[globalScan]] over per-partition row counts.
    * The naive `row_number().over(Window.orderBy(...))` funnels
    * everything through one partition; this never does.
    */
  def globalRowNumber(df: DataFrame, orderCols: Seq[String],
                      outCol: String): DataFrame =
    globalRowNumberBy(df, orderCols.map(col), outCol)

  /** [[globalRowNumber]] with full sort expressions (direction + null
    * placement), e.g. `col("bal").desc_nulls_last`.
    */
  def globalRowNumberBy(df: DataFrame, sortExprs: Seq[Column],
                        outCol: String): DataFrame =
    CarryScan(df, sortExprs, Nil, Running(None, count = true), Seq(outCol))

  /** Per-group cumulative via a partitioned window — one hash shuffle on
    * the group keys; safe at scale when groups are small relative to a
    * partition.
    */
  def groupedScan(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
                  valueCol: String, outCol: String, fn: String): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = col(valueCol)
    val expr = fn match {
      case "cumsum" => sum(c).over(w)
      case "cummin" => min(c).over(w)
      case "cummax" => max(c).over(w)
      case "cumprod" =>
        // exact sequential multiply via the ProdAgg window aggregate —
        // exp(sum(log)) decompositions drift at the last ulp and mangle
        // zeros/negatives.
        graft.functions.ProdAgg.prod(c).over(w)
      case other => throw new IllegalArgumentException(other)
    }
    df.withColumn(outCol, expr)
  }
}
