package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType}

import graft.plans.{CarryKernel, CarryScan}

/** GLOBAL trailing-window aggregates (pandas `df.rolling(w)` with no
  * group key) — distributed, never a single-partition window.
  *
  * The naive `Window.orderBy(...)` with no partition key funnels the
  * whole table through one task. Instead the window is a
  * [[graft.plans.CarryScan]] (the two-phase scan of
  * [[Cumulative.globalScan]]) whose carry is the last `w-1` rows of
  * ALL preceding partitions: a partition starts its window from that
  * carry, so every trailing window is exact on any partition layout —
  * small or empty range partitions included. Carry volume is
  * `numPartitions × (w-1)` rows, independent of the data size.
  *
  * `orderCols` must be a unique key (ties across a range-partition
  * boundary would make "previous w-1 rows" ambiguous — same contract as
  * [[Cumulative.globalRowNumber]]).
  *
  * Output: input columns + `<out>_sum` (exact DECIMAL sum of the values
  * cast to DECIMAL(27,6), typed as Spark's decimal `sum` types it — the
  * only order-sensitive aggregate, so the only one that needs the
  * decimal detour), `<out>_min`, `<out>_max` (raw value dtype), each
  * NULL until the window holds `w` non-null observations (pandas
  * min_periods=w).
  */
object RollingGlobal {

  def trailing(df: DataFrame, orderCols: Seq[String], valueCol: String,
               w: Int, out: String): DataFrame = {
    require(w >= 2, "window of 1 is the identity; use the column")
    val v = col(valueCol)
    CarryScan(df, orderCols.map(col), Seq(v, v.cast("decimal(27,6)")),
      Tail(w, df.select(v).schema.head.dataType),
      Seq(s"${out}_sum", s"${out}_min", s"${out}_max"))
  }

  /** Summary = the last `w` (value, decimal value) input rows of a
    * partition, carry = the last `w-1` before it. min/max keep the
    * earliest of equal values, as Spark's `least`/`greatest`.
    */
  private case class Tail(w: Int, valueType: DataType)
      extends CarryKernel[Vector[InternalRow]] {
    val out: Seq[(DataType, Boolean)] =
      Seq(DecimalType(37, 6) -> true, valueType -> true, valueType -> true)
    @transient private lazy val ord = PhysicalDataType.ordering(valueType)
    def zero: Vector[InternalRow] = Vector.empty
    def step(t: Vector[InternalRow], r: InternalRow): Vector[InternalRow] =
      (t :+ r.copy()).takeRight(w)
    def combine(a: Vector[InternalRow], b: Vector[InternalRow]): Vector[InternalRow] =
      (a ++ b).takeRight(w - 1)
    def emit(carryIn: Vector[InternalRow], local: Vector[InternalRow],
             r: InternalRow, into: InternalRow): Unit = {
      val win = (carryIn ++ local).takeRight(w)
      if (win.size < w || win.exists(_.isNullAt(0))) (0 until 3).foreach(into.setNullAt)
      else {
        val vs = win.map(_.get(0, valueType))
        val decs = win.flatMap(x => Option(x.getDecimal(1, 27, 6)))
        into.update(0, if (decs.isEmpty) null
          else Decimal(decs.map(_.toJavaBigDecimal).reduce(_ add _)))
        into.update(1, vs.reduce((a, b) => if (ord.lt(b, a)) b else a))
        into.update(2, vs.reduce((a, b) => if (ord.gt(b, a)) b else a))
      }
    }
  }
}
