package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Float rounding that hash-matches DuckDB.
  *
  * Spark's `round(x, n)` rounds the SHORTEST-DECIMAL representation of the
  * double (`BigDecimal.valueOf`), while DuckDB rounds the true binary
  * value via `std::round(x * 10^n) / 10^n`. For values like
  * 68210.43/32 = 2131.5759374999998 (repr "2131.5759375") the two
  * disagree in the last digit. Computing the same scale/round/unscale
  * formula on both engines makes the result bit-identical: after the
  * multiply both see the same double, scale-0 rounding agrees everywhere
  * (away-from-zero at exact .5, nearest otherwise), and the final
  * division is identical IEEE arithmetic.
  *
  * Requires |x|·10^digits < 2^53 — callers round small magnitudes to 6
  * digits and large (money-sum) magnitudes to 2.
  */
object Num {
  /** SIGNED ZERO: Spark's `round` goes through BigDecimal, which has no
    * `-0.0`, so `rnd` always yields `+0.0` for a negative-tiny input —
    * while DuckDB's `std::round` preserves the sign (`-0.0`), and the
    * driver's hash compares BYTES. Oracles whose rounded output can be
    * negative-tiny (cov/corr/skew/slope/log-ratio families) must append
    * `+ 0` after the final `/ 1eN` (IEEE `-0.0 + 0 = +0.0`) so both
    * engines emit `+0.0`. Bit us at q344 (one `-0.0` cell in 2080).
    */
  def rnd(c: Column, digits: Int): Column = {
    val p = math.pow(10, digits)
    round(c * lit(p)) / lit(p)
  }

  /** Money columns in the corpus are exactly 2-decimal doubles; casting
    * to DECIMAL(12,2) is unambiguous (the true value is representable,
    * the double is within 1e-13 of it).
    */
  def dec2(c: Column): Column = c.cast("decimal(12,2)")

  /** Integer cents of an exactly-2-decimal money double. `c * 100` lands
    * within ~1e-11 of the true integer (never near .5), so `rint` is
    * exact and agrees with the DECIMAL(12,2) cast's HALF_UP.
    */
  def cents(c: Column): Column = rint(c * lit(100)).cast("long")

  /** ORDER-INDEPENDENT money sum: integer addition is associative, so
    * Spark's partial-aggregate tree and DuckDB's sequential fold produce
    * the IDENTICAL exact value at any scale — unlike double sums, whose
    * last-ulp drift flips `rnd` at round boundaries once group sums grow
    * (bit us at sf0.1: a 6.8e7 revenue group rounded .85 vs .84).
    *
    * Implementation: exact int128 sum of long cents ([[Int128Sum]]) —
    * same result as the earlier `sum(DECIMAL(12,2))` formulation
    * (pinned by Int128SumSpec) but ~4× faster: the decimal sum's
    * precision-22 accumulator falls off Spark's compact-long Decimal
    * fast path onto BigDecimal, the int128 sum stays in codegen'd
    * long arithmetic (measured r12 at sf0.1: 0.58 s → 0.16 s for q01's
    * kernel).
    */
  def sumMoney(c: Column): Column =
    round(Int128Sum(cents(c), 2), 2).cast("double")

  /** Exact-sum-based mean of a money/2-dec column (skips nulls like
    * pandas): exact int128 sum → identical double → identical divide.
    */
  def avgMoney(c: Column, digits: Int = 6): Column =
    rnd(Int128Sum(cents(c), 2).cast("double") / count(c), digits)

  /** Revenue-style product sum: price × (1 − discount) exactly, as
    * cents × (100 − discount-cents) scale-4 integer units, int128-summed.
    */
  def sumRevenue(price: Column, discount: Column): Column =
    round(Int128Sum(cents(price) * (lit(100L) - cents(discount)), 4), 2).cast("double")

  /** price × discount variant (TPC-H Q6). */
  def sumPriceTimes(price: Column, factor: Column): Column =
    round(Int128Sum(cents(price) * cents(factor), 4), 2).cast("double")

  /** DuckDB's `quantile_disc(c, p)` for each p in `ps`, as one aggregate
    * returning an array of doubles: element i is the smallest value v of
    * column `c` with count(c ≤ v) ≥ ceil(ps(i)·n), over the non-null
    * values, exact for |v| < 2^53. All `ps` share one buffer of `c`'s
    * values; a `percentile_disc` per p would build one each.
    */
  def quantileDisc(c: String, ps: Double*): Column =
    expr(s"percentile_disc(array(${ps.mkString(", ")})) WITHIN GROUP (ORDER BY $c)")
}
