package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.RollingGlobal

/** Property test: the carry-in global rolling window agrees with a
  * single-threaded sliding-window fold over randomly generated inputs —
  * sizes, window widths, value distributions (incl. nulls and repeated
  * order-key-adjacent values) all drawn from generators with fixed
  * seeds (deterministic).
  */
class RollingGlobalPropSpec extends SparkSpec {
  import spark.implicits._

  private val caseGen: Gen[(Int, Int, Seq[Option[Double]])] = for {
    n <- Gen.choose(40, 300)
    w <- Gen.choose(2, 8)
    vals <- Gen.listOfN(n, Gen.frequency(
      9 -> Gen.choose(-1000, 1000).map(c => Some(c / 100.0)),
      1 -> Gen.const(Option.empty[Double])))
  } yield (n, w, vals)

  test("rolling sum/min/max match a sequential fold on random inputs") {
    var seed = Seed(20260812L)
    (1 to 8).foreach { caseNo =>
      val (params, nextSeed) = caseGen.apply(Gen.Parameters.default, seed)
        .map(p => (p, seed.next)).getOrElse(fail("gen"))
      seed = nextSeed
      val (n, w, vals) = params
      val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = rows.toDF("id", "value")
      val got = RollingGlobal.trailing(df, Seq("id"), "value", w, "r")
        .select(col("id"), col("r_sum").cast("double"), col("r_min"), col("r_max"))
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
          else Some((r.getDouble(1), r.getDouble(2), r.getDouble(3))))).toMap
      rows.zipWithIndex.foreach { case ((id, _), i) =>
        val win = rows.slice(math.max(0, i - w + 1), i + 1).map(_._2)
        val defined = win.flatten
        // pandas min_periods = w: need w non-null obs in a full window
        val want =
          if (i < w - 1 || defined.size < w) None
          else Some((defined.sum, defined.min, defined.max))
        (got(id), want) match {
          case (None, None) =>
          case (Some((s, mn, mx)), Some((ws, wmn, wmx))) =>
            assert(math.abs(s - ws) < 1e-6, s"case $caseNo sum at row $i (w=$w)")
            assert(mn == wmn && mx == wmx, s"case $caseNo min/max at row $i")
          case other => fail(s"case $caseNo null mismatch at row $i (w=$w): $other")
        }
      }
    }
  }
}
