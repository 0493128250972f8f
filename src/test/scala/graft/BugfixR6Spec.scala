package graft

import org.apache.spark.sql.functions._

import graft.operators.{RangeJoin, RollingGlobal}

/** Regression tests for the round-6 advisory fixes:
  *  1. RangeJoin left_outer fabricated a NULL row for a point that
  *     matched one interval but shared a bin with another out-of-range
  *     one (and its distinct() collapsed legitimately duplicate
  *     unmatched rows).
  *  2. RangeJoin floorDiv routed through double division — off-by-one
  *     bins above 2^53 (nanosecond-scale coordinates).
  *  3. RollingGlobal ghosts hopped pid+1 blindly — an empty range
  *     partition silently NULLed the lookback of the partition after it.
  */
class BugfixR6Spec extends SparkSpec {
  import spark.implicits._

  test("range join left_outer: bin-sharing out-of-range interval adds no NULL row") {
    // point t=5 matches [1,10]; [7,8] shares bin 1 at width 5 but is out
    // of range — the old null-out+distinct approach emitted BOTH the
    // matched row and a spurious (5, NULL) row
    val pts = Seq(Tuple1(5L)).toDF("t")
    val iv = Seq((1L, 10L), (7L, 8L)).toDF("lo", "hi")
    val got = RangeJoin.binned(pts, iv, Seq(), "t", "lo", "hi",
      width = 5L, how = "left_outer").collect()
    assert(got.length == 1)
    assert(got.head.getLong(1) == 1L && got.head.getLong(2) == 10L)
  }

  test("range join left_outer: duplicate unmatched point rows are preserved") {
    val pts = Seq(100L, 100L, 5L).toDF("t") // two identical unmatched points
    val iv = Seq((1L, 10L)).toDF("lo", "hi")
    val got = RangeJoin.binned(pts, iv, Seq(), "t", "lo", "hi",
      width = 5L, how = "left_outer")
    val unmatched = got.filter(col("lo").isNull).collect()
    assert(unmatched.length == 2 && unmatched.forall(_.getLong(0) == 100L))
    assert(got.count() == 3)
  }

  test("range join left_outer equals naive left join (multiset) on random input") {
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(80)(rnd.nextLong() % 500).map(Tuple1(_)).toDF("t")
    val iv = Seq.fill(25) { val lo = rnd.nextLong() % 500; (lo, lo + rnd.nextInt(60)) }
      .toDF("lo", "hi")
    def multiset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2)))))
      .groupBy(identity).view.mapValues(_.length).toMap
    val naive = pts.join(iv,
      col("t") >= col("lo") && col("t") <= col("hi"), "left_outer")
    val got = RangeJoin.binned(pts, iv, Seq(), "t", "lo", "hi",
      width = 37L, how = "left_outer")
    assert(multiset(got) == multiset(naive))
  }

  test("range join bins exactly above 2^53 (nanosecond-scale coordinates)") {
    // double division of the exact multiple misbins by ~25 units here;
    // integer-space floorDiv must keep the in-range match and reject
    // the adjacent out-of-range interval
    val t = 1700000000000000001L
    val pts = Seq(Tuple1(t)).toDF("t")
    val iv = Seq((t - 2L, t + 2L), (t + 3L, t + 4L)).toDF("lo", "hi")
    val got = RangeJoin.binned(pts, iv, Seq(), "t", "lo", "hi", width = 5L)
      .collect()
    assert(got.length == 1 && got.head.getLong(1) == t - 2L)
    val outer = RangeJoin.binned(pts, iv, Seq(), "t", "lo", "hi",
      width = 7L, how = "left_outer").collect()
    assert(outer.length == 1 && !outer.head.isNullAt(1))
  }

  test("rolling window ghosts route past an empty range partition") {
    // simulate an empty interior partition (pid 1 absent) via the
    // package-private tagged entry point: pids 0,2,3 hold the sorted
    // rows; the dense remap must deliver pid-0 ghosts to pid 2
    val rows = (0 until 12).map(i => (i.toLong, (i + 1).toDouble,
      if (i < 4) 0 else if (i < 8) 2 else 3))
    val df = rows.toDF("id", "value", "__pid")
    val counts = Map(0 -> 4L, 2 -> 4L, 3 -> 4L)
    val got = RollingGlobal.trailingTagged(df, counts, Seq("id"), "value", 3, "r")
      .select(col("id"), col("r_sum").cast("double")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    (0 until 12).foreach { i =>
      val want = if (i < 2) None
        else Some((i - 1 to i + 1).map(_.toDouble).sum) // v=i+1, window i-2..i
      assert(got(i.toLong) == want, s"row $i")
    }
  }
}
