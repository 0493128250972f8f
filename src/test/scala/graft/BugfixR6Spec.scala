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
  *  3. RollingGlobal's lookback must cross empty and short range
  *     partitions (it once hopped ghost rows pid+1 blindly, and refused
  *     partitions smaller than the window).
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

  // rolling checks: w = 5 over 48 rows with some NULL values, exact
  // against a sequential fold; `layout` checks the partitions the scan
  // ran on (it keeps its child's partitioning)
  private val rollW = 5
  private val rollRows = (0 until 48).map(i => (((i * 11) % 48).toLong,
    if (i % 9 == 4) None else Some(((i * 7) % 13) / 4.0)))

  private def checkRolling(df: org.apache.spark.sql.DataFrame)(
      layout: Array[Int] => Boolean): Unit = {
    val w = rollW
    val rolled = RollingGlobal.trailing(df, Seq("id"), "value", w, "r")
    val sizes = rolled.rdd.glom().map(_.length).collect()
    assert(layout(sizes), sizes.mkString(","))
    val got = rolled.select(col("id"), col("r_sum").cast("double"),
        col("r_min"), col("r_max")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some((r.getDouble(1), r.getDouble(2), r.getDouble(3))))).toMap
    val kept = df.select("id").collect().map(_.getLong(0)).toSet
    val ordered = rollRows.filter(r => kept(r._1)).sortBy(_._1)
    ordered.indices.foreach { i =>
      val win = ordered.slice(i - w + 1, i + 1).map(_._2)
      val want = if (i < w - 1 || win.exists(_.isEmpty)) None
        else Some((win.flatten.sum, win.flatten.min, win.flatten.max))
      assert(got(ordered(i)._1) == want, s"row $i")
    }
  }

  /** 64 shuffle partitions and AQE off (no coalescing, and a checkpoint
    * reports the range partitioning of its plan) for `body`.
    */
  private def withManyRangePartitions(body: => Unit): Unit = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "64")
    spark.conf.set(keys(1), "false")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("rolling window ghosts route past an empty range partition") {
    // the carry (the "ghost" rows of earlier partitions) must reach past
    // empty range partitions: two ids per partition, a third of the
    // partitions filtered out (the checkpoint keeps the range
    // partitioning and keeps the filter above it)
    withManyRangePartitions {
      checkRolling(rollRows.toDF("id", "value")
          .repartitionByRange(24, col("id")).localCheckpoint()
          .filter(col("id") % 6 >= 2))(
        s => s.count(_ == 0) == 8 && s.max < rollW - 1)
    }
  }

  test("rolling window is exact with w above the rows per range partition") {
    // the scan's own range exchange: at most one row per partition
    withManyRangePartitions {
      checkRolling(rollRows.toDF("id", "value"))(_.max < rollW - 1)
    }
  }
}
