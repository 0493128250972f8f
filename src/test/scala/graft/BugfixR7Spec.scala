package graft

import org.apache.spark.sql.functions._

import graft.operators.{Cumulative, RangeJoin, RollingGlobal}

/** Regression tests for the round-7 advisory fixes:
  *  1. RangeJoin left_outer found unmatched points via a name-based
  *     (null-UNSAFE) left_anti equi-join over all point columns — a
  *     matched point carrying a NULL payload column failed to
  *     equi-match its own copy in the matched set and was emitted
  *     twice: once matched, once as a fabricated NULL-interval row.
  */
class BugfixR7Spec extends SparkSpec {
  import spark.implicits._

  test("range join left_outer: matched point with NULL payload is not duplicated") {
    // point t=5 (payload NULL) matches [1,10]; under null-unsafe anti
    // join it equi-matched nothing and was ALSO emitted as unmatched
    val pts = Seq((5L, Option.empty[String]), (100L, Some("x")))
      .toDF("t", "payload")
    val iv = Seq((1L, 10L)).toDF("lo", "hi")
    val got = RangeJoin.binned(pts, iv, Seq(), "t", "lo", "hi",
      width = 5L, how = "left_outer")
    assert(got.count() == 2)
    val matched = got.filter(col("lo").isNotNull).collect()
    assert(matched.length == 1 && matched.head.getLong(0) == 5L
      && matched.head.isNullAt(1)) // payload stays NULL, one row only
    val unmatched = got.filter(col("lo").isNull).collect()
    assert(unmatched.length == 1 && unmatched.head.getLong(0) == 100L)
  }

  test("range join left_outer with NULL payloads equals naive left join (multiset)") {
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(60)((rnd.nextLong() % 300,
        if (rnd.nextBoolean()) Option.empty[String] else Some("p" + rnd.nextInt(3))))
      .toDF("t", "payload")
    val iv = Seq.fill(20) { val lo = rnd.nextLong() % 300; (lo, lo + rnd.nextInt(40)) }
      .toDF("lo", "hi")
    def multiset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getString(1)),
        if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3)))))
      .groupBy(identity).view.mapValues(_.length).toMap
    val naive = pts.join(iv,
      col("t") >= col("lo") && col("t") <= col("hi"), "left_outer")
    val got = RangeJoin.binned(pts, iv, Seq(), "t", "lo", "hi",
      width = 23L, how = "left_outer")
    assert(multiset(got) == multiset(naive))
  }

  test("10k-row global scan, row number and rolling window stay exact") {
    val df = spark.range(0, 10000).toDF("k")
      .withColumn("v", (col("k") % 97).cast("double"))
    // small integers: every association of the sum is exact, so the
    // two-phase scan must equal the sequential fold bit for bit
    val scan = Cumulative.globalScan(df, Seq("k"), "v", "cs", Cumulative.SumOp)
    val got = scan.orderBy("k").select("cs").collect().map(_.getDouble(0))
    val want = (0L until 10000L).scanLeft(0.0)((a, k) => a + (k % 97)).tail
    assert(got.toSeq == want)
    val rn = Cumulative.globalRowNumber(df, Seq("k"), "rn")
    assert(rn.orderBy("k").select("rn").collect().map(_.getLong(0)).toSeq
      == (1L to 10000L))
    val rolled = RollingGlobal.trailing(df, Seq("k"), "v", 3, "r")
    assert(rolled.filter(col("r_sum").isNull).count() == 2)
    assert(rolled.count() == 10000)
  }
}
