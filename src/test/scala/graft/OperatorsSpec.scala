package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.{PandasArith, ProdAgg}
import graft.operators._

class OperatorsSpec extends SparkSpec {

  test("connected components: chain, triangle, isolated pair") {
    import spark.implicits._
    // chain 1-2-3-4, triangle 10-11-12 (+ closing edge), pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L))
      .toDF("id1", "id2")
    val got = graft.operators.Components.connected(edges, "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("percentile_approx tracks exact percentiles within accuracy bound") {
    // the scale path for quantiles: a fixed-size sketch per partition
    // merged once — exact percentile (q95) needs a full sort. accuracy
    // 10000 → rank error <= n/10000.
    val df = Tables.lineitem(spark, sf)
    val got = df.agg(
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("p50a"),
      expr("percentile(l_extendedprice, 0.5)").as("p50e")).head()
    val (approx, exact) = (got.getDouble(0), got.getDouble(1))
    // with accuracy 10000 and ~6k rows the sketch is effectively exact
    assert(math.abs(approx - exact) / exact < 0.01, s"$approx vs $exact")
  }

  test("connected components converges on a long chain") {
    import spark.implicits._
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = graft.operators.Components.connected(chain, "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === 61)
    assert(got.forall(_._2 === 0L)) // one component rooted at 0
  }
  import spark.implicits._

  test("pymod matches Python sign-of-divisor semantics") {
    val df = Seq((-7L, 3L), (7L, 3L), (-7L, -3L), (7L, -3L)).toDF("a", "b")
    val got = df.select(PandasArith.pymod(col("a"), col("b")).as("m"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(2L, 1L, -1L, -2L)) // Python: -7%3=2, 7%3=1, -7%-3=-1, 7%-3=-2
  }

  test("floordiv and truediv") {
    val df = Seq((7L, 2L), (-7L, 2L)).toDF("a", "b")
    val r = df.select(
      PandasArith.floordiv(col("a"), col("b")).as("fd"),
      PandasArith.truediv(col("a"), col("b")).as("td")).collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(3L, -4L)) // floor(-3.5) = -4
    assert(r.map(_.getDouble(1)).toSeq === Seq(3.5, -3.5))
  }

  test("isna treats NaN and null as missing; comparisons never null") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 2.0), (Double.NaN, 2.0), (null, 2.0)).toDF("a", "b")
    val r = df.select(
      PandasArith.isna(col("a")).as("na"),
      PandasArith.ltNullFalse(col("a"), col("b")).as("lt")).collect()
    assert(r.map(_.getBoolean(0)).toSeq === Seq(false, true, true))
    assert(r.map(_.getBoolean(1)).toSeq === Seq(true, false, false))
  }

  test("ProdAgg handles zeros, negatives, nulls, empty") {
    val df = Seq[(String, java.lang.Double)](
      ("z", 2.0), ("z", 0.0), ("n", -2.0), ("n", 3.0), ("u", null))
      .toDF("k", "v")
    val got = df.groupBy("k").agg(ProdAgg.prod(col("v")).as("p"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("z") === 0.0)
    assert(got("n") === -6.0)
    assert(got("u") === 1.0) // all-null group → identity, pandas skipna
  }

  test("globalScan cumsum equals single-partition window result") {
    val df = Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber", "l_quantity")
    val scanned = Cumulative.globalScan(df,
      Seq("l_orderkey", "l_linenumber", "l_quantity"), "l_quantity", "cum", Cumulative.SumOp)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val expected = df.withColumn("cum", sum(col("l_quantity")).over(w))
    val key = Seq("l_orderkey", "l_linenumber", "l_quantity").map(col)
    val a = scanned.orderBy(key: _*).select(round(col("cum"), 6)).collect().map(_.getDouble(0))
    val b = expected.orderBy(key: _*).select(round(col("cum"), 6)).collect().map(_.getDouble(0))
    assert(a.length === b.length)
    assert(a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-6 })
  }

  test("globalScan skips nulls like pandas skipna") {
    val df = Seq[(Long, java.lang.Double)]((1L, 1.0), (2L, null), (3L, 2.0))
      .toDF("k", "v")
    val out = Cumulative.globalScan(df, Seq("k"), "v", "cum", Cumulative.SumOp)
      .orderBy("k").select("cum").collect()
    assert(out(0).getDouble(0) === 1.0)
    assert(out(1).isNullAt(0))
    assert(out(2).getDouble(0) === 3.0)
  }

  test("merge suffixes overlap handling") {
    val l = Seq((1L, "x")).toDF("k", "name")
    val r = Seq((1L, "y")).toDF("k", "name")
    val m = Joins.merge(l, r, Seq("k"), "inner")
    assert(m.columns.toSet === Set("k", "name_x", "name_y"))
  }

  test("outer mergeOn coalesces keys") {
    val l = Seq((1L, "a"), (2L, "b")).toDF("lk", "lv")
    val r = Seq((2L, "B"), (3L, "C")).toDF("rk", "rv")
    val m = Joins.mergeOn(l, r, Seq("lk"), Seq("rk"), "outer")
    val keys = m.select("lk").collect().map(_.getLong(0)).toSet
    assert(keys === Set(1L, 2L, 3L))
  }

  test("dropDuplicatesKeep first/last and keepNone") {
    val df = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 30L, "c")).toDF("k", "ord", "v")
    val first = SetOps.dropDuplicatesKeep(df, Seq("k"), Seq("ord"), keepFirst = true)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(first === Map(1L -> "a", 2L -> "c"))
    val last = SetOps.dropDuplicatesKeep(df, Seq("k"), Seq("ord"), keepFirst = false)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(last === Map(1L -> "b", 2L -> "c"))
    val none = SetOps.dropDuplicatesKeepNone(df, Seq("k")).collect()
    assert(none.map(_.getLong(0)).toSeq === Seq(2L))
  }
}
