package graft

import org.apache.spark.sql.functions._
import graft.api.GFrame

class GFrameSpec extends SparkSpec {
  import spark.implicits._

  private lazy val li = GFrame(Tables.lineitem(spark, sf))
  private lazy val orders = GFrame(Tables.orders(spark, sf))

  test("projection, mask filter and query compose") {
    val out = li("l_orderkey", "l_quantity")
      .apply(col("l_quantity") > 30)
      .query("l_quantity <= @hi", Map("hi" -> 40))
    assert(out.df.columns.toSeq === Seq("l_orderkey", "l_quantity"))
    val qs = out.df.select(min("l_quantity"), max("l_quantity")).head()
    assert(qs.getDouble(0) > 30 && qs.getDouble(1) <= 40)
  }

  test("groupby agg names columns pandas-style") {
    val g = li.groupby("l_returnflag").agg(
      "l_quantity" -> Seq("sum", "mean"), "l_extendedprice" -> Seq("max"))
    assert(g.df.columns.toSet ===
      Set("l_returnflag", "l_quantity_sum", "l_quantity_mean", "l_extendedprice_max"))
  }

  test("merge + sort + head pipeline matches direct Spark result") {
    val got = li.groupby("l_orderkey").sum("l_extendedprice")
      .mergeOn(orders, Seq("l_orderkey"), Seq("o_orderkey"), "inner")
      .sortValues(Seq("l_extendedprice_sum", "l_orderkey"), Seq(false, true))
      .head(5).df.select("l_orderkey").collect().map(_.getLong(0)).toSeq
    val want = Tables.lineitem(spark, sf).groupBy("l_orderkey")
      .agg(sum("l_extendedprice").as("s"))
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .orderBy(col("s").desc, col("l_orderkey"))
      .limit(5).select("l_orderkey").collect().map(_.getLong(0)).toSeq
    assert(got === want)
  }

  test("setIndex/loc/locRange") {
    val byKey = orders.setIndex("o_orderkey")
    assert(byKey.loc(100L).df.count() <= 1)
    val r = byKey.locRange(100L, 200L).df
      .select(min("o_orderkey"), max("o_orderkey")).head()
    assert(r.getLong(0) >= 100L && r.getLong(1) <= 200L)
  }

  test("fillna/dropna/isna on join-produced nulls") {
    val j = orders.mergeOn(
      GFrame(Tables.customer(spark, sf).filter(col("c_acctbal") > 5000)
        .select("c_custkey", "c_name")),
      Seq("o_custkey"), Seq("c_custkey"), "left")
    val nNull = j.df.filter(col("c_name").isNull).count()
    assert(nNull > 0)
    assert(j.fillna("x", Seq("c_name")).df.filter(col("c_name").isNull).count() === 0)
    assert(j.dropna(subset = Seq("c_name")).df.count() === j.df.count() - nNull)
  }

  test("concat is union semantics") {
    val a = li.query("l_returnflag == 'A'")
    val r = li.query("l_returnflag == 'R'")
    assert(GFrame.concat(Seq(a, r)).df.count() === a.df.count() + r.df.count())
  }

  test("astype casts") {
    val out = li("l_quantity").astype("l_quantity" -> "int32")
    assert(out.df.schema("l_quantity").dataType ===
      org.apache.spark.sql.types.IntegerType)
  }

  test("addFrame aligns on index: union rows, fill_value, both-missing stays null") {
    val a = GFrame(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), Seq("k"))
    val b = GFrame(Seq((2L, 5.0), (3L, 7.0)).toDF("k", "v"), Seq("k"))
    // no fill: non-overlap -> null
    val plain = a.addFrame(b).df.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(plain === Map(1L -> null, 2L -> 25.0, 3L -> null))
    // fill 0: non-overlap takes the present side
    val filled = a.addFrame(b, Some(0.0)).df.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(filled === Map(1L -> 10.0, 2L -> 25.0, 3L -> 7.0))
    // column present on one side only, with fill
    val c = GFrame(Seq((1L, 1.0)).toDF("k", "w"), Seq("k"))
    val mixed = a.addFrame(c, Some(0.0)).df
    assert(mixed.columns.toSet === Set("k", "v", "w"))
    val row1 = mixed.filter(col("k") === 1).head()
    assert(row1.getDouble(row1.fieldIndex("v")) === 10.0) // v: only left
    assert(row1.getDouble(row1.fieldIndex("w")) === 1.0)  // w: only right
    // null + null with fill stays null (pandas: NaN)
    val n1 = GFrame(Seq((1L, Option.empty[java.lang.Double])).toDF("k", "v"), Seq("k"))
    val n2 = GFrame(Seq((1L, Option.empty[java.lang.Double])).toDF("k", "v"), Seq("k"))
    assert(n1.addFrame(n2, Some(0.0)).df.head().isNullAt(1))
  }

  test("sample is deterministic and near the requested fraction") {
    val s1 = orders.sample(0.25, on = "o_orderkey", seed = 7).df.count()
    val s2 = orders.sample(0.25, on = "o_orderkey", seed = 7).df.count()
    assert(s1 === s2)
    val frac = s1.toDouble / orders.df.count()
    assert(frac > 0.18 && frac < 0.32, s"frac=$frac")
    val other = orders.sample(0.25, on = "o_orderkey", seed = 8).df.count()
    assert(other !== s1) // different seed -> different subset (w.h.p.)
  }

  test("MultiIndex: droplevel, swaplevel, groupbyLevel") {
    val g = GFrame(Tables.customer(spark, sf))
      .setIndex("c_nationkey", "c_mktsegment")
    assert(g.swaplevel().index === Seq("c_mktsegment", "c_nationkey"))
    val dropped = g.droplevel(1)
    assert(dropped.index === Seq("c_nationkey"))
    assert(!dropped.df.columns.contains("c_mktsegment"))
    val byLevel = g.groupbyLevel(1).count("c_custkey")
    assert(byLevel.df.columns.contains("c_mktsegment"))
    assert(byLevel.df.count() === 5) // 5 market segments
  }

  test("iat returns the positional cell in index order") {
    val g = GFrame(Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
    assert(g.iat(0, "v") === Some("a"))
    assert(g.iat(2, "v") === Some("c"))
    assert(g.iat(5, "v") === None) // out of bounds (pandas: IndexError)
  }

  test("setAxis/addSuffix/squeeze/copy metadata ops") {
    val g = GFrame(Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    assert(g.setAxis(Seq("key", "value")).df.columns.toSeq === Seq("key", "value"))
    assert(g.setAxis(Seq("key", "value")).index === Seq("key"))
    assert(g.addSuffix("_s").df.columns.toSeq === Seq("k_s", "v_s"))
    assert(g.addSuffix("_s").index === Seq("k_s"))
    assert(g.copy().df.columns.toSeq === g.df.columns.toSeq)
    assert(g.squeeze().df.columns.toSeq === Seq("k", "v")) // 1 data col: index + values
    val multi = GFrame(Seq((1L, "a", "b")).toDF("k", "v", "w"), Seq("k"))
    assert(multi.squeeze().df.columns.toSeq === Seq("k", "v", "w")) // unchanged
  }

  test("distributed qcut equals the single-partition ntile window") {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    val viaWindow = orders.df
      .select(col("o_orderkey"), ntile(7).over(w).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaQcut = orders.qcut("o_totalprice", 7, "b", Seq("o_orderkey"))
      .df.select("o_orderkey", "b")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaQcut === viaWindow)
  }

  test("operators behave on empty frames (no crash, empty results)") {
    val empty = li.apply(col("l_quantity") < -1) // impossible predicate
    assert(empty.df.count() === 0)
    assert(empty.groupby("l_returnflag").sum("l_quantity").df.count() === 0)
    assert(empty.sortValues(Seq("l_quantity")).head(5).df.count() === 0)
    assert(empty.dropDuplicates(Seq("l_orderkey")).df.count() === 0)
    assert(empty.merge(orders.rename("o_orderkey" -> "l_orderkey"),
      Seq("l_orderkey")).df.count() === 0)
    assert(empty.describe("l_quantity").df
      .filter(col("summary") === "count").head().getDouble(1) === 0.0)
    // global reduction on empty: sum -> null (pandas: 0/NaN depending on
    // min_count; Spark null — document divergence), count -> 0
    val red = empty.df.agg(sum("l_quantity"), count(lit(1))).head()
    assert(red.isNullAt(0) && red.getLong(1) === 0L)
    // empty near-dup edge list -> empty components
    import spark.implicits._
    val noEdges = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(graft.operators.Components.connected(noEdges, "id1", "id2")
      .count() === 0)
  }

  test("clip passes null and NaN through instead of resurrecting a bound") {
    val g = GFrame(Seq(Some(1.0), Some(50.0), None, Some(Double.NaN))
      .toDF("v"))
    val got = g.clip(5.0, 40.0, Seq("v")).df.collect().map(r =>
      if (r.isNullAt(0)) "null" else r.getDouble(0).toString)
    assert(got.toSet === Set("5.0", "40.0", "null", "NaN"))
  }

  test("explodeCol keeps empty-array rows as null (pandas explode)") {
    val g = GFrame(Seq((1L, Seq("a", "b")), (2L, Seq.empty[String]))
      .toDF("k", "xs"))
    val got = g.explodeCol("xs").df.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
    assert(got.toSet === Set(1L -> "a", 1L -> "b", 2L -> null))
  }

  test("getDummies discovers categories when not given") {
    val g = GFrame(Seq("x", "y", "x").toDF("c"))
    val got = g.getDummies("c")
    assert(got.df.columns.toSet === Set("c_x", "c_y"))
    assert(got.df.agg(sum("c_x"), sum("c_y")).head().toSeq === Seq(2L, 1L))
  }

  test("grouped pct_change is (v - prev)/prev within the group") {
    val g = GFrame(Seq((1L, 1L, 10.0), (1L, 2L, 15.0), (2L, 1L, 4.0))
      .toDF("u", "t", "v"))
    val got = g.groupby("u").pctChange("v", Seq("t")).df
      .filter(col("u") === 1 && col("t") === 2).head()
    assert(math.abs(got.getAs[Double]("v_pct") - 0.5) < 1e-12)
    assert(g.groupby("u").pctChange("v", Seq("t")).df
      .filter(col("t") === 1).collect().forall(_.isNullAt(3)))
  }

  test("dropDuplicatesKeep with index determinism") {
    val d = orders.setIndex("o_orderkey")
      .dropDuplicatesKeep(Seq("o_custkey"), keepFirst = true)
    val n = d.df.groupBy("o_custkey").count().filter(col("count") > 1).count()
    assert(n === 0)
  }

  test("toParquet persists the index contract through the footer and back") {
    import graft.api.GFrame
    val path = graft.tools.Staging.dir("gframe_idx_roundtrip", sf)
    val g = GFrame(orders.df.select("o_orderkey", "o_custkey", "o_totalprice"),
      Seq("o_custkey", "o_orderkey")) // MultiIndex, order matters
    g.toParquet(path)
    val back = GFrame.readParquet(spark, path)
    assert(back.index == Seq("o_custkey", "o_orderkey"))
    assert(back.df.columns.sorted.toSeq == g.df.columns.sorted.toSeq)
    assert(back.df.count() == g.df.count())
    // no index -> none recovered
    GFrame(orders.df.select("o_orderkey", "o_totalprice")).toParquet(path)
    assert(GFrame.readParquet(spark, path).index.isEmpty)
  }

  test("toParquet strips stale index tags after read + setIndex/resetIndex") {
    import graft.api.GFrame
    val path = graft.tools.Staging.dir("gframe_idx_stale", sf)
    val g = GFrame(orders.df.select("o_orderkey", "o_custkey", "o_totalprice"),
      Seq("o_orderkey"))
    g.toParquet(path)
    // read back: columns now CARRY graft.index_pos in field metadata
    val back = GFrame.readParquet(spark, path)
    // re-index on a different column, write again: the o_orderkey tag
    // must be stripped, not merged into a duplicate/merged index
    val path2 = path + "_2"
    back.setIndex("o_custkey").toParquet(path2)
    assert(GFrame.readParquet(spark, path2).index == Seq("o_custkey"))
    // resetIndex must persist as "no index" even though the input
    // columns still carry stale tags (the old isEmpty fast path kept them)
    back.resetIndex().toParquet(path2)
    assert(GFrame.readParquet(spark, path2).index.isEmpty)
  }

  test("iat reads one row via offset, in index order") {
    val g = orders.setIndex("o_orderkey")
    val want = g.df.orderBy(col("o_orderkey")).select("o_custkey")
      .limit(3).collect().last.get(0)
    assert(g.iat(2, "o_custkey") == Some(want))
    assert(g.iat(2000000, "o_custkey").isEmpty)
  }

  test("MultiIndex tuple-loc: full tuple, prefix, range tie-break, scatter") {
    val li = Tables.lineitem(spark, sf)
    val g = GFrame(li).setIndex("l_orderkey", "l_linenumber")
    // full-tuple lookup = both levels pinned
    val full = g.loc((3L, 2)).df.select("l_orderkey", "l_linenumber").collect()
    assert(full.forall(r => r.getLong(0) == 3L && r.getInt(1) == 2))
    val wantFull = li.filter(col("l_orderkey") === 3 && col("l_linenumber") === 2).count()
    assert(full.length.toLong == wantFull)
    // partial (prefix) lookup = level-0 only, all line numbers surface
    val prefix = g.loc(3L).df.select("l_linenumber").collect().map(_.getInt(0)).sorted
    val wantPrefix = li.filter(col("l_orderkey") === 3)
      .select("l_linenumber").collect().map(_.getInt(0)).sorted
    assert(prefix.toSeq == wantPrefix.toSeq && prefix.length >= 1)
    // partial key DROPS the matched level; result indexed by the rest
    // (pandas / reference df_loc_multiindex.py:43-45 contract, r11)
    assert(!g.loc(3L).df.columns.contains("l_orderkey"))
    assert(g.loc(3L).index == Seq("l_linenumber"))
    // full-arity key keeps the frame form with its levels
    assert(g.loc((3L, 2)).index == Seq("l_orderkey", "l_linenumber"))
    // over-long tuple rejected
    intercept[IllegalArgumentException] { g.loc((1L, 1, 1)) }
    // lexicographic range: level-0 ties broken by level-1 at both ends
    val r = g.locRange2((3L, 3), (7L, 1)).df
      .select("l_orderkey", "l_linenumber").collect()
      .map(x => (x.getLong(0), x.getInt(1)))
    assert(r.forall { case (o, l) =>
      (o > 3L || (o == 3L && l >= 3)) && (o < 7L || (o == 7L && l <= 1)) })
    val wantR = li.filter(col("l_orderkey").between(3, 7)).collect().map(x =>
        (x.getAs[Long]("l_orderkey"), x.getAs[Int]("l_linenumber")))
      .count { case (o, l) =>
        (o > 3L || l >= 3) && (o < 7L || l <= 1) }
    assert(r.length == wantR)
    // partial-tuple scatter: only (3, *) rows with linenumber 1 change
    val sc = g.locSet((3L, 1), "l_quantity", -1.0).df
      .filter(col("l_quantity") === -1.0)
      .select("l_orderkey", "l_linenumber").collect()
    assert(sc.forall(x => x.getLong(0) == 3L && x.getInt(1) == 1))
  }

  test("bm25TopK is lazy: construction runs zero Spark jobs") {
    val docs = Tables.documents(spark, sf)
    docs.count() // settle any scan-side listing jobs first
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val g = GFrame(docs).bm25TopK("doc_id", "text", Seq("spark", "data"), 5)
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before,
      s"bm25TopK construction ran ${after - before} job(s); must be lazy")
    // and the lazy plan still computes the eager path's result
    val lazyRes = g.df.collect().map(_.toSeq).toSet
    val eager = graft.text.Bm25
      .topK(docs, "doc_id", "text", Seq("spark", "data"), 5)
      .collect().map(_.toSeq).toSet
    assert(lazyRes == eager)
  }
}
