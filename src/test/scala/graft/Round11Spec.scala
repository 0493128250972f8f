package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GFrame
import graft.functions.MisraGries
import graft.operators.{RankMethods, Reshape, WeightedSample}
import graft.text.Dsir

/** Round-11 operators: reshape, rank methods, weighted sampling,
  * heavy hitters, DSIR scoring, expanding windows.
  */
class Round11Spec extends SparkSpec {
  import spark.implicits._

  // ---- melt ----

  test("melt produces one (variable, value) pair per value column, keeping nulls") {
    val df = Seq((1, Some(2.0), Some(3.0)), (2, None, Some(5.0)))
      .toDF("id", "a", "b")
    val m = Reshape.melt(df, Seq("id"), Seq("a", "b"))
    val rows = m.collect().map(r =>
      (r.getInt(0), r.getString(1), if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(rows.toSet == Set((1, "a", 2.0), (1, "b", 3.0), (2, "a", null), (2, "b", 5.0)))
  }

  test("melt widens mixed numeric value columns to double") {
    val df = Seq((1, 2, 3.5)).toDF("id", "i", "d")
    val m = Reshape.melt(df, Seq("id"), Seq("i", "d"))
    assert(m.schema("value").dataType == org.apache.spark.sql.types.DoubleType)
    assert(m.collect().map(_.getDouble(2)).toSet == Set(2.0, 3.5))
  }

  // ---- pivot_table ----

  test("pivotTable discovery path equals the explicit-dictionary path") {
    val li = Tables.lineitem(spark, sf)
    val a = GFrame(li).pivotTable(Seq("l_returnflag"), "l_linestatus", "l_quantity").df
    val b = GFrame(li).pivotTable(Seq("l_returnflag"), "l_linestatus", "l_quantity",
      pivotValues = Some(Seq("F", "O"))).df
    assert(a.schema == b.schema)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  // ---- rank methods ----

  test("RankMethods matches naive window ranks, with ties and nulls") {
    val df = Seq(
      (1L, Some(10.0)), (2L, Some(20.0)), (3L, Some(10.0)), (4L, Some(30.0)),
      (5L, Some(20.0)), (6L, None), (7L, Some(10.0))).toDF("id", "v")
    val got = RankMethods.rank(df, "v", "r")
      .select("id", "r_min", "r_max", "r_avg", "r_dense")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null
         else (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    val w = Window.orderBy("v")
    val exp = df.filter($"v".isNotNull)
      .withColumn("mn", rank().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("v")))
      .withColumn("dn", dense_rank().over(w))
      .collect().map(r => r.getLong(0) -> (
        r.getInt(2).toLong, r.getInt(2).toLong + r.getLong(3) - 1,
        (2.0 * r.getInt(2) + r.getLong(3) - 1) / 2.0, r.getInt(4).toLong)).toMap
    exp.foreach { case (id, e) => assert(got(id) == e, s"id $id") }
    assert(got(6L) == null) // na_option='keep'
  }

  test("RankMethods descending mirrors ascending") {
    val df = Seq((1L, 10.0), (2L, 20.0), (3L, 10.0), (4L, 30.0)).toDF("id", "v")
    val asc = RankMethods.rank(df, "v", "r").select("id", "r_min", "r_max", "r_dense")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val desc = RankMethods.rank(df, "v", "r", ascending = false)
      .select("id", "r_min", "r_max", "r_dense")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val n = 4L; val nd = 3L
    asc.foreach { case (id, (mn, mx, dn)) =>
      assert(desc(id) == (n - mx + 1, n - mn + 1, nd - dn + 1), s"id $id")
    }
  }

  // ---- weighted sampling ----

  test("WeightedSample is deterministic and equals the brute-force A-ES selection") {
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars")
    val k = 20
    val got = WeightedSample.take(docs, "doc_id", "n_chars", k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val again = WeightedSample.take(docs, "doc_id", "n_chars", k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == again && got.size == k)
    // brute force: same key formula on the driver
    val space = math.pow(16.0, 15)
    val exp = docs.collect().map { r =>
      val id = r.getLong(0); val w = r.getLong(1)
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"es$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val u = (java.lang.Long.parseLong(hex.take(15), 16).toDouble + 0.5) / space
      (math.log(u) / w, id)
    }.sortBy { case (key, id) => (-key, id) }.take(k).map(_._2).toSet
    assert(got == exp)
  }

  test("WeightedSample biases toward heavy weights") {
    val df = (1L to 1000L).map(i => (i, if (i <= 50) 1000.0 else 1.0)).toDF("id", "w")
    val got = WeightedSample.take(df, "id", "w", 50)
      .collect().map(_.getLong(0))
    assert(got.count(_ <= 50) > 30) // heavy ids dominate the sample
  }

  test("EsReservoir merge is batching-invariant and equals the batch selection") {
    import graft.operators.{EsRow, EsReservoir, WeightedSample}
    val docs = Tables.documents(spark, sf)
      .filter($"n_chars" > 0).select("doc_id", "source", "n_chars")
    val rows = docs.withColumn("k",
        WeightedSample.esKey($"doc_id", $"n_chars", "es"))
      .collect().map(r => EsRow(r.getDouble(3), r.getLong(0), r.getString(1), r.getLong(2)))
    val res = new EsReservoir(25)
    val whole = rows.foldLeft(res.zero)(res.reduce)
    // three different batchings must merge to the same reservoir
    Seq(7, 50, 173).foreach { b =>
      val merged = rows.grouped(b).map(_.foldLeft(res.zero)(res.reduce))
        .reduce(res.merge)
      assert(merged == whole, s"batch size $b")
    }
    val batch = WeightedSample.take(docs, "doc_id", "n_chars", 25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(whole.map(_.docId).toSet == batch)
  }

  test("takePerGroup equals per-group brute force") {
    import graft.operators.WeightedSample
    val docs = Tables.documents(spark, sf)
      .filter($"n_chars" > 0).select("doc_id", "source", "n_chars")
    val got = WeightedSample.takePerGroup(docs, Seq("source"), "doc_id", "n_chars", 5)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val keyed = docs.withColumn("k",
        WeightedSample.esKey($"doc_id", $"n_chars", "es"))
      .collect().map(r => (r.getString(1), r.getLong(0), r.getDouble(3)))
    val exp = keyed.groupBy(_._1).view.mapValues(
      _.sortBy { case (_, id, k) => (-k, id) }.take(5).map(_._2).toSet).toMap
    assert(got == exp)
  }

  // ---- heavy hitters ----

  test("MisraGries candidates contain every item above N/(k+1)") {
    val rnd = new scala.util.Random(7)
    // Zipf-ish: item i with weight ~ 1/i
    val items = (1 to 5000).map { _ =>
      val i = math.min(99, math.floor(math.pow(rnd.nextDouble(), 3) * 100).toInt)
      s"w$i"
    }
    val k = 20
    val cand = items.foldLeft(Map.empty[String, Long])(new MisraGries(k).reduce)
    val counts = items.groupBy(identity).view.mapValues(_.size).toMap
    val heavy = counts.filter(_._2 > items.size / (k + 1.0)).keySet
    assert(heavy.subsetOf(cand.keySet), s"missing ${heavy -- cand.keySet}")
  }

  test("MisraGries merge preserves the heavy-hitter guarantee") {
    val rnd = new scala.util.Random(11)
    val items = (1 to 4000).map(_ => s"w${math.floor(math.pow(rnd.nextDouble(), 2) * 50).toInt}")
    val k = 10
    val mgr = new MisraGries(k)
    val merged = items.grouped(500)
      .map(_.foldLeft(mgr.zero)(mgr.reduce))
      .reduce(mgr.merge)
    val counts = items.groupBy(identity).view.mapValues(_.size).toMap
    val heavy = counts.filter(_._2 > items.size / (k + 1.0)).keySet
    assert(heavy.subsetOf(merged.keySet), s"missing ${heavy -- merged.keySet}")
  }

  test("topKFrequent is exact on skewed data (certified) and flat data (fallback)") {
    import MisraGriesExprSpec.{exactTopK, fitAndCertify}
    // skewed: certification binds
    val skew = ((1 to 500).map(_ => "a") ++ (1 to 300).map(_ => "b") ++
      (1 to 50).flatMap(i => Seq(s"r$i"))).toDF("word")
    val gotS = fitAndCertify(skew, array($"word"), 2, 16)
    assert(gotS == Seq("a" -> 500L, "b" -> 300L))
    assert(gotS == exactTopK(skew, 2))
    // flat: 40 items × 10 each with a tiny sketch — fallback must fire
    val flat = (1 to 40).flatMap(i => (1 to 10).map(_ => f"w$i%02d")).toDF("word")
    val gotF = fitAndCertify(flat, array($"word"), 5, 4)
    assert(gotF == (1 to 5).map(i => f"w$i%02d" -> 10L)) // ties → item asc
    assert(gotF == exactTopK(flat, 5))
  }

  // ---- DSIR ----

  test("Dsir.score equals a driver-side fold of the same ratio table") {
    val docs = Tables.documents(spark, sf)
    val table = Dsir.ratioTable(
      docs.filter($"source" === "src0"), docs.filter($"source" =!= "src0"), "text")
    val got = docs.filter($"source" =!= "src0")
      .select($"doc_id", Dsir.score($"text", table).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def bucket(w: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(4)
      Integer.parseInt(hex, 16) % 64
    }
    val exp = docs.filter($"source" =!= "src0").select("doc_id", "text").collect()
      .map { r =>
        val toks = r.getString(1).split(" ", -1).filter(_.nonEmpty)
        r.getLong(0) -> toks.foldLeft(0.0)((acc, w) => acc + table(bucket(w)))
      }.toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (id, s) => assert(s == exp(id), s"doc $id") } // bit-exact
  }

  test("Dsir.score of an empty document is 0") {
    val df = Seq((1L, ""), (2L, "   ")).toDF("id", "t")
    val table = (0 until Dsir.Buckets).map(_ -> 1.0).toMap
    val got = df.select(Dsir.score($"t", table)).collect().map(_.getDouble(0))
    assert(got.forall(_ == 0.0))
  }

  // ---- expanding ----

  test("expanding sum/mean equals the single-partition window on cents") {
    val df = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val got = GFrame(df, Seq("o_orderkey")).expanding("o_totalprice").df
      .select("o_orderkey", "o_totalprice_exp_sum", "o_totalprice_exp_mean")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val w = Window.orderBy("o_orderkey").rowsBetween(Window.unboundedPreceding, 0)
    val exp = df.withColumn("c", round($"o_totalprice" * 100))
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", count(lit(1)).over(w))
      .collect().map { r =>
        val cum = r.getDouble(3)
        r.getLong(0) -> (cum / 100.0, cum / 100.0 / r.getLong(4))
      }.toMap
    assert(got == exp)
  }

  // ---- grouped nunique / mode ----

  test("groupby nunique and mode agree with driver-side computation") {
    val li = Tables.lineitem(spark, sf).select("l_returnflag", "l_linestatus").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val byFlag = li.groupBy(_._1)
    val gotN = GFrame(Tables.lineitem(spark, sf)).groupby("l_returnflag")
      .nunique("l_linestatus").df.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byFlag.foreach { case (f, rs) =>
      assert(gotN(f) == rs.map(_._2).distinct.length, s"flag $f")
    }
    val gotM = GFrame(Tables.lineitem(spark, sf)).groupby("l_returnflag")
      .mode("l_linestatus").df.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    byFlag.foreach { case (f, rs) =>
      val best = rs.groupBy(_._2).view.mapValues(_.size).toSeq
        .sortBy { case (v, c) => (-c, v) }.head._1
      assert(gotM(f) == best, s"flag $f")
    }
  }
}
