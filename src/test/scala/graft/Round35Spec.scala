package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.text.SlidingChunkSet

/** Round-12 wave 3: length filter, sliding chunking, mixing recipe,
  * containment near-dup (q405-q409).
  */
class Round35Spec extends SparkSpec {

  test("SlidingChunkSet: window/stride contract against a scala replay") {
    val rows = Tables.documents(spark, sf).limit(20)
      .select(col("doc_id"), col("text"),
        ColumnBridge.column(
          SlidingChunkSet(ColumnBridge.expression(col("text")), 10, 4)).as("cs"))
      .collect()
    rows.foreach { r =>
      val toks = r.getString(1).split(" ").filter(_.nonEmpty)
      val expected =
        if (toks.isEmpty) Seq.empty
        else {
          val nc = if (toks.length <= 10) 1 else (toks.length - 10 + 3) / 4 + 1
          (0 until nc).map(i => toks.slice(i * 4, i * 4 + 10).mkString(" "))
        }
      val got = r.getSeq[org.apache.spark.sql.Row](2).map(_.getString(1))
      assert(got == expected, s"doc ${r.getLong(0)}")
    }
  }

  test("SlidingChunkSet edge cases: empty, blank, shorter than window") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "   "), (3L, "a b"), (4L, "a  b c")).toDF("id", "text")
    val out = df.select(col("id"), ColumnBridge.column(
      SlidingChunkSet(ColumnBridge.expression(col("text")), 5, 2)).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(out(1L).isEmpty && out(2L).isEmpty)
    assert(out(3L).map(_.getString(1)) == Seq("a b"))
    assert(out(4L).map(_.getString(1)) == Seq("a b c")) // double space collapsed
  }

  test("tokensNonEmpty ≡ filter(split) composed twin (incl. edge cases)") {
    import spark.implicits._
    val edge = Seq((100000L, ""), (100001L, " "), (100002L, "  a  b "),
      (100003L, "héllo wörld"), (100004L, "a")).toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(edge)
    val a = docs.select(col("doc_id"),
      graft.text.TextStats.tokensNonEmpty(col("text")).as("t"))
    val b = docs.select(col("doc_id"),
      filter(split(col("text"), " "), w => w =!= "").as("t"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // exploded form too (the Generate-stage consumer)
    val ea = a.select(explode(col("t")).as("w")).groupBy("w").count()
    val eb = b.select(explode(col("t")).as("w")).groupBy("w").count()
    assert(ea.exceptAll(eb).isEmpty && eb.exceptAll(ea).isEmpty)
  }

  test("length filter: band is consistent with exact quantiles") {
    val out = SparkEntry.queries("q405_length_filter")(spark, sf).collect()
    val docs = Tables.documents(spark, sf).select(
      graft.text.TextStats.nTokens(col("text")).as("tok"))
    val band = docs.agg(graft.functions.Num.quantileDisc("tok", 0.1, 0.9)).head()
      .getSeq[Double](0).map(_.toLong)
    val (p10, p90) = (band(0), band(1))
    assert(p10 <= p90)
    val totalShort = out.map(_.getLong(2)).sum
    val expectShort = docs.filter(col("tok") < p10).count()
    assert(totalShort == expectShort)
    out.foreach(r => assert(r.getLong(2) + r.getLong(3) <= r.getLong(1)))
  }

  test("epochs recipe: Σ tokens·min(epochs,∞) reconstructs the uniform budget") {
    val rows = SparkEntry.queries("q408_epochs_recipe")(spark, sf).collect()
    val total = rows.map(_.getLong(2)).sum
    val nsrc = rows.length
    rows.foreach { r =>
      val (tokens, epochs) = (r.getLong(2), r.getDouble(3))
      val expect = (total.toDouble / nsrc) / tokens
      assert(math.abs(epochs - expect) < 1e-5)
      assert(r.getLong(4) == math.floor(epochs).toLong)
    }
  }

  test("containment pairs: differential vs brute-force set intersection") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 120)
    val sh = docs.select(col("doc_id"),
      graft.text.Shingles.shingles(col("text"), 3).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val expected = (for {
      (i, a) <- sh; (j, b) <- sh; if i < j
      c = (a & b).size
      m = math.min(a.size, b.size)
      if m > 0
      cont = math.round(c.toDouble / m * 1e6) / 1e6
      if cont >= 0.8
    } yield (i, j, cont)).toSet
    // replay the gated query restricted to the same doc subset
    val got = {
      val shDf = docs.select(col("doc_id"),
        graft.text.Shingles.shingles(col("text"), 3).as("sh"))
      val sizes = shDf.select(col("doc_id"), size(col("sh")).as("n"))
      val lists = shDf.select(col("doc_id"), explode(col("sh")).as("g"))
        .groupBy("g").agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")) >= 2)
      val common = lists.select(explode(ColumnBridge.column(
          graft.text.PackedPairs(ColumnBridge.expression(col("ds"))))).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("common"))
        .select(shiftrightunsigned(col("pk"), 32).as("id1"),
          col("pk").bitwiseAND(lit(0xffffffffL)).as("id2"), col("common"))
      common
        .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
        .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
        .withColumn("cont", functions.Num.rnd(
          col("common").cast("double") / least(col("n1"), col("n2")), 6))
        .filter(col("cont") >= 0.8)
        .select("id1", "id2", "cont").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    assert(got == expected)
  }
}
