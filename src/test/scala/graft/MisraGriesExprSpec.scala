package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{MisraGries, MisraGriesExpr}

/** Native MisraGriesExpr ≡ the boxed udaf twin, the MG frequency
  * guarantee on a known skew, and the certified top-k ≡ an exact
  * groupBy-count top-k.
  */
class MisraGriesExprSpec extends SparkSpec {
  import spark.implicits._
  import MisraGriesExprSpec._

  private def cand(df: DataFrame, k: Int, items: Column): Seq[String] =
    df.agg(MisraGriesExpr(k)(items).as("s")).select("s.cand").collect()(0)
      .getSeq[String](0).toSeq

  private def skewed: DataFrame = {
    // deterministic skewed stream: token i appears ~1000/i times
    val items = (1 to 60).flatMap(i => Seq.fill(1000 / i)(s"tok$i"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(items.map(Tuple1(_)), 1).map(t =>
        org.apache.spark.sql.Row(t._1)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("item",
          org.apache.spark.sql.types.StringType))))
  }

  test("single partition: native candidate set == udaf twin exactly") {
    val df = skewed
    for (k <- Seq(4, 16, 64)) {
      val nat = cand(df, k, array(col("item")))
      val twin = df.agg(MisraGries.mgUdaf(k)(col("item"))).collect()(0)
        .getSeq[String](0).toSeq
      assert(nat == twin, s"k=$k")
    }
  }

  test("array(item) ≡ boxed twin ≡ one-word-per-row text column") {
    val df = skewed
    for (k <- Seq(4, 16, 64)) {
      val arr = df.agg(MisraGriesExpr(k)(array(col("item"))).as("s"))
        .select("s.cand", "s.n").collect()(0)
      val text = df.agg(MisraGriesExpr(k)(col("item")).as("s"))
        .select("s.cand", "s.n").collect()(0)
      val twin = df.agg(MisraGries.mgUdaf(k)(col("item"))).collect()(0)
        .getSeq[String](0)
      assert(arr.getSeq[String](0) == twin, s"k=$k array vs twin")
      assert(text.getSeq[String](0) == twin, s"k=$k text vs twin")
      assert(arr.getLong(1) == df.count() && text.getLong(1) == df.count(), s"k=$k n")
    }
  }

  test("multi-partition: the MG guarantee holds (heavy items survive)") {
    // 7 partitions, arbitrary merge order: every item with frequency
    // > N/(k+1) MUST be in the candidate set
    val items = (1 to 200).flatMap(i => Seq.fill(2000 / i)(s"t$i"))
    val n = items.size
    val df = items.toDF("item").repartition(7)
    val k = 16
    val got = cand(df, k, array(col("item"))).toSet
    val freq = items.groupBy(identity).view.mapValues(_.size)
    val heavy = freq.filter(_._2 > n.toDouble / (k + 1)).keys.toSet
    assert(heavy.subsetOf(got),
      s"missing heavy hitters: ${heavy.diff(got)}")
    assert(got.size <= k)
  }

  test("nulls are skipped; empty input yields empty candidates") {
    val df = Seq(Some("a"), None, Some("a"), Some("b"), None)
      .toDF("item")
    assert(cand(df, 4, array(col("item"))) == Seq("a", "b"))
    assert(cand(df.filter(col("item") === "zzz"), 4, array(col("item"))).isEmpty)
  }

  test("a child that is neither string nor array<string> fails analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Seq(1L, 2L).toDF("i").agg(MisraGriesExpr(4)(col("i"))))
    assert(e.getMessage.contains("array<string>"))
  }

  test("text child ≡ array child over its exploded tokens (1 partition) + total") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").coalesce(1)
    for (k <- Seq(8, 64, 512)) {
      val fused = docs.agg(MisraGriesExpr(k)(col("text")).as("s"))
        .select(col("s.cand"), col("s.n")).collect()(0)
      val words = docs.select(explode(
        graft.text.TextStats.tokensNonEmpty(col("text"))).as("word"))
      val twin = words.agg(MisraGriesExpr(k)(array(col("word"))).as("s"))
        .select(col("s.cand"), col("s.n")).collect()(0)
      assert(fused.getSeq[String](0) == twin.getSeq[String](0), s"k=$k candidates")
      assert(fused.getLong(1) == twin.getLong(1), s"k=$k total")
      assert(fused.getLong(1) == words.count(), s"k=$k total vs token count")
    }
  }

  test("CandTokenCountsExpr ≡ isin-filtered exact counts + current total") {
    val docs = Tables.documents(spark, sf).select("text")
    val cand = Seq("the", "a", "spark", "join", "zzz_absent")
    val arr = docs.agg(graft.functions.CandTokenCountsExpr(cand)(col("text")))
      .collect()(0).getSeq[Long](0)
    val words = docs.select(explode(
      graft.text.TextStats.tokensNonEmpty(col("text"))).as("word"))
    val exact = words.groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    cand.zipWithIndex.foreach { case (w, i) =>
      assert(arr(i) == exact.getOrElse(w, 0L), s"count($w)")
    }
    assert(arr.last == words.count(), "total")
    // the same counts from the exploded tokens as array(word) items
    val viaArray = words.agg(graft.functions.CandTokenCountsExpr(cand)(array(col("word"))))
      .collect()(0).getSeq[Long](0)
    assert(viaArray == arr)
  }

  test("text topKFrequent ≡ exact top-k (certified, fallback and shrunk paths)") {
    val docs = Tables.documents(spark, sf)
    def words(d: DataFrame) = d.select(explode(
      graft.text.TextStats.tokensNonEmpty(col("text"))).as("word"))
    val exact = exactTopK(words(docs), 10)
    assert(exact.length == 10)
    assert(fitAndCertify(docs, col("text"), 10, 512) == exact)
    // uncertifiable sketch (flat vocab, tiny k) must fall back to exact
    assert(fitAndCertify(docs, col("text"), 10, 1) == exact)
    // shrunk corpus vs sketch: prefit on full, probe on half → exact fallback
    val sk = MisraGries.sketchRow(MisraGries.fitSketch(docs, col("text"), 512))
    val half = docs.filter(col("doc_id") % 2 === 0)
    assert(rows(MisraGries.topKFrequent(half, col("text"), 10, sk)) ==
      exactTopK(words(half), 10))
  }

  test("persisted q232 sketch is invalidated when the corpus changes on disk") {
    // r14 (VERDICT r13 item 6): the staging path embeds the source
    // file's modTime, so an in-place corpus rewrite can never silently
    // reuse a stale sketch.
    import spark.implicits._
    val sfDir = java.nio.file.Files.createTempDirectory("mg_stale").toString
    def writeCorpus(word: String): Unit =
      Seq.tabulate(20)(i => (i.toLong, s"$word filler$i", "src0", 10L))
        .toDF("doc_id", "text", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    def topWord(): String = {
      val q = SparkEntry.queries("q232_heavy_hitters")(spark, sfDir)
      q.orderBy(col("cnt").desc, col("word")).limit(1).collect()(0).getString(0)
    }
    writeCorpus("alpha")
    val path1 = graft.tools.Staging.dirKeyedOnSource(spark, "mg_sketch_q232", sfDir, "documents")
    assert(topWord() == "alpha")
    Thread.sleep(1100) // ensure a distinct file modTime even on 1s-granular filesystems
    writeCorpus("omega")
    // the staging path itself must move — that is the invalidation
    val path2 = graft.tools.Staging.dirKeyedOnSource(spark, "mg_sketch_q232", sfDir, "documents")
    assert(path1 != path2, "modTime key did not change with the corpus")
    // and end-to-end: a stale fs.exists-guarded sketch would feed "alpha"
    // candidates; the fresh fit sees only "omega"
    assert(topWord() == "omega")
  }
}

object MisraGriesExprSpec {
  def rows(df: DataFrame): Seq[(String, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** The exact top-k of the `word` column by a groupBy count (count
    * desc, item asc) — the answer every certified path must return.
    */
  def exactTopK(words: DataFrame, k: Int): Seq[(String, Long)] =
    rows(words.groupBy("word").count()
      .orderBy(col("count").desc, col("word")).limit(k))

  /** Fit a sketch over `items` and certify from it in one call. */
  def fitAndCertify(data: DataFrame, items: Column, k: Int, sketchK: Int): Seq[(String, Long)] =
    rows(MisraGries.topKFrequent(data, items, k,
      MisraGries.sketchRow(MisraGries.fitSketch(data, items, sketchK))))
}
