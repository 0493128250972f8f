package graft

import org.apache.spark.sql.functions._
import graft.text.Bm25
import graft.operators.Profile

class Round12Spec extends SparkSpec {
  import spark.implicits._

  test("Bm25.topK equals a driver-side BM25 computation on a tiny corpus") {
    val docs = Seq(
      (1L, "spark join window hash spark"),
      (2L, "the quick brown fox"),
      (3L, "join join join"),
      (4L, "window hash"),
      (5L, "spark")).toDF("doc_id", "text")
    val terms = Seq("spark", "join", "window", "hash")
    val k1 = 1.2; val b = 0.75
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val n = texts.size.toDouble
    val dls = texts.map { case (id, t) => id -> t.split(" ", -1).length.toDouble }
    val avgdl = dls.values.sum / n
    def tf(id: Long, t: String) = texts(id).split(" ", -1).count(_ == t).toDouble
    val dfs = terms.map(t => t -> texts.keys.count(id => tf(id, t) > 0).toDouble).toMap
    def score(id: Long) = terms.map { t =>
      val idf = math.log(1.0 + (n - dfs(t) + 0.5) / (dfs(t) + 0.5))
      idf * (tf(id, t) * (k1 + 1.0)) /
        (tf(id, t) + k1 * ((1.0 - b) + b * dls(id) / avgdl))
    }.reduce(_ + _)
    val expect = texts.keys.toSeq.map(id => id -> math.round(score(id) * 1e6) / 1e6)
      .filter(_._2 > 0).sortBy { case (id, s) => (-s, id) }
    val got = Bm25.topK(docs, "doc_id", "text", terms, k = 10, k1 = k1, b = b)
      .orderBy("rn").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === expect)
    // rn is 1..n in score order
    val rns = Bm25.topK(docs, "doc_id", "text", terms, k = 10)
      .orderBy("rn").select("rn").as[Long].collect()
    assert(rns.toSeq === (1L to rns.length).toSeq)
  }

  test("TermCountsExpr matches its composed split/filter twin on adversarial strings") {
    // (no empty-string term: the kernel never counts empty tokens as a
    // tf by design — they only contribute to dl)
    val terms = Seq("spark", "a", "join")
    val rng = new scala.util.Random(7)
    val vocab = Array("spark", "a", "b", "join", "", " ")
    val strs = (Seq("", " ", "  ", "a", "spark spark", " spark", "spark ",
      "a  a", "spark a spark") ++
      (1 to 200).map(_ => (0 until rng.nextInt(12))
        .map(_ => vocab(rng.nextInt(vocab.length))).mkString(" ")))
    val df = strs.toDF("t")
    val rows = df.select(
        graft.text.Bm25.termCounts(col("t"), terms).as("n"),
        graft.text.Bm25.termCountsComposed(col("t"), terms).as("c"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Double](0) === r.getSeq[Double](1), s"on ${r}")
    }
  }

  test("Profile.report counts rows, nulls, distincts and numeric stats") {
    val df = Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 2.0, "a"), (2L, null, "b"), (3L, 4.0, null),
      (3L, 6.0, "a"), (null, 8.0, "b"))
      .toDF("id", "v", "s")
    val rep = Profile.report(df).collect()
      .map(r => r.getString(0) -> r).toMap
    val id = rep("id")
    assert(id.getLong(1) === 5L && id.getLong(2) === 1L && id.getLong(3) === 3L)
    assert(id.getDouble(4) === 1.0 && id.getDouble(5) === 3.0)
    val v = rep("v")
    assert(v.getLong(2) === 1L && v.getLong(3) === 4L)
    assert(v.getDouble(4) === 2.0 && v.getDouble(5) === 8.0 && v.getDouble(6) === 5.0)
    val s = rep("s")
    assert(s.getLong(2) === 1L && s.getLong(3) === 2L)
    assert(s.isNullAt(4) && s.isNullAt(5) && s.isNullAt(6))
  }

  test("searchCodeIndex prunes to the probed cell partitions only") {
    import graft.similarity.{IVF, IVFCentroids, PQ, PQCodebooks}
    val pq = PQ.Model(PQCodebooks.pretrained)
    val coarse = IVF.Model(IVFCentroids.pretrained)
    val e = Tables.embeddings(spark, sf)
    val path = graft.tools.Staging.dir("pq_index_spec", sf)
    PQ.writeCodeIndex(e, coarse, pq, path)
    val queries = e.filter(col("vec_id") < 4)
    val res = PQ.searchCodeIndex(spark, path, queries, coarse, pq, k = 3, nprobe = 2)
    // the scan must carry a partition filter on cell — only probed
    // directories are read (4 queries × nprobe 2 → at most 8 of the
    // coarse.k cells, typically fewer)
    val scan = res.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Scan parquet")).mkString("\n")
    assert(scan.contains("cell"), s"no partition filter on cell:\n$scan")
    // results agree with the non-persisted path
    val direct = PQ.ivfPqTopK(queries, e, coarse, pq, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaIndex = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaIndex === direct)
  }

  test("streaming PQ encode and profile equal their batch twins") {
    import graft.similarity.{PQ, PQCodebooks}
    val pq = PQ.Model(PQCodebooks.pretrained)
    val stream = graft.streaming.EmbedStreams.pqEncodeStream(spark, sf)
      .collect().map(r => r.toSeq).toSet
    val batch = Tables.embeddings(spark, sf).select(
        col("vec_id") +:
          (0 until pq.m).map(s => pq.code(col("embedding"), s).as(s"code_$s")): _*)
      .collect().map(r => r.toSeq).toSet
    assert(stream === batch)

    val prof = graft.streaming.EventStreams.profileStream(spark, sf)
      .collect().map(r => r.toSeq).toSet
    val batchProf = Tables.events(spark, sf)
      .select(col("event_type"), col("value").isNull.as("vnull"),
        graft.functions.Num.rnd(col("value"), 6).cast("decimal(28,6)").as("vr"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("vnull"), 1L).otherwise(0L)).as("n_nulls"),
        min(col("vr")).cast("double").as("min_v"),
        max(col("vr")).cast("double").as("max_v"),
        graft.functions.Num.rnd(
          sum(col("vr")).cast("double") / count(col("vr")), 6).as("mean_v"))
      .collect().map(r => r.toSeq).toSet
    assert(prof === batchProf)
  }

  test("GFrame.profile and GFrame.bm25TopK wrap their operators") {
    import graft.api.GFrame
    val docs = Tables.documents(spark, sf)
    val viaApi = GFrame(docs).bm25TopK("doc_id", "text", Seq("spark"), 5).df
      .collect().map(_.toSeq).toSet
    val direct = graft.text.Bm25.topK(docs, "doc_id", "text", Seq("spark"), 5)
      .collect().map(_.toSeq).toSet
    assert(viaApi === direct)
    val prof = GFrame(Tables.lineitem(spark, sf)).profile("l_orderkey").df.collect()
    assert(prof.length === 1 && prof.head.getString(0) === "l_orderkey")
  }

  test("GridLumaDecoder samples the formula raster exactly; corrupt payload yields sentinel") {
    import graft.multimodal.{GridLumaDecoder, SyntheticImages}
    val d = 42L
    val w = SyntheticImages.widthFor(d); val h = SyntheticImages.heightFor(d)
    val got = GridLumaDecoder.decode(SyntheticImages.pngFor(d))
    assert(got(0) === w.toDouble && got(1) === h.toDouble)
    for (gy <- 0 until 8; gx <- 0 until 8) {
      val sx = gx * w / 8; val sy = gy * h / 8
      val expect = ((31 * d + 7 * sx + 13 * sy) % 256 +
        (17 * d + 3 * sx + 5 * sy) % 256 +
        (23 * d + 11 * sx + 2 * sy) % 256).toDouble
      assert(got(2 + gy * 8 + gx) === expect, s"cell ($gx,$gy)")
    }
    assert(GridLumaDecoder.decode(Array[Byte](1, 2, 3)).forall(_ === -1.0))
  }

  test("approx-distinct profile stays within the sketch error envelope and drops the expand") {
    val li = Tables.lineitem(spark, sf)
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity")
    val exact = Profile.report(li, cols).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val approx = Profile.report(li, cols, approxDistinct = true)
    approx.collect().foreach { r =>
      val e = exact(r.getString(0)).toDouble
      val a = r.getLong(3).toDouble
      assert(math.abs(a - e) / e < 0.15, s"${r.getString(0)}: $a vs $e")
    }
    // the sketch path must not plan the per-column Expand the exact
    // multi-distinct needs
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"unexpected expand:\n$plan")
    assert(Profile.report(li, cols).queryExecution.executedPlan.toString
      .contains("Expand"))
  }

  test("Profile.report is a single pass: one scan feeds every statistic") {
    val rep = Profile.report(Tables.lineitem(spark, sf),
      Seq("l_orderkey", "l_quantity", "l_returnflag"))
    val scans = rep.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"expected one parquet scan, got $scans")
    assert(rep.count() === 3)
  }
}
