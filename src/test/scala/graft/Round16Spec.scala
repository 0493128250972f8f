package graft

import org.apache.spark.sql.functions._

import graft.functions.CountMin
import graft.operators.PageRank
import graft.text.{BigramLm, QualityModel}

class Round16Spec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- BigramLm

  private def toks(s: String): Seq[String] = s.split(" ").filter(_.nonEmpty).toSeq

  private def md5Bucket(s: String, n: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Integer.parseInt(d.substring(0, 4), 16) % n
  }

  test("BigramLm score equals a driver-side replay of the fold") {
    val docs = Tables.documents(spark, sf)
    val (pu, pb) = BigramLm.tables(docs, "text")
    val got = docs.select(col("doc_id"), col("text"),
        BigramLm.score(col("text"), pu, pb).as("s"))
      .orderBy("doc_id").limit(20).collect()
    got.foreach { r =>
      val t = toks(r.getString(1))
      val exp =
        if (t.size < 2) 0.0
        else {
          var acc = 0.0
          (1 until t.size).foreach { i =>
            acc += (BigramLm.WBi * pb(md5Bucket(t(i - 1) + " " + t(i), BigramLm.BiBuckets))
              + BigramLm.WUni * pu(md5Bucket(t(i), BigramLm.UniBuckets)))
          }
          acc / (t.size - 1)
        }
      assert(r.getDouble(2) == exp, s"doc ${r.getLong(0)}")
    }
  }

  test("BigramLm native score is bit-identical to the composed HOF twin") {
    val docs = Tables.documents(spark, sf)
      .union(Seq((-1L, " pad  spaced   x y z ", "x", "x", 0L),
        (-2L, "", "x", "x", 0L), (-3L, "solo", "x", "x", 0L))
        .toDF(Tables.documents(spark, sf).columns: _*))
    val (pu, pb) = BigramLm.tables(docs, "text")
    val bad = docs.select(
        BigramLm.score(col("text"), pu, pb).as("a"),
        BigramLm.scoreComposed(col("text"), pu, pb).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(bad == 0)
  }

  test("BigramLm: short docs score exactly 0; tables are partition-invariant") {
    val docs = Tables.documents(spark, sf)
    val (pu, pb) = BigramLm.tables(docs, "text")
    val (pu8, pb8) = BigramLm.tables(docs.repartition(8), "text")
    assert(pu == pu8 && pb == pb8)
    val short = Seq((1L, "solo"), (2L, ""), (3L, "two tokens")).toDF("doc_id", "text")
    val out = short.select(col("doc_id"), BigramLm.score(col("text"), pu, pb).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 0.0 && out(2L) == 0.0 && out(3L) > 0.0)
  }

  // ------------------------------------------------------------ QualityModel

  test("QualityModel margin equals a driver-side replay; keep = sign") {
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"),
        QualityModel.margin(col("text")).as("m"),
        QualityModel.keep(col("text")).as("keep"))
      .limit(50).collect()
    rows.foreach { r =>
      val t = toks(r.getString(1))
      val exp =
        if (t.isEmpty) QualityModel.Bias
        else t.map(w => QualityModel.Weights(md5Bucket(w, QualityModel.Buckets)))
          .foldLeft(0.0)(_ + _) / t.size + QualityModel.Bias
      assert(r.getDouble(2) == exp, s"doc ${r.getLong(0)}")
      assert(r.getBoolean(3) == (exp > 0.0))
    }
  }

  test("QualityModel: empty text scores exactly the bias") {
    val out = Seq((1L, "")).toDF("doc_id", "text")
      .select(QualityModel.margin(col("text"))).head().getDouble(0)
    assert(out == QualityModel.Bias)
  }

  // ------------------------------------------------------- CMS join estimate

  test("CMS join-size estimate never underestimates, meets the ε bound") {
    val ev = Tables.events(spark, sf)
    def side(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id").cast("string").as("k"))
    def sk(t: String) = side(t)
      .select(CountMin.buckets(col("k")).as("bs"))
      .agg(CountMin.sketch(col("bs")).as("sk")).head().getSeq[Long](0)
    val est = {
      val a = sk("click"); val b = sk("purchase")
      (0 until CountMin.D).map { r =>
        (0 until CountMin.W).map(j => a(r * CountMin.W + j) * b(r * CountMin.W + j)).sum
      }.min
    }
    // same value through the Column path
    val viaCol = side("click").select(CountMin.buckets(col("k")).as("bs"))
      .agg(CountMin.sketch(col("bs")).as("ska"))
      .crossJoin(side("purchase").select(CountMin.buckets(col("k")).as("bs"))
        .agg(CountMin.sketch(col("bs")).as("skb")))
      .select(CountMin.joinSizeEstimate(col("ska"), col("skb"))).head().getLong(0)
    assert(viaCol == est)
    val na = side("click").count(); val nb = side("purchase").count()
    val exact = side("click").groupBy("k").count().withColumnRenamed("count", "c")
      .join(side("purchase").groupBy("k").count().withColumnRenamed("count", "p"), "k")
      .agg(coalesce(sum(col("c") * col("p")), lit(0L))).head().getLong(0)
    assert(est >= exact, s"inner product $est underestimates $exact")
    val eps = math.E / CountMin.W
    assert(est <= exact + (eps * na * nb).ceil.toLong + 1,
      s"estimate $est breaks the ε·|A|·|B| bound (exact $exact)")
  }

  // ----------------------------------------------------------------- PageRank

  /** In-memory fixed-point PageRank replica (same integer ops) over
    * (src, dst, w) edges: uniform, personalized (`seed`) or weighted.
    * Returns id → (deg or sw, pr).
    */
  private def prReplay[K](edges: Seq[(K, K, Long)], iters: Int, weighted: Boolean = false,
                          seed: K => Boolean = (_: K) => true): Map[K, (Long, Long)] = {
    val both = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val sym = both.groupBy(e => (e._1, e._2))
      .map { case (k, es) => k -> (if (weighted) es.map(_._3).sum else 1L) }
    val sw = sym.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val n = sw.keys.count(seed).toLong
    val tele = (3L * PageRank.Scale) / (20L * n)
    var pr = sw.map { case (k, _) => k -> (if (seed(k)) PageRank.Scale / n else 0L) }
    (1 to iters).foreach { _ =>
      val mass = sym.groupBy(_._1._2).map { case (dst, in) =>
        dst -> in.map { case ((src, _), w) => pr(src) * w / sw(src) }.sum
      }
      pr = sw.map { case (k, _) =>
        k -> ((if (seed(k)) tele else 0L) + (85L * mass.getOrElse(k, 0L)) / 100L)
      }
    }
    sw.map { case (k, s) => k -> (s, pr(k)) }
  }

  /** In-memory HITS replica: (id, side, score) rows. */
  private def hitsReplay[K](edges: Seq[(K, K)], iters: Int): Set[(K, String, Long)] = {
    val e = edges.distinct
    def half(from: Map[K, Long], along: Seq[(K, K)]): Map[K, Long] = {
      val raw = along.groupBy(_._2).map { case (t, in) => t -> in.map(p => from(p._1)).sum }
      val d = math.max(raw.values.sum / PageRank.Scale, 1L)
      raw.map { case (k, x) => k -> x / d }
    }
    val hubs = e.map(_._1).distinct
    var h = hubs.map(_ -> PageRank.Scale / hubs.size).toMap
    var a = Map.empty[K, Long]
    (1 to iters).foreach { _ => a = half(h, e); h = half(a, e.map(_.swap)) }
    h.map { case (k, x) => (k, "hub", x) }.toSet ++ a.map { case (k, x) => (k, "auth", x) }
  }

  /** In-memory label propagation replica: majority label, ties → smallest. */
  private def lpaReplay[K: Ordering](edges: Seq[(K, K)], iters: Int): Map[K, K] = {
    val sym = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    var lab = sym.map(e => e._1 -> e._1).toMap
    (1 to iters).foreach { _ =>
      lab = sym.groupBy(_._2).map { case (v, in) =>
        v -> in.groupBy(e => lab(e._1)).iterator.map { case (l, es) => (-es.size, l) }.min._2
      }
    }
    lab
  }

  test("PageRank matches the driver replay exactly on a known graph") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d")
    val df = edges.toDF("s", "t")
    val got = PageRank.run(df, "s", "t", iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val exp = prReplay(edges.map { case (a, b) => (a, b, 1L) }, 3).map { case (k, v) => k -> v._2 }
    assert(got == exp)
    // hub c (deg 3) outranks pendant d (deg 1)
    assert(got("c") > got("d"))
  }

  /** A seeded random multigraph over `v` vertices: repeated pairs,
    * both orientations and self-loops included, weights 1..5.
    */
  private def randomGraph(seed: Int, v: Int, e: Int): Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(e)((rnd.nextInt(v).toLong * 7919L, rnd.nextInt(v).toLong * 7919L, 1L + rnd.nextInt(5)))
  }

  test("all five graph operators equal their replays on 1 and 8 pieces, long and string ids") {
    import graft.operators.{Hits, LabelProp}
    for (g <- Seq(1, 2); asString <- Seq(false, true)) {
      val raw = randomGraph(g, 24, 70)
      def id(x: Long): Any = if (asString) s"v$x" else x
      val edges = raw.map { case (a, b, w) => (id(a), id(b), w) }
      val seeds = edges.take(3).map(_._1).toSet
      val df0 = if (asString) raw.map { case (a, b, w) => (s"v$a", s"v$b", w) }.toDF("s", "t", "w")
                else raw.toDF("s", "t", "w")
      for (pieces <- Seq(1, 8)) {
        val df = df0.repartition(pieces)
        val tag = s"graph $g, ${if (asString) "string" else "long"} ids, $pieces pieces"
        def ranks(out: org.apache.spark.sql.DataFrame) =
          out.collect().map(r => r.get(0) -> (r.getLong(1), r.getLong(2))).toMap
        val pairs = edges.map(e => (e._1, e._2))
        assert(ranks(PageRank.run(df, "s", "t", 3)) ==
          prReplay(edges.map(e => (e._1, e._2, 1L)), 3), s"PageRank, $tag")
        assert(ranks(PageRank.runPersonalized(df, "s", "t", 3, _.isin(seeds.toSeq: _*))) ==
          prReplay(edges.map(e => (e._1, e._2, 1L)), 3, seed = seeds), s"PPR, $tag")
        assert(ranks(PageRank.runWeighted(df, "s", "t", "w", 3)) ==
          prReplay(edges, 3, weighted = true), s"weighted PageRank, $tag")
        assert(Hits.run(df, "s", "t", 2).collect().map(r => (r.get(0), r.getString(1), r.getLong(2)))
          .toSet == hitsReplay(pairs, 2), s"HITS, $tag")
        val lab = LabelProp.run(df, "s", "t", 2).collect().map(r => r.get(0) -> r.get(1)).toMap
        val exp = if (asString) lpaReplay(pairs.map(p => (p._1.toString, p._2.toString)), 2)
                  else lpaReplay(pairs.map(p => (p._1.asInstanceOf[Long], p._2.asInstanceOf[Long])), 2)
        assert(lab == exp, s"LabelProp, $tag")
      }
    }
  }

  test("an all-false PPR seed fails when the plan executes, not when it is built") {
    val df = Seq("a" -> "b", "b" -> "c").toDF("s", "t")
    val (out, jobs) = jobsWhile(PageRank.runPersonalized(df, "s", "t", 2, _ => lit(false)))
    assert(jobs == 0)
    val e = intercept[Exception](out.collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("at least one seed vertex")), e.toString)
  }

  test("Personalized PageRank: non-seed vertices hold no teleport mass at iter 1") {
    // star: center x, leaves a,b,c; seed = {a} only
    val df = Seq("x" -> "a", "x" -> "b", "x" -> "c").toDF("s", "t")
    val got = PageRank.runPersonalized(df, "s", "t", iters = 1, id => id === "a")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val S = PageRank.Scale
    val tele = (3L * S) / 20L // one seed
    // iter 1: a starts with all mass S, deg 1 → x gets 85% of S; b,c get 0 mass
    assert(got("x") == (85L * S) / 100L)
    assert(got("a") == tele)
    assert(got("b") == 0L && got("c") == 0L)
  }

  test("LabelProp: two cliques joined by a bridge keep distinct labels") {
    val clique1 = Seq("a" -> "b", "b" -> "c", "a" -> "c")
    val clique2 = Seq("x" -> "y", "y" -> "z", "x" -> "z")
    val df = (clique1 ++ clique2 :+ ("c" -> "x")).toDF("s", "t")
    val lab = graft.operators.LabelProp.run(df, "s", "t", iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // min-label tiebreak floods "a" through clique1 and "x" through
    // clique2; the communities stay distinct across the bridge
    assert(lab("a") == lab("b") && lab("b") == lab("c"))
    assert(lab("x") == lab("y") && lab("y") == lab("z"))
    assert(lab("a") != lab("x"))
  }

  test("LabelProp is partition-invariant") {
    val e = PageRank.tradeEdges(spark, sf)
    val r1 = graft.operators.LabelProp.run(e, "cust", "supp", iters = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    val r2 = graft.operators.LabelProp.run(e.repartition(5), "cust", "supp", iters = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(r1.sameElements(r2))
  }

  test("PageRank is partition-invariant and conserves mass") {
    val e = PageRank.tradeEdges(spark, sf)
    val r1 = PageRank.run(e, "cust", "supp", iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(2))).sortBy(_._1)
    val r2 = PageRank.run(e.repartition(7), "cust", "supp", iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(2))).sortBy(_._1)
    assert(r1.sameElements(r2))
    val total = r1.map(_._2).sum
    // floor losses only shrink mass, never grow it
    assert(total <= PageRank.Scale && total >= (PageRank.Scale * 9) / 10,
      s"total mass $total outside [0.9, 1.0]·Scale")
  }
}
