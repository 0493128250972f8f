package graft

import org.apache.spark.sql.functions._
import graft.operators.RollingGlobal
import graft.text.RepStats

/** Round-6 operators: repetition stats, global rolling window,
  * decontamination plan shape.
  */
class Round6Spec extends SparkSpec {

  test("RepStatsExpr equals the driver-side reference fold on the corpus") {
    val docs = Tables.documents(spark, sf).cache()
    val got = docs.select(col("doc_id"), RepStats.stats(col("text")).as("rs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(texts.nonEmpty)
    texts.foreach { case (id, t) =>
      assert(got(id) == RepStats.reference(t), s"doc $id")
    }
  }

  test("RepStatsExpr matches the reference on adversarial + random strings") {
    val rnd = new scala.util.Random(42)
    val vocab = Seq("a", "bb", "ccc", "dd d") // "dd d" never appears joined
    val cases = Seq(
      "", " ", "   ", "w", "w w", "w w w", "x y", "a a a a a a",
      "a b a b a b a b", "one two three", "  leading", "trailing  ",
      " double  spaces   everywhere  "
    ) ++ (1 to 50).map { _ =>
      (0 until rnd.nextInt(40)).map(_ => vocab(rnd.nextInt(3))).mkString(" ")
    }
    import spark.implicits._
    val df = cases.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "t")
    val got = df.select(col("id"), RepStats.stats(col("t")).as("rs"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    cases.zipWithIndex.foreach { case (t, i) =>
      assert(got(i) == RepStats.reference(t), s"case '$t'")
    }
  }

  test("global rolling window equals a single-partition computation") {
    val ev = Tables.events(spark, sf).select("event_id", "ts", "value")
    val w = 5
    val got = RollingGlobal.trailing(ev, Seq("ts", "event_id"), "value", w, "roll")
      .select(col("event_id"), col("roll_sum").cast("double"),
        col("roll_min"), col("roll_max"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getDouble(1), r.getDouble(2), r.getDouble(3)))))
      .toMap

    val rows = ev.orderBy("ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(rows.length > 4 * w, "need enough rows to cross partition bounds")
    rows.zipWithIndex.foreach { case ((id, _), i) =>
      if (i < w - 1) assert(got(id).isEmpty, s"row $i must be null (min_periods)")
      else {
        val win = rows.slice(i - w + 1, i + 1).map(_._2)
        val (s, mn, mx) = got(id).getOrElse(fail(s"row $i unexpectedly null"))
        // the operator sums exact decimals of 2-dec inputs: compare on cents
        assert(math.round(s * 100) == math.round(win.sum * 100), s"sum at $i")
        assert(mn == win.min && mx == win.max, s"min/max at $i")
      }
    }
  }

  test("windowed streaming near-dup: time-filtered pairs + state eviction across batches") {
    import graft.streaming.DocStreams
    val docs = Tables.documents(spark, sf).cache()
    val dir = graft.tools.Staging.dir("doc_stream_neardup_win_spec", sf)
    // split in EVENT-TIME order (ts = doc_id minutes) so batch 2 is
    // never late; the watermark rises between batches and evicts
    val mid = 250
    docs.filter(col("doc_id") < mid).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/a")
    docs.filter(col("doc_id") >= mid).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/b")
    val horizonMin = 60L
    val streamed = spark.readStream.schema(DocStreams.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*/")
      .withColumn("ts", timestamp_seconds(lit(86400L) + col("doc_id") * 60))
    val staticShingles = docs
      .select(col("doc_id"), graft.text.Shingles.shingles(col("text"), 3).as("sh"))
    val name = "doc_stream_neardup_win_spec"
    val q = DocStreams.nearDupTransformWindowed(streamed, staticShingles,
        3, 0.5, 64, 4, horizonMs = horizonMin * 60000L)
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    val got = spark.table(name).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.text.MinHash
      .nearDuplicates(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .filter(abs(col("id1") - col("id2")) <= horizonMin)
      .select(col("id1"), col("id2"), graft.functions.Num.rnd(col("jaccard"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
    assert(want.nonEmpty)
    // eviction really happened: by end-of-stream the watermark passed
    // most buckets' newest member + horizon, so live state is a small
    // fraction of the total distinct buckets ever seen
    val totalBuckets = docs
      .select(col("doc_id"), explode(graft.text.MinHashSig.bandHashes(
        graft.text.Shingles.shingles(col("text"), 3), 64, 4)).as("h"))
      .select(col("h")).distinct().count()
    assert(stateRows < totalBuckets / 2,
      s"state not evicted: $stateRows live of $totalBuckets buckets")
  }

  test("streaming IVF refresh equals the batch computation across microbatches") {
    import graft.streaming.EmbedStreams
    val emb = Tables.embeddings(spark, sf).cache()
    val dir = graft.tools.Staging.dir("emb_stream_refresh_spec", sf)
    emb.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/a")
    emb.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/b")
    val model = graft.similarity.IVF.Model(graft.similarity.IVFCentroids.pretrained)
    val streamed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.IntegerType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*/")
    val name = "emb_stream_refresh_spec"
    val q = EmbedStreams.refreshTransform(streamed, model)
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    val got = EmbedStreams.centroids(spark.table(name))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val want = EmbedStreams.centroids(EmbedStreams.refreshTransform(emb, model))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got === want)
    assert(want.size > 64, "expect multiple cells x 64 dims")
  }

  test("GFrame.rollingGlobal mean matches the single-group grouped rolling") {
    import graft.api.GFrame
    val ev = Tables.events(spark, sf).select("event_id", "ts", "value")
    val viaGlobal = GFrame(ev)
      .rollingGlobal("value", Seq("ts", "event_id"), 5)
      .df.select("event_id", "value_roll_mean")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val viaGrouped = GFrame(ev.withColumn("g", lit(1)))
      .groupby("g").rolling("value", Seq("ts", "event_id"), 5)
      .df.select("event_id", "value_roll_mean")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(viaGlobal.keySet == viaGrouped.keySet)
    viaGlobal.foreach { case (id, g) =>
      (g, viaGrouped(id)) match {
        case (None, None) =>
        case (Some(a), Some(b)) =>
          assert(math.abs(a - b) < 1e-9, s"event $id: $a vs $b")
        case other => fail(s"event $id null mismatch: $other")
      }
    }
  }

  test("binned range join equals the naive range join, inner and left_outer") {
    import graft.operators.RangeJoin
    val ev = Tables.events(spark, sf)
    val pts = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("pid"),
        unix_micros(col("ts")).as("t"))
    val iv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("iid"),
        (unix_micros(col("ts")) - 900000000L).as("lo"),
        unix_micros(col("ts")).as("hi"))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val naiveInner = pts.join(iv, Seq("user_id"))
      .filter(col("t") >= col("lo") && col("t") <= col("hi"))
    val binInner = RangeJoin.binned(pts, iv, Seq("user_id"),
      "t", "lo", "hi", width = 900000000L)
    assert(key(binInner) == key(naiveInner))
    assert(key(binInner).nonEmpty)
    // width deliberately NOT the interval span: intervals explode to
    // several bins, exercising the multi-bin path
    val binNarrow = RangeJoin.binned(pts, iv, Seq("user_id"),
      "t", "lo", "hi", width = 100000000L)
    assert(key(binNarrow) == key(naiveInner))
    val binOuter = RangeJoin.binned(pts, iv, Seq("user_id"),
      "t", "lo", "hi", width = 900000000L, how = "left_outer")
    val naiveOuter = key(naiveInner) ++
      pts.collect().map(r => r.getLong(1)).toSet
        .diff(key(naiveInner).map(_._1)).map(p => (p, -1L))
    assert(key(binOuter) == naiveOuter)
  }

  test("range-join floor division bins negative coordinates correctly") {
    import spark.implicits._
    import graft.operators.RangeJoin
    // point at -5 lies inside [-10, -1]; truncation-toward-zero binning
    // would put -5 in bin 0 and the interval in bins [-1, 0] at w=10 -
    // floor puts both in bin -1 and the match survives any width
    val pts = Seq((1L, -5L), (2L, 15L)).toDF("pid", "t")
    val iv = Seq((10L, -10L, -1L), (20L, 12L, 30L)).toDF("iid", "lo", "hi")
    val got = RangeJoin.binned(pts, iv, Seq(), "t", "lo", "hi", width = 10L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 20L)))
  }

  test("cosine tile kernel equals the join-tiled and brute all-pairs forms") {
    import graft.similarity.Similarity
    val emb = Tables.embeddings(spark, sf).cache()
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (t <- Seq(0.3, 0.4); b <- Seq(3, 8)) {
      val kernel = asSet(Similarity.cosinePairsTiledKernel(emb, t, blocks = b))
      val tiled = asSet(Similarity.cosinePairsTiled(emb, t, blocks = b))
      assert(kernel == tiled, s"kernel != tiled at t=$t B=$b")
    }
    val brute = asSet(Similarity.cosinePairs(emb, 0.4))
    assert(asSet(Similarity.cosinePairsTiledKernel(emb, 0.4)) == brute)
    assert(brute.nonEmpty)
  }

  test("overlap join equals the naive interval-intersection join at any width") {
    import graft.operators.RangeJoin
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), (unix_micros(col("ts")) - 900000000L).as("lo"),
        unix_micros(col("ts")).as("hi"))
    val a = p.select(col("event_id").as("ida"), col("lo").as("loa"), col("hi").as("hia"))
    val b = p.select(col("event_id").as("idb"), col("lo").as("lob"), col("hi").as("hib"))
    val naive = a.crossJoin(b)
      .filter(col("ida") < col("idb") &&
        col("loa") <= col("hib") && col("lob") <= col("hia"))
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty)
    for (w <- Seq(900000000L, 100000000L, 3600000000L)) {
      // collect as a LIST first: the first-overlap-bin trick must emit
      // each pair exactly once, not rely on a downstream distinct
      val got = RangeJoin.overlapBinned(a, b, Seq(), "loa", "hia", "lob", "hib", w)
        .filter(col("ida") < col("idb"))
        .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.size == naive.size, s"duplicate or missing pairs at w=$w")
      assert(got.toSet == naive, s"pair set mismatch at w=$w")
    }
  }

  test("streaming session_window emits the batch sessions once closed") {
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id").cache()
    val dir = graft.tools.Staging.dir("session_stream_spec", sf)
    ev.orderBy("ts").limit(500).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/a")
    ev.orderBy(col("ts").desc).limit(ev.count().toInt - 500).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/b")
    val streamed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*/")
      .withWatermark("ts", "10 minutes")
    val name = "session_stream_spec"
    val q = streamed
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("t_start"),
        unix_micros(col("session_window.end")).as("t_end"),
        col("n_events"))
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = SparkEntry.queries("q168_sessionize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // append mode only emits sessions the final watermark has closed —
    // a subset of the batch answer, and every emitted session exact
    assert(got.subsetOf(batch), "streaming emitted a session batch doesn't have")
    assert(got.size > batch.size / 2, s"too few closed sessions: ${got.size}/${batch.size}")
  }

  test("dropDuplicatesWithinWatermark dedups a replayed stream with bounded state") {
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id").orderBy("ts").limit(400).cache()
    val dir = graft.tools.Staging.dir("ddww_spec", sf)
    // write each event twice across two batch files: duplicates arrive
    // within the watermark delay, so every one must be suppressed
    ev.coalesce(1).write.mode("overwrite").parquet(s"$dir/a")
    ev.coalesce(1).write.mode("overwrite").parquet(s"$dir/b")
    val streamed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*/")
      .withWatermark("ts", "2 days")
      .dropDuplicatesWithinWatermark("event_id")
    val name = "ddww_spec"
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).select("event_id")
      .collect().map(_.getLong(0)).toSeq
    val want = ev.select("event_id").collect().map(_.getLong(0)).toSeq
    assert(got.size == got.distinct.size, "emitted a duplicate")
    assert(got.toSet == want.toSet, "lost or invented events")
  }

  test("stream-stream interval join equals the batch range join") {
    val ev = Tables.events(spark, sf).cache()
    val dir = graft.tools.Staging.dir("ss_join_spec", sf)
    ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/clicks")
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("pts"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/purchases")
    def src(sub: String, schema: org.apache.spark.sql.types.StructType) =
      spark.readStream.schema(schema).parquet(s"$dir/$sub")
    import org.apache.spark.sql.types._
    val clicks = src("clicks", StructType(Seq(
        StructField("click_id", LongType), StructField("user_id", LongType),
        StructField("ts", TimestampType))))
      .withWatermark("ts", "1 hour")
    val purchases = src("purchases", StructType(Seq(
        StructField("purchase_id", LongType), StructField("p_user", LongType),
        StructField("pts", TimestampType))))
      .withWatermark("pts", "1 hour")
    // stream-stream inner join with the event-time range condition: a
    // click joins purchases of the same user within the following 10
    // minutes; watermarks bound both sides' state
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("pts") >= col("ts") &&
        col("pts") <= col("ts") + expr("INTERVAL 10 MINUTES"))
    val name = "ss_join_spec"
    val q = joined.select("click_id", "purchase_id")
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_micros(col("ts")).as("t"))
      .join(ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), unix_micros(col("ts")).as("pt")),
        col("user_id") === col("p_user") &&
          col("pt") >= col("t") && col("pt") <= col("t") + 600000000L)
      .select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("band join equals the naive |dt| <= eps join") {
    import graft.operators.RangeJoin
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("ca"), unix_micros(col("ts")).as("ta"))
    val views = ev.filter(col("event_type") =!= "click")
      .select(col("user_id"), col("event_id").as("cb"), unix_micros(col("ts")).as("tb"))
    val eps = 300000000L // 5 minutes
    val naive = clicks.join(views, Seq("user_id"))
      .filter(abs(col("ta") - col("tb")) <= eps)
      .select("ca", "cb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = RangeJoin.bandBinned(clicks, views, Seq("user_id"), "ta", "tb", eps)
      .select("ca", "cb").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.size == got.toSet.size, "band join emitted duplicates")
    assert(got.toSet == naive)
    assert(naive.nonEmpty)
  }

  test("global ffill carries across range-partition boundaries; leading nulls stay null") {
    import spark.implicits._
    import graft.operators.Fill
    // 200 rows over 4 partitions; only every 37th has a value, so most
    // partitions start with a run of nulls that must be filled from the
    // PREVIOUS partition's carry; rows 0-36 stay null
    val rows = (0 until 200).map(i =>
      (i.toLong, if (i % 37 == 0 && i > 0) Some(i / 10.0) else None))
    val df = rows.toDF("id", "v")
    val got = Fill.ffillGlobal(df, Seq("id"), "v")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    var run: Option[Double] = None
    rows.foreach { case (id, v) =>
      if (v.isDefined) run = v
      assert(got(id) == run, s"row $id")
    }
  }

  test("a custom MediaDecoder flows through the multimodal feature plumbing") {
    import graft.multimodal.{MediaDecoder, Multimodal}
    object LenFirstDecoder extends MediaDecoder {
      val featureDim = 2
      def decode(bytes: Array[Byte]): Array[Double] =
        Array(bytes.length.toDouble,
          if (bytes.isEmpty) -1.0 else (bytes(0) & 0xff).toDouble)
    }
    val bin = Multimodal.asBinaryTable(
      Tables.documents(spark, sf).limit(20), "text")
    val got = Multimodal.decodeFeatures(bin, LenFirstDecoder)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val want = Tables.documents(spark, sf).limit(20)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> {
        val b = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        Seq(b.length.toDouble, if (b.isEmpty) -1.0 else (b(0) & 0xff).toDouble)
      }).toMap
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("decontamination joins the corpus against a BROADCAST eval side") {
    val plan = SparkEntry.queries("q161_decontaminate")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("WinnowSetLong equals parseHex of the string WinnowSet, any k/w") {
    import graft.text.Fingerprint
    val docs = Tables.documents(spark, sf).limit(200)
    Seq((8, 4), (20, 1), (5, 7)).foreach { case (k, w) =>
      val both = docs.select(
        Fingerprint.winnowSet(col("text"), k, w).as("hs"),
        Fingerprint.winnowSetLong(col("text"), k, w).as("hl"))
        .collect()
      both.foreach { r =>
        val strs = r.getSeq[String](0).map(h =>
          java.lang.Long.parseUnsignedLong(h, 16))
        val longs = r.getSeq[Long](1)
        assert(strs == longs, s"k=$k w=$w")
      }
    }
  }
}
