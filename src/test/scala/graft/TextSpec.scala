package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.functions.StringOps
import graft.text.{MinHash, Shingles, SimHash, TextStats}

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("zfill pads after sign like pandas") {
    val df = Seq("5", "-5", "+12", "1234567").toDF("s")
    val got = df.select(StringOps.zfill(col("s"), 5)).collect().map(_.getString(0)).toSeq
    assert(got === Seq("00005", "-0005", "+0012", "1234567"))
  }

  test("swapcase flips ASCII case") {
    val df = Seq("AbC xY9").toDF("s")
    assert(df.select(StringOps.swapcase(col("s"))).head().getString(0) === "aBc Xy9")
  }

  test("pad both centers like pandas") {
    val df = Seq("ab").toDF("s")
    assert(df.select(StringOps.pad(col("s"), 5, "both", "*")).head().getString(0) === "*ab**")
  }

  test("shingles produce distinct n-grams") {
    val df = Seq("a b c a b c").toDF("t")
    val sh = df.select(Shingles.shingles(col("t"), 3)).head().getSeq[String](0)
    assert(sh.toSet === Set("a b c", "b c a", "c a b"))
  }

  test("shingles on short and empty documents yield empty sets, no crash") {
    val df = Seq("a b", "a", "", "   ", "a b c").toDF("t")
    val got = df.select(Shingles.shingles(col("t"), 3).as("sh")).collect()
      .map(_.getSeq[String](0).toSet)
    assert(got(0) === Set())         // 2 tokens < n=3
    assert(got(1) === Set())         // 1 token
    assert(got(2) === Set())         // empty doc
    assert(got(3) === Set())         // whitespace only
    assert(got(4) === Set("a b c"))  // exactly n tokens → one shingle
  }

  test("native ShingleSet expression matches the composed array-lambda form") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val both = docs.select(
      Shingles.shingles(col("text"), 3).as("nat"),
      Shingles.shinglesComposed(col("text"), 3).as("comp"))
    assert(both.filter(not(col("nat") === col("comp"))).count() === 0)
    // degenerate docs too
    val edge = Seq("a b", "", "   ", "x y z", null).toDF("t")
    val e = edge.select(Shingles.shingles(col("t"), 3).as("nat"),
      Shingles.shinglesComposed(col("t"), 3).as("comp")).collect()
    e.foreach { r => assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getSeq[String](0) === r.getSeq[String](1)) }
  }

  test("jaccard of two empty shingle sets is 0, not null") {
    val df = Seq(("", "")).toDF("a", "b")
    val r = df.select(Shingles.jaccard(
      Shingles.shingles(col("a"), 3), Shingles.shingles(col("b"), 3)).as("j")).head()
    assert(!r.isNullAt(0) && r.getDouble(0) === 0.0)
  }

  test("native langId/qualityScore/fingerprint match their composed twins") {
    val docs = Tables.documents(spark, sf).select(col("text"))
    val edge = Seq("", " ", "   ", "a", "the and of", "sch ei der und die",
      "中文 text here", "le et les eau ou", "x  y", "\t\nmulti\r\nws")
      .toDF("text")
    Seq(docs, edge).foreach { d =>
      val diff = d.select(
        TextStats.langId(col("text")).as("ln"),
        TextStats.langIdComposed(col("text")).as("lc"),
        TextStats.qualityScore(col("text")).as("qn"),
        TextStats.qualityScoreComposed(col("text")).as("qc"),
        TextStats.fingerprint(col("text")).as("fn"),
        TextStats.fingerprintComposed(col("text")).as("fc"))
        .filter(not(col("ln") === col("lc")) ||
          not(col("qn") === col("qc")) ||   // bitwise double equality
          not(col("fn") === col("fc")))
      assert(diff.count() === 0)
    }
  }

  test("prefix-filtered exact near-dup equals brute-force all-pairs jaccard") {
    import graft.text.ExactNearDup
    import graft.functions.Num
    val docs = Tables.documents(spark, sf)
    val got = ExactNearDup.pairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force: every pair, exact jaccard, same round-then-filter
    val sh = docs.select(col("doc_id"), Shingles.shingles(col("text"), 3).as("sh"))
    val brute = sh.select(col("doc_id").as("id1"), col("sh").as("sh1"))
      .crossJoin(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")))
      .filter(col("id1") < col("id2"))
      .withColumn("jaccard", Num.rnd(Shingles.jaccard(col("sh1"), col("sh2")), 6))
      .filter(col("jaccard") >= 0.5)
      .select("id1", "id2", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === brute)
    assert(got.nonEmpty) // corpus has planted near-dups
  }

  test("prefix near-dup positional filter loses no pairs at any threshold (random docs)") {
    import graft.text.ExactNearDup
    import graft.functions.Num
    // adversarial size mix: tiny docs (prefix = whole set), big docs,
    // high-overlap mutations — stresses the PPJoin positional bound
    val rnd = new scala.util.Random(1234)
    val base = (0 until 120).map { i =>
      val len = 5 + rnd.nextInt(60)
      (i.toLong, Seq.fill(len)("w" + rnd.nextInt(40)).mkString(" "))
    }
    val mutated = (0 until 60).map { i =>
      val (id, txt) = base(rnd.nextInt(base.size))
      val words = txt.split(" ")
      val j = rnd.nextInt(words.length)
      (1000L + i, (words.take(j) ++ Seq("m" + i) ++ words.drop(j + 1)).mkString(" "))
    }
    val docs = (base ++ mutated).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"), Shingles.shingles(col("text"), 3).as("sh"))
    Seq(0.5, 0.7, 0.8, 0.95).foreach { t =>
      val got = ExactNearDup.pairs(docs, "doc_id", "text", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val brute = sh.select(col("doc_id").as("id1"), col("sh").as("sh1"))
        .crossJoin(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")))
        .filter(col("id1") < col("id2"))
        .withColumn("jaccard", Num.rnd(Shingles.jaccard(col("sh1"), col("sh2")), 6))
        .filter(col("jaccard") >= t)
        .select("id1", "id2", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === brute, s"threshold $t")
    }
  }

  test("simhash: identical texts collide, disjoint texts differ") {
    val df = Seq(("x y z w v u t s", "x y z w v u t s", "q r p o n m l k"))
      .toDF("a", "b", "c")
    val r = df.select(
      SimHash.simhash(TextStats.tokens(col("a"))).as("ha"),
      SimHash.simhash(TextStats.tokens(col("b"))).as("hb"),
      SimHash.simhash(TextStats.tokens(col("c"))).as("hc"))
      .head()
    assert(r.getLong(0) === r.getLong(1))
    assert(r.getLong(0) !== r.getLong(2))
  }

  test("minhash LSH achieves full recall on planted near-dups") {
    val docs = Tables.documents(spark, sf)
    val exact = {
      val sh = docs.select(col("doc_id"), Shingles.shingles(col("text"), 3).as("sh"))
      val inv = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      inv.as("a").join(inv.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2")).distinct()
        .join(sh.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
        .join(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
        .filter(Shingles.jaccard(col("sh1"), col("sh2")) >= 0.5)
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val lsh = MinHash.nearDuplicates(docs, "doc_id", "text", 3, 0.5)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(exact === lsh)
  }

  test("incremental probe against a persisted index equals batch-vs-corpus brute force") {
    val docs = Tables.documents(spark, sf)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val exact = {
      val sh = docs.select(col("doc_id"), Shingles.shingles(col("text"), 3).as("sh"))
      val invB = batch.select(col("doc_id"))
        .join(sh, "doc_id").select(col("doc_id").as("new_id"), explode(col("sh")).as("s"))
      val invC = corpus.select(col("doc_id"))
        .join(sh, "doc_id").select(col("doc_id").as("corpus_id"), explode(col("sh")).as("s"))
      invB.join(invC, "s").select("new_id", "corpus_id").distinct()
        .join(sh.select(col("doc_id").as("new_id"), col("sh").as("sh1")), "new_id")
        .join(sh.select(col("doc_id").as("corpus_id"), col("sh").as("sh2")), "corpus_id")
        .filter(Shingles.jaccard(col("sh1"), col("sh2")) >= 0.5)
        .select("new_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val idxPath = graft.tools.Staging.dir("lsh_index_spec", sf)
    MinHash.bucketIndex(corpus, "doc_id", "text")
      .write.mode("overwrite").partitionBy("band").parquet(idxPath)
    val got = MinHash.probeIndex(spark.read.parquet(idxPath), batch, corpus,
        "doc_id", "text", threshold = 0.5)
      .select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(got === exact)
  }

  test("winnow-sampled substring dup keeps the MOSS guarantee on planted dups") {
    import spark.implicits._
    // two docs share a 60-char passage; w=8,k=20 guarantees detection
    // of any shared run >= 27 chars (>= ceil((60-26)/8)=5 shared
    // winnow grams in the worst case -> minShared=2 here is safe)
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    require(shared.length >= 40, s"planted run is ${shared.length} chars")
    val docs = Seq(
      (1L, s"prefix one 12345 $shared suffix alpha beta gamma delta"),
      (2L, s"completely different opening text $shared closing words here"),
      (3L, "unrelated document with no overlap at all in its contents xyz"),
      (4L, "another standalone text that shares nothing with the others qq"))
      .toDF("doc_id", "text")
    val got = graft.text.SubstringDup
      .pairs(docs, "doc_id", "text", k = 20, w = 8, minShared = 2)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)))
    // and the exhaustive w=1 form agrees on the planted pair
    val exhaustive = graft.text.SubstringDup
      .pairs(docs, "doc_id", "text", k = 20, w = 1, minShared = 10)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exhaustive === Set((1L, 2L)))
  }

  test("langId falls back to en and detects CJK") {
    val df = Seq("the quick fox and the dog of war", "位 置 大 小").toDF("t")
    val got = df.select(TextStats.langId(col("t"))).collect().map(_.getString(0)).toSeq
    assert(got === Seq("en", "zh"))
  }

  test("exactPairs emits the bounded-path guidance when the input is large") {
    import graft.text.ScaleGuidance
    ScaleGuidance.last.set(null)
    // sf0.001 documents (~small) stays silent at the 1 GiB default...
    graft.queries.TextQueries.exactPairs(spark, sf)
    assert(ScaleGuidance.last.get == null)
    // ...and fires once the configured threshold drops below the input
    spark.conf.set(ScaleGuidance.WarnBytesConf, "64")
    try {
      graft.queries.TextQueries.exactPairs(spark, sf)
      val msg = ScaleGuidance.last.get
      assert(msg != null && msg.contains("q166_minhash_dedup") &&
        msg.contains("q55_minhash_lsh"))
    } finally spark.conf.unset(ScaleGuidance.WarnBytesConf)
  }

  test("BloomFilterNode: no false negatives, bounded false positives, on 1 and 8 pieces") {
    import graft.plans.BloomFilterNode
    val members = (0L until 2000L).map(i => s"gram_$i").toDF("g")
    val probes = (0L until 2000L).map(i => s"absent_$i").toDF("g")
    for (pieces <- Seq(1, 8)) {
      val keys = members.repartition(pieces)
      // every member passes (bloom admits no false negatives)
      assert(BloomFilterNode.filter(members.repartition(pieces), col("g"), keys)
        .count() == 2000, s"$pieces pieces")
      // non-members mostly fail (10 bits/item -> ~1% fpp; allow 5%)
      val gated = BloomFilterNode.filter(probes.repartition(pieces), col("g"), keys)
      val fp = gated.count()
      assert(fp < 100, s"false-positive count $fp on $pieces pieces")
      // the filter is the plan node, not a UDF
      val plan = gated.queryExecution.executedPlan.toString
      assert(plan.contains("BloomFilter") && !plan.contains("UDF"), plan)
    }
  }

  test("BloomFilterNode: sized by its own count, leaving the session's bloom confs alone") {
    import graft.plans.BloomFilterNode
    // Spark's BloomFilterAggregate clamps to these confs; the node does
    // not read them, so with a tiny clamp a 20k-key filter still gates
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    spark.conf.set(itemsKey, "64")
    spark.conf.set(bitsKey, "512")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probe = new Thread(() => while (!done.get) {
      seen.add((spark.conf.get(itemsKey), spark.conf.get(bitsKey)))
      Thread.sleep(1)
    })
    try {
      probe.start()
      val keys = spark.range(0, 20000).toDF("v")
      val probes = spark.range(100000, 110000).toDF("v")
      val fp = BloomFilterNode.filter(probes, col("v"), keys).count()
      assert(fp < 1000, s"filter saturated: fp=$fp/10000")
      done.set(true)
      probe.join()
      // a concurrent reader of the session saw only the caller's values
      assert(!seen.isEmpty && seen.asScala.toSet == Set(("64", "512")), seen)
    } finally {
      done.set(true)
      spark.conf.unset(itemsKey)
      spark.conf.unset(bitsKey)
    }
  }

  test("BloomFilterNode: an empty keys side passes no row") {
    import graft.plans.BloomFilterNode
    val big = (0L until 100L).map(i => s"gram_$i").toDF("g").repartition(3)
    val none = big.filter(lit(false))
    assert(BloomFilterNode.filter(big, col("g"), none).count() == 0)
  }
}
