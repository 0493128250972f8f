package graft

import org.apache.spark.sql.functions._

/** Round-11 wave: embed-index merge, banded sweep + autoR, uint keys,
  * multi-column list assignment, astype error contract, MG long keys.
  */
class Round32Spec extends SparkSpec {

  test("mergeEmbedIndex ≡ rebuild with the index's frozen modulus") {
    import graft.similarity.Similarity
    val em = Tables.embeddings(spark, sf).limit(400).cache()
    val corpus = em.filter(col("vec_id") % 5 =!= 0)
    val b1 = em.filter(col("vec_id") % 5 === 0)
    val idx = Similarity.embedCellIndex(corpus, tables = 3)
    val c = idx.select(max(col("c"))).collect()(0).getLong(0)
    val merged = Similarity.mergeEmbedIndex(idx, b1)
      .collect().map(_.toSeq).toSet
    // rebuild over corpus ∪ b1 with the SAME frozen modulus — cell
    // assignment must be identical row for row (the merge contract)
    val rebuilt = Similarity.embedCellIndex(
      corpus.unionByName(b1), tables = 3, frozenC = Some(c))
      .collect().map(_.toSeq).toSet
    assert(merged == rebuilt && merged.nonEmpty)
    em.unpersist()
  }

  test("probeEmbedIndex derives table count from the index; empty index fails clearly") {
    import graft.similarity.Similarity
    val em = Tables.embeddings(spark, sf).limit(200).cache()
    val idx2 = Similarity.embedCellIndex(em, tables = 2)
    // exact clones under new ids → all dup, regardless of any caller guess
    val batch = em.withColumn("vec_id", col("vec_id") + lit(10000000L))
    val out = Similarity.probeEmbedIndex(idx2, batch, em, 0.99)
    assert(out.filter(!col("is_dup")).count() == 0L)
    val emptyIdx = idx2.filter(lit(false))
    val ex = intercept[IllegalArgumentException] {
      Similarity.probeEmbedIndex(emptyIdx, batch, em, 0.99)
    }
    assert(ex.getMessage.contains("empty"))
    em.unpersist()
  }

  test("bandedSweep: recall monotone in R, candidates bounded, autoR picks cheapest") {
    import graft.similarity.Similarity
    val em = Tables.embeddings(spark, sf)
    val sweep = Similarity.bandedSweep(em, 0.4, rs = Seq(1, 2, 4),
      cells = Seq(128, 256)).cache()
    val rows = sweep.collect().map(r => (r.getInt(0), r.getInt(1),
      r.getLong(3), r.getDouble(6)))
    assert(rows.length == 6)
    for (cell <- Seq(128, 256)) {
      val byR = rows.filter(_._1 == cell).sortBy(_._2)
      // more tables can only ADD candidates and covered truth pairs
      assert(byR.map(_._3).sliding(2).forall(p => p(0) <= p(1)))
      assert(byR.map(_._4).sliding(2).forall(p => p(0) <= p(1)))
    }
    val minRecall = rows.map(_._4).min
    val (tc, r) = Similarity.autoR(sweep, minRecall)
    // the chosen point meets the target at minimal candidate volume
    val chosen = rows.find(x => x._1 == tc && x._2 == r).get
    assert(chosen._4 >= minRecall)
    assert(rows.filter(_._4 >= minRecall).map(_._3).min == chosen._3)
    val ex = intercept[IllegalArgumentException] {
      Similarity.autoR(sweep, 2.0)
    }
    assert(ex.getMessage.contains("no operating point"))
    sweep.unpersist()
  }

  test("bandedSweep rows ≡ the independent q378/q379 operating-point pipelines") {
    import graft.similarity.Similarity
    val em = Tables.embeddings(spark, sf)
    val sweep = Similarity.bandedSweep(em, 0.4, rs = Seq(1, 4),
      cells = Seq(256)).collect()
      .map(r => r.getInt(1) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // q378: single-table (seed 7) candidates — sweep's (256, R=1) row
    val q378 = SparkEntry.queries("q378_lsh_operating_point")(spark, sf)
      .collect()(0)
    assert(sweep(1) == ((q378.getLong(0), q378.getLong(1), q378.getLong(2))),
      s"R=1 ${sweep(1)} vs q378 $q378")
    // q379: 4-table union — sweep's (256, R=4) row
    val q379 = SparkEntry.queries("q379_lsh_banded_point")(spark, sf)
      .collect()(0)
    assert(sweep(4) == ((q379.getLong(0), q379.getLong(1), q379.getLong(2))),
      s"R=4 ${sweep(4)} vs q379 $q379")
  }

  test("semDedupAuto: sweeps, picks the cheapest point meeting the target, runs banded there") {
    import graft.similarity.Similarity
    val em = Tables.embeddings(spark, sf)
    val sweep = Similarity.bandedSweep(em, 0.4, rs = Seq(1, 2),
      cells = Seq(128, 256))
    val minRecall = sweep.agg(min(col("recall"))).collect()(0).getDouble(0)
    val ((cell, r), kept) = Similarity.semDedupAuto(em, 0.4, minRecall,
      rs = Seq(1, 2), cells = Seq(128, 256))
    assert(Seq(128, 256).contains(cell) && Seq(1, 2).contains(r))
    // the returned frame IS banded-at-the-chosen-point, row for row
    val direct = Similarity.semDedupBanded(em, 0.4, tables = r,
      targetCell = cell).collect().map(_.toSeq).toSet
    assert(kept.collect().map(_.toSeq).toSet == direct)
  }

  test("setItems: simultaneous swap, preserved column order, appended target") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber",
      "l_quantity", "l_extendedprice").limit(50).cache()
    val g = graft.api.GFrame(li).setItems(
      Seq("l_extendedprice", "l_quantity", "qcopy"),
      Seq("l_quantity", "l_extendedprice", "l_quantity"))
    // column order preserved; new target appended last
    assert(g.df.columns.toSeq == Seq("l_orderkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "qcopy"))
    val before = li.collect().map(r => (r.getLong(0), r.getInt(1)) ->
      (r.get(2), r.get(3))).toMap
    g.df.collect().foreach { r =>
      val (q0, e0) = before((r.getLong(0), r.getInt(1)))
      // swap read PRE-assignment values on both sides
      assert(r.get(2) == e0 && r.get(3) == q0 && r.get(4) == q0)
    }
    intercept[IllegalArgumentException] {
      graft.api.GFrame(li).setItems(Seq("a", "a"), Seq("l_quantity", "l_quantity"))
    }
    intercept[IllegalArgumentException] {
      graft.api.GFrame(li).setItems(Seq("a"), Seq("l_quantity", "l_quantity"))
    }
    li.unpersist()
  }

  test("astype error contract: unknown dtype and datetime64[ns] raise (reference sr_astype_invalid.py)") {
    import graft.functions.Casts
    intercept[IllegalArgumentException] { Casts.astype(col("x"), "not_a_dtype") }
    intercept[UnsupportedOperationException] {
      Casts.astype(col("x"), "datetime64[ns]")
    }
    // uint targets WRAP modulo 2^N like numpy astype (then live in the
    // widened signed storage type)
    val r = spark.range(1).select(
      Casts.astype(lit(300), "uint8").as("a"),
      Casts.astype(lit(-1), "uint8").as("b"),
      Casts.astype(lit(70000), "uint16").as("c"),
      Casts.astype(lit(-1L), "uint32").as("d"),
      Casts.astype(lit(-1L), "uint64").cast("string").as("e"),
      Casts.astype(lit("9"), "int64").as("f")).collect()(0)
    assert(r.getShort(0) == 44 && r.getShort(1) == 255)
    assert(r.getInt(2) == 4464)
    assert(r.getLong(3) == 4294967295L)
    assert(r.getString(4) == "18446744073709551615")
    assert(r.getLong(5) == 9L)
    // beyond-long-range inputs (uint64 values held as DECIMAL(20,0))
    // wrap mod 2^N instead of clamping at a long cast, and fractional
    // inputs still truncate toward zero (numpy C-cast semantics)
    val big = new java.math.BigDecimal("18446744073709551615") // 2^64-1
    val r2 = spark.range(1).select(
      Casts.astype(lit(big).cast("decimal(20,0)"), "uint8").as("a"),
      Casts.astype(lit(big).cast("decimal(20,0)"), "uint32").as("b"),
      Casts.astype(lit(300.7), "uint8").as("c"),
      Casts.astype(lit(-300.7), "uint8").as("d")).collect()(0)
    assert(r2.getShort(0) == 255) // (2^64-1) mod 256
    assert(r2.getLong(1) == 4294967295L) // (2^64-1) mod 2^32
    assert(r2.getShort(2) == 44) // trunc(300.7)=300 → 44
    assert(r2.getShort(3) == 212) // trunc(-300.7)=-300 → 256-44
    // values within 5e-7 below an integer must TRUNCATE, not round up:
    // a decimal(38,6) carrier cast HALF_UP-rounded 255.9999999 → 256 →
    // wrapped to 0 (r12 review finding); numpy's C cast gives 255
    val r3 = spark.range(1).select(
      Casts.astype(lit(255.9999999), "uint8").as("a"),
      Casts.astype(lit(0.9999995), "uint8").as("b"),
      Casts.astype(lit(-0.9999995), "uint8").as("c")).collect()(0)
    assert(r3.getShort(0) == 255)
    assert(r3.getShort(1) == 0)
    assert(r3.getShort(2) == 0) // trunc(-0.9999995) = 0
    // 'uint' dtype alias ≡ uint64 (reference types.py:207)
    assert(graft.Types.sparkTypeOf("uint") ==
      org.apache.spark.sql.types.DecimalType(20, 0))
  }

  test("heavy hitters: prefit sketch ≡ refit; stale-superset sketch stays exact via fallback") {
    import graft.functions.MisraGries
    import MisraGriesExprSpec.{exactTopK, fitAndCertify, rows}
    val words = Tables.documents(spark, sf)
      .select(explode(filter(split(col("text"), " "), w => w =!= ""))
        .as("word")).cache()
    val items = array(col("word"))
    val exact = exactTopK(words, 10)
    val refit = fitAndCertify(words, items, 10, 512)
    graft.tools.Staging.withRunDir("mg_sketch_spec") { dir =>
      val path = s"$dir/sketch"
      MisraGries.fitSketch(words, items, 512)
        .write.mode("overwrite").parquet(path)
      def prefit(d: org.apache.spark.sql.DataFrame) =
        rows(MisraGries.topKFrequent(d, items, 10,
          MisraGries.sketchRow(spark.read.parquet(path))))
      assert(prefit(words) == exact && refit == exact && exact.length == 10)
      // a sketch whose candidate list misses the heavy items cannot
      // certify (kth exact count vs N/(k+1) threshold) — the call must
      // fall back to the full exact aggregation, not return wrong rows
      val bogus = (Array("zzz_not_a_word"), 1000000000L, 512)
      assert(rows(MisraGries.topKFrequent(words, items, 10, bogus)) == exact)
      // GROWN corpus: the sketch predates a brand-new heavy word. The
      // stale fit-time threshold would certify a wrong answer; the
      // current-total-aware certification (bound = n_sketch/(k+1) +
      // growth) must fall back to the exact aggregation instead.
      import spark.implicits._
      val grown = words.unionByName(
        Seq.fill(3000)("zzznewheavy").toDF("word"))
      val exactGrown = exactTopK(grown, 10)
      assert(exactGrown.exists(_._1 == "zzznewheavy"))
      assert(prefit(grown) == exactGrown,
        "stale sketch on a grown corpus returned a wrong top-k")
      // SHRUNK corpus: nNow < nSketch proves the append-only precondition
      // was violated — certification must refuse and fall back to exact,
      // regardless of how healthy the candidate counts look.
      val shrunk = words.limit(words.count().toInt / 2)
      assert(prefit(shrunk) == exactTopK(shrunk, 10),
        "shrunk corpus must force the exact fallback")
    }
    words.unpersist()
  }

  test("read_csv contract: index_col by position ≡ by name; errors raise eagerly (read_csv_errors.py)") {
    import graft.io.CsvPandas
    val path = graft.tools.Staging.dir("csv_idx_spec", sf)
    Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double"))
      .limit(100).write.mode("overwrite").option("header", "false").csv(path)
    val names = Seq("okey", "line", "qty")
    val opts = CsvPandas.ReadOptions(header = false, names = names,
      schema = Some(CsvPandas.dtypeSchema(names,
        Map("okey" -> "int64", "line" -> "int32", "qty" -> "float64"))))
    val byPos = CsvPandas.readIndexed(spark, path, opts, Seq(1, 0))
    val byName = CsvPandas.readIndexed(spark, path, opts, Seq("line", "okey"))
    assert(byPos.index == Seq("line", "okey") && byName.index == byPos.index)
    assert(byPos.df.collect().map(_.toSeq).toSet ==
      byName.df.collect().map(_.toSeq).toSet)
    // eager error contract
    intercept[IllegalArgumentException] {
      CsvPandas.read(spark, path, CsvPandas.ReadOptions(sep = "ab"))
    }
    intercept[IllegalArgumentException] { // dtype map missing a name
      CsvPandas.dtypeSchema(Seq("a", "b"), Map("a" -> "float64"))
    }
    intercept[IllegalArgumentException] { // unknown dtype name
      CsvPandas.dtypeSchema(Seq("a", "b"),
        Map("a" -> "float64", "b" -> "flt"))
    }
    intercept[IllegalArgumentException] { // out-of-range position
      CsvPandas.readIndexed(spark, path, opts, Seq(9))
    }
    intercept[IllegalArgumentException] { // unknown name
      CsvPandas.readIndexed(spark, path, opts, Seq("nope"))
    }
  }

  test("mg() survives items longer than 65535 UTF-8 bytes at shuffle time") {
    import spark.implicits._
    val big = "x" * 70000
    val items = (Seq.fill(40)(big) ++ Seq.fill(25)("y") ++
      (1 to 35).map(i => s"z$i")).toDF("item").repartition(4)
    val cand = items.agg(graft.functions.MisraGriesExpr(2)(array(col("item"))).as("s"))
      .select("s.cand").collect()(0).getSeq[String](0)
    // the 70000-byte key is a true heavy hitter — it must survive
    // serialize/merge across partitions and come back intact
    assert(cand.contains(big))
  }
}
