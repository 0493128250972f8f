package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** 10x scale-up smoke: time the heavy headline queries on the
  * StageSf-replicated corpus (under Staging.root, never touching the
  * oracle testdata). Proves the plans scale with data volume, not just
  * pass at gate SF.
  *
  * Usage: ScaleSmoke [mult]   (default 10; 100 runs the bounded tier),
  * over StageSf.sourceDir.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(master = "local[32]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val src = StageSf.sourceDir
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    if (mult == 100) { boundedTier(spark, src); spark.stop(); return }
    val out = StageSf.stage(spark, src, mult)

    val names = Seq("q54_ngram_jaccard", "q55_minhash_lsh", "q102_curation_pipeline",
      "q87_etl_pipeline", "q46_cumsum_global", "q97_group_topk", "q88_embed_centroid",
      "q58_ann_brute", "q114_dedup_clusters", "q57_cosine_pairs",
      "q145_fingerprint", "q146_embed_dedup",
      // round 6 (documents-based; events queries need the nanos read
      // path the derived dir doesn't reproduce, and q165's streaming
      // stage expects a single-file corpus)
      "q160_repetition_filter", "q166_minhash_dedup", "q169_substring_dup",
      // round 9: BPE encode is scan-stage linear; runs with the frozen table
      "q217_bpe_tokenize",
      // round 16: bigram-LM fluency — two bucket-table passes + one
      // scan-stage scoring fold, all linear
      "q260_bigram_lm",
      // final-session waves: token-domain ops (documents grow 10×;
      // vocab per source grows with the corpus), part/orders ops
      "q327_kmv_setops", "q340_lexical_richness", "q341_zipf_slope",
      "q339_ntile_quartiles", "q337_reservoir_sample",
      "q322_fuzzy_editdist", "q334_jaro_winkler")
    val qmap = SparkEntry.queries
    names.foreach { n => try qmap(n)(spark, out).count() catch { case _: Throwable => } } // warm
    val results = names.map { n =>
      val t0 = System.nanoTime()
      val rows = try qmap(n)(spark, out).count() catch { case e: Throwable =>
        println(s"FAILED $n: ${e.getMessage}"); -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"$n: $dt%.2fs rows=$rows")
      n -> dt
    }

    // events-based operators: the parquet staging can't reproduce the
    // nanos read path, so build the 10× stream in memory (shifted
    // copies, ts pushed by k days to keep day/session structure) and
    // time the operator code directly.
    val ev1 = Tables.events(spark, src).select("event_id", "ts", "user_id",
      "event_type", "value")
    val ev10 = (0 until mult).map { k =>
      ev1.withColumn("event_id", col("event_id") + lit(k * 10000000L))
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${k * 31} DAYS"))
    }.reduce(_.unionByName(_)).cache()
    ev10.count()
    val opSmokes: Seq[(String, () => Long)] = Seq(
      "op_rolling_global" -> (() =>
        graft.operators.RollingGlobal.trailing(ev10, Seq("ts", "event_id"),
          "value", 5, "r").count()),
      "op_range_join" -> (() => {
        val clicks = ev10.filter(col("event_type") === "click")
          .select(col("user_id"), unix_micros(col("ts")).as("t"))
        val purchases = ev10.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            (unix_micros(col("ts")) - 600000000L).as("lo"),
            unix_micros(col("ts")).as("hi"))
        graft.operators.RangeJoin.binned(clicks, purchases, Seq("user_id"),
          "t", "lo", "hi", width = 600000000L).count()
      }),
      "op_session_window" -> (() =>
        ev10.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1))).count()),
      // SemDeDup at scale: k grows with the corpus (cell size constant —
      // the paper's operating point and the reason pair work stays
      // linear). The frozen k=8 q216 model is the GATE configuration;
      // here we refit k=8×mult on the scaled corpus, so this times the
      // real 10× deployment shape: fit-on-sample + assign + in-cell
      // pairs.
      "op_semdedup_scaledk" -> (() => {
        val e10 = Tables.embeddings(spark, out)
        val model = graft.similarity.IVF.fit(e10, 8 * mult, seed = 42L)
        graft.similarity.Similarity.semDedup(e10, model, 0.4).count()
      }),
      // The GATED scale-safe path (q373): cell count auto-derives from
      // the corpus count, so this times exactly the code the oracle
      // checks — no refit, one count + scan-stage cell hash + in-cell
      // pairs.
      "op_semdedup_gated" -> (() =>
        graft.similarity.Similarity
          .semDedupScaled(Tables.embeddings(spark, out), 0.4).count()),
      // graph ops at 10× EDGES: disjoint prefixed copies of the trade
      // graph (vertex AND edge count scale together; per-iteration cost
      // is one join + one partial-agg groupBy over the edge list)
      "op_pagerank" -> (() => {
        val e1 = graft.operators.PageRank.tradeEdges(spark, src)
        val eN = (0 until mult).map(k =>
          e1.select(concat(lit(s"k$k"), col("cust")).as("cust"),
            concat(lit(s"k$k"), col("supp")).as("supp")))
          .reduce(_.unionByName(_))
        graft.operators.PageRank.run(eN, "cust", "supp", iters = 3).count()
      }),
      "op_label_prop" -> (() => {
        val e1 = graft.operators.PageRank.tradeEdges(spark, src)
        val eN = (0 until mult).map(k =>
          e1.select(concat(lit(s"k$k"), col("cust")).as("cust"),
            concat(lit(s"k$k"), col("supp")).as("supp")))
          .reduce(_.unionByName(_))
        graft.operators.LabelProp.run(eN, "cust", "supp", iters = 2).count()
      }),
      "op_hits" -> (() => {
        val e1 = graft.operators.PageRank.tradeEdges(spark, src)
        val eN = (0 until mult).map(k =>
          e1.select(concat(lit(s"k$k"), col("cust")).as("cust"),
            concat(lit(s"k$k"), col("supp")).as("supp")))
          .reduce(_.unionByName(_))
        graft.operators.Hits.run(eN, "cust", "supp", iters = 2).count()
      }),
      // cross-source vocab overlap on the staged 10× docs (inverted-
      // index self-join; word domain grows with the corpus)
      "op_source_overlap" -> (() =>
        SparkEntry.queries("q299_source_overlap")(spark, out).count()),
      // triangle counting at 10× EDGES: disjoint part-key-shifted
      // copies of the co-purchase graph (vertices and edges both 10×;
      // wedge work scales with Σ outdeg², kept linear-ish by degree
      // orientation)
      "op_triangles" -> (() => {
        val li = Tables.lineitem(spark, src)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val und1 = li.as("x").join(li.as("y"),
            col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("a"), col("y.pk").as("b")).distinct()
        val undN = (0 until mult).map(k =>
          und1.select((col("a") + lit(k * 10000000L)).as("a"),
            (col("b") + lit(k * 10000000L)).as("b")))
          .reduce(_.unionByName(_))
        graft.operators.Triangles.count(undN).count()
      }),
      // CUSUM over the 10× stream (day domain grows 10× via the
      // 31-day copy shifts — the bounded self-join is quadratic in
      // DAYS per group, still tiny)
      "op_cusum" -> (() => {
        val daily = ev10.filter(col("value").isNotNull)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            graft.operators.Stats.vr(col("value")).as("vr"))
          .groupBy("event_type", "day")
          .agg(sum(col("vr")).cast("decimal(18,6)").as("x"))
        graft.operators.Stats.cusumChangepoint(daily, "event_type", "day", "x")
          .count()
      }),
      // linear attribution over the 10× stream (user-keyed touch join)
      "op_attribution" -> (() => {
        val ev = ev10.select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"), col("event_id"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("t").as("pt"), col("event_id").as("pid"))
        val touch = ev.filter(col("event_type").isin("click", "view", "signup"))
          .select(col("user_id"), col("event_type").as("channel"), col("t").as("tt"))
        val j = purch.join(touch, Seq("user_id"))
          .filter(col("tt") < col("pt")
            && col("tt") >= col("pt") - lit(7L * 86400000000L))
        val perPc = j.groupBy("pid", "channel").agg(count(lit(1)).as("c"))
        val perP = j.groupBy("pid").agg(count(lit(1)).as("nt"))
        perPc.join(perP, Seq("pid")).groupBy("channel")
          .agg(count(lit(1))).count()
      }),
      // event-sequence ops over the 10× stream
      "op_transitions" -> (() => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        ev10.select(col("user_id"), col("event_type").as("src"),
            col("ts"), col("event_id"))
          .withColumn("dst", lead(col("src"), 1).over(w))
          .filter(col("dst").isNotNull)
          .groupBy("src", "dst").agg(count(lit(1))).count()
      }))
    val opResults = opSmokes.map { case (n, f) =>
      val t0 = System.nanoTime()
      val rows = try f() catch { case e: Throwable =>
        println(s"FAILED $n: ${e.getMessage}"); -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"$n: $dt%.2fs rows=$rows")
      n -> dt
    }
    println(f"TOTAL: ${(results ++ opResults).map(_._2).sum}%.2fs")
    spark.stop()
  }

  /** Salted-corpus staging for the bounded tier.
    * Salting v2 (round 7): the tag is ALSO inserted every 8 chars
    * inside long tokens, so no char-20-gram window is salt-free — v1's
    * word-suffix-only salting let grams inside >20-char tokens collide
    * ACROSS copies, which made the char-gram ops (q169/q198) quadratic
    * in copies: a harness artifact, not operator behavior (word-shingle
    * ops were immune — every 3-word shingle carries a salt). Intra-copy
    * duplication structure is untouched (the same rewrite is applied to
    * every doc in a copy).
    */
  def stageSalted(spark: SparkSession, src: String, mult: Int): String = {
    val p = s"${Staging.root}/docs_salted_$mult"
    if (!new java.io.File(s"$p/documents.parquet").exists()) {
      val docs = Tables.documents(spark, src)
      val copies = (0 until mult).map { k =>
        docs.withColumn("doc_id", col("doc_id") + lit(k * 1000000L))
          .withColumn("text", array_join(
            transform(split(col("text"), " "), w =>
              concat(regexp_replace(w, "(.{8})", "$1_" + k), lit("_" + k))),
            " "))
      }
      copies.reduce(_.unionByName(_)).repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(s"$p/documents.parquet")
    }
    p
  }

  /** 100× tier — BOUNDED operators only (`ScaleSmoke 100`). The 10×
    * tier replicates docs verbatim, which multiplies near-dup DENSITY
    * as well as volume: every clone pair is a true near-duplicate, so
    * even output-bounded operators emit quadratically more pairs as
    * the clone count rises — that measures the metric's growth, not
    * the plan's. Here each copy's vocabulary is salted (`word_k`):
    * intra-copy shingle structure is preserved exactly (shingle sets
    * are isomorphic under the suffix map), copies are pairwise
    * disjoint, so duplication density stays CONSTANT while volume
    * scales 100× — the honest scaling experiment for the LSH/banded
    * paths. Compare per-op times against the same-construction 10×
    * run this tier prints first.
    */
  private def boundedTier(spark: SparkSession, src: String): Unit = {
    def stage(mult: Int): String = stageSalted(spark, src, mult)
    val qmap = SparkEntry.queries
    // q169 (w=1 exhaustive index) is NOT in the default tier: a single
    // 100×-salted execution spills >70 GB — beyond this harness's disk.
    // Its bounded twin q198 (w=8 winnow sampling) takes its slot;
    // select q169 explicitly via SPARK_GRAFT_SMOKE_NAMES to reproduce.
    val all = Seq("q55_minhash_lsh", "q138_neardup_prefix", "q166_minhash_dedup",
      "q54_ngram_jaccard", "q198_substring_dup_winnowed", "q194_incremental_dedup",
      // BPE encode: linear scan path; the salt multiplies the VOCAB 100×
      // (each copy's words are distinct), so this also stresses the
      // per-partition word cache under vocabulary growth.
      "q217_bpe_tokenize",
      // round-12 wave ops: containment pairs (inverted-index, same
      // family as q54), CDC + sliding chunking (pure scan kernels; the
      // CDC dedup's group key is the chunk hash — salt-disjoint copies
      // keep the duplicated-chunk density constant), and the
      // exact-quantile length filter (bisection count passes).
      "q409_containment_dup", "q415_cdc_chunking", "q416_cdc_dedup",
      "q406_chunk_overlap", "q405_length_filter",
      // round-12 wave 10/11: span report + removal (gram hash-agg +
      // join-back; salt-disjoint copies keep the duplicated-gram
      // density constant so both stay ∝ tokens), the one-pass lexicon
      // matcher (pure scan; salted words make every count 0 — the scan
      // is what's timed), and the epoch-shuffle rank (3 bounded
      // exchanges ∝ docs)
      "q424_dup_span_report", "q429_dup_span_removal",
      "q426_blocklist_phrases", "q427_epoch_shuffle",
      // wave 12: the gram-index append loop (build+probe / build+merge
      // on the salted corpus; index rows ∝ distinct grams)
      "q431_gram_index_probe", "q432_gram_index_merge",
      // round-13 wave: NB fit+score (vocab×class table ∝ salted vocab),
      // novelty join, CDC upsert (one full-outer join), PSI (two
      // histogram passes), temperature sampler (positions spine +
      // bucketed ranks), shard manifest (bucketed rank + shard agg)
      "q437_naive_bayes_lang", "q439_ngram_novelty", "q442_cdc_upsert",
      "q447_psi_drift", "q449_temperature_sampler", "q450_shard_manifest")
    val bounded = sys.env.get("SPARK_GRAFT_SMOKE_NAMES")
      .map(_.split(",").toSeq).getOrElse(all)
    // Shuffle files live until their shuffle dependency is GC'd
    // (ContextCleaner): a 12-query tier in ONE context accumulates
    // every query's spill on disk. Drop caches + force GC between
    // queries so the cleaner reclaims the previous query's shuffles.
    def reclaim(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.sqlContext.clearCache()
      System.gc()
      Thread.sleep(500) // let the async cleaner delete files
    }
    val times = collection.mutable.Map[(String, Int), Double]()
    Seq(10, 100).foreach { m =>
      val dir = stage(m)
      bounded.foreach { n => // warm then time
        reclaim()
        try qmap(n)(spark, dir).count() catch { case _: Throwable => }
        val t0 = System.nanoTime()
        val rows = try qmap(n)(spark, dir).count() catch { case e: Throwable =>
          println(s"FAILED $n@$m: ${e.getMessage}"); -1L }
        val dt = (System.nanoTime() - t0) / 1e9
        times((n, m)) = dt
        println(f"$n@${m}x: $dt%.2fs rows=$rows")
      }
    }
    // events-based bounded ops: 10× vs 100× in-memory replication
    def evTimes(m: Int): Seq[(String, Double)] = {
      val ev1 = Tables.events(spark, src).select("event_id", "ts", "user_id",
        "event_type", "value")
      val ev = (0 until m).map { k =>
        ev1.withColumn("event_id", col("event_id") + lit(k * 10000000L))
          .withColumn("ts", col("ts") + expr(s"INTERVAL ${k * 31} DAYS"))
      }.reduce(_.unionByName(_)).cache()
      ev.count()
      val ops: Seq[(String, () => Long)] = Seq(
        "op_rolling_global" -> (() =>
          graft.operators.RollingGlobal.trailing(ev, Seq("ts", "event_id"),
            "value", 5, "r").count()),
        "op_range_join" -> (() => {
          val clicks = ev.filter(col("event_type") === "click")
            .select(col("user_id"), unix_micros(col("ts")).as("t"))
          val purchases = ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"),
              (unix_micros(col("ts")) - 600000000L).as("lo"),
              unix_micros(col("ts")).as("hi"))
          graft.operators.RangeJoin.binned(clicks, purchases, Seq("user_id"),
            "t", "lo", "hi", width = 600000000L).count()
        }))
      val r = ops.map { case (n, f) =>
        try f() catch { case _: Throwable => } // warm
        val t0 = System.nanoTime()
        val rows = try f() catch { case e: Throwable =>
          println(s"FAILED $n@$m: ${e.getMessage}"); -1L }
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"$n@${m}x: $dt%.2fs rows=$rows")
        n -> dt
      }
      ev.unpersist()
      r
    }
    val ev10 = evTimes(10)
    val ev100 = evTimes(100)

    // SemDeDup bounded tier: replicating embeddings VERBATIM (the 10×
    // tier's staging) makes every clone pair an exact semantic dup —
    // quadratic pair density inside clone cells, a harness artifact.
    // Here each copy gets a copy-specific ORTHOGONAL transform (cyclic
    // dimension shift + hash-derived ±1 diagonal): within-copy cosines
    // are preserved EXACTLY (orthogonal maps preserve inner products
    // and norms), while cross-copy cosines are generic-small, so
    // duplication density stays constant as volume scales — the same
    // construction idea as the salted-vocabulary document tier.  k
    // grows with the corpus (8×mult — constant cell size, the paper's
    // operating point), so this times fit + assign + in-cell pairs at
    // true 10×/100× deployment shape.
    def stageEmb(m: Int): String = {
      val p = s"${Staging.root}/emb_rot_$m"
      if (!new java.io.File(s"$p/embeddings.parquet").exists()) {
        val e1 = Tables.embeddings(spark, src)
        val dim = 64
        val copies = (0 until m).map { k =>
          val shift = k % dim
          val signs = Array.tabulate(dim)(j =>
            if ((((k * 2654435761L + j * 40503L) >> 16) & 1L) == 0L) 1.0f else -1.0f)
          val shifted =
            if (shift == 0) col("embedding")
            else concat(slice(col("embedding"), shift + 1, dim - shift),
              slice(col("embedding"), 1, shift))
          e1.withColumn("vec_id", col("vec_id") + lit(k * 1000000L))
            .withColumn("embedding",
              zip_with(shifted, typedlit(signs), (a, b) => a * b))
        }
        copies.reduce(_.unionByName(_)).repartition(32)
          .write.mode(SaveMode.Overwrite).parquet(s"$p/embeddings.parquet")
      }
      p
    }
    val semTimes = Seq(10, 100).map { m =>
      reclaim()
      val dir = stageEmb(m)
      val f = () => {
        val em = Tables.embeddings(spark, dir)
        val model = graft.similarity.IVF.fit(em, 8 * m, seed = 42L)
        graft.similarity.Similarity.semDedup(em, model, 0.4).count()
      }
      try f() catch { case _: Throwable => } // warm
      val t0 = System.nanoTime()
      val rows = try f() catch { case e: Throwable =>
        println(s"FAILED op_semdedup_rotated@$m: ${e.getMessage}"); -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"op_semdedup_rotated@${m}x: $dt%.2fs rows=$rows")
      m -> dt
    }.toMap
    // GATED scale-safe path (q373): cells auto-derive from count — the
    // exact code the oracle checks, timed at 10×/100×.
    val semGatedTimes = Seq(10, 100).map { m =>
      reclaim()
      val dir = stageEmb(m)
      val f = () => graft.similarity.Similarity
        .semDedupScaled(Tables.embeddings(spark, dir), 0.4).count()
      try f() catch { case _: Throwable => } // warm
      val t0 = System.nanoTime()
      val rows = try f() catch { case e: Throwable =>
        println(s"FAILED op_semdedup_gated@$m: ${e.getMessage}"); -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"op_semdedup_gated@${m}x: $dt%.2fs rows=$rows")
      m -> dt
    }.toMap
    // Banded R=4 (q380 path): candidate volume ~4×, still linear in n.
    val semBandedTimes = Seq(10, 100).map { m =>
      reclaim()
      val dir = stageEmb(m)
      val f = () => graft.similarity.Similarity
        .semDedupBanded(Tables.embeddings(spark, dir), 0.4).count()
      try f() catch { case _: Throwable => } // warm
      val t0 = System.nanoTime()
      val rows = try f() catch { case e: Throwable =>
        println(s"FAILED op_semdedup_banded@$m: ${e.getMessage}"); -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"op_semdedup_banded@${m}x: $dt%.2fs rows=$rows")
      m -> dt
    }.toMap

    // IVFPQ bounded tier (round 12): encode is volume-linear (scan
    // stage); search candidates grow linearly with the corpus at a
    // fixed query count (probes cover a constant cell fraction). The
    // rotated-copy staging reuses stageEmb — orthogonal maps preserve
    // L2, so code distortion per copy matches the base corpus.
    val pqm = graft.similarity.PQ.Model(graft.similarity.PQCodebooks.pretrained)
    val cm = graft.similarity.IVF.Model(graft.similarity.IVFCentroids.pretrained)
    val pqTimes = Seq(10, 100).map { m =>
      reclaim()
      val dir = stageEmb(m)
      val f = () => {
        val em = Tables.embeddings(spark, dir)
        em.select(col("vec_id"), pqm.encode(col("embedding")).as("codes")).count() +
          graft.similarity.PQ.ivfPqTopK(
            em.filter(col("vec_id") < 16), em, cm, pqm, 5, 4).count()
      }
      try f() catch { case _: Throwable => } // warm
      val t0 = System.nanoTime()
      val rows = try f() catch { case e: Throwable =>
        println(s"FAILED op_ivfpq@$m: ${e.getMessage}"); -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"op_ivfpq@${m}x: $dt%.2fs rows=$rows")
      m -> dt
    }.toMap

    // BM25 bounded tier: tokenize-once + stats + score are all linear
    // scans of the salted docs (term tfs only survive in copy 0 — the
    // cost is tokenization, which the salt doesn't change).
    val bmTimes = Seq(10, 100).map { m =>
      reclaim()
      val dir = stage(m)
      // topK caches + unpersists its counts table per call, so every
      // timed pass pays the full corpus scan — no clearCache needed.
      // (The salted vocabulary also zeroes every tf — rows=0 — which is
      // fine: the cost under test is tokenize + stats + score.)
      val f = () => {
        graft.text.Bm25.topK(Tables.documents(spark, dir),
          "doc_id", "text", Seq("spark", "join", "window", "hash"), 20).count()
      }
      try f() catch { case _: Throwable => } // warm
      val t0 = System.nanoTime()
      val rows = try f() catch { case e: Throwable =>
        println(s"FAILED op_bm25@$m: ${e.getMessage}"); -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"op_bm25@${m}x: $dt%.2fs rows=$rows")
      m -> dt
    }.toMap

    // Embed-index MERGE loop (q384's probe->accept->merge->re-probe) at
    // the rotated tiers — the 100 TB incremental-curation contract with
    // the index actually PERSISTED: built+written once (untimed, like
    // the one-off corpus indexing), then the timed loop reads it from
    // parquet, probes batch 1, merges the accepted vectors (append-
    // write of their R index rows), and re-probes batch 2 against the
    // merged files. Candidate volume is linear in batch x cell size;
    // the merge write is sized by the ACCEPTED batch, not the corpus.
    val mergeTimes = Seq(10, 100).map { m =>
      reclaim()
      val dir = stageEmb(m)
      val idxDir = s"${Staging.root}/emb_idx_$m"
      val em = Tables.embeddings(spark, dir)
      val corpus = em.filter(col("vec_id") % 89 >= 2)
      val b1 = em.filter(col("vec_id") % 89 === 0)
      val b2 = em.filter(col("vec_id") % 89 === 1)
      graft.similarity.Similarity.embedCellIndex(corpus, tables = 4)
        .write.mode(SaveMode.Overwrite).parquet(s"$idxDir/base")
      val f = () => {
        spark.sparkContext.setJobGroup("merge", "merge")
        val idx = spark.read.parquet(s"$idxDir/base")
        val p1 = graft.similarity.Similarity.probeEmbedIndex(idx, b1, corpus, 0.4)
        val acc = b1.join(p1.filter(!col("is_dup"))
          .select(col("new_id").as("vec_id")), Seq("vec_id"), "left_semi")
        graft.similarity.Similarity.mergeEmbedIndex(idx, acc)
          .write.mode(SaveMode.Overwrite).parquet(s"$idxDir/merged")
        val merged = spark.read.parquet(s"$idxDir/merged")
        graft.similarity.Similarity
          .probeEmbedIndex(merged, b2, corpus.unionByName(acc), 0.4).count()
      }
      try f() catch { case _: Throwable => } // warm
      val t0 = System.nanoTime()
      val rows = try f() catch { case e: Throwable =>
        println(s"FAILED op_embed_index_merge@$m: ${e.getMessage}"); -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"op_embed_index_merge@${m}x: $dt%.2fs rows=$rows")
      m -> dt
    }.toMap

    println("== scaling factors (100x time / 10x time; data grew 10x) ==")
    bounded.foreach { n =>
      println(f"$n: ${times((n, 100)) / times((n, 10))}%.1fx")
    }
    ev10.zip(ev100).foreach { case ((n, a), (_, b)) =>
      println(f"$n: ${b / a}%.1fx")
    }
    println(f"op_semdedup_rotated: ${semTimes(100) / semTimes(10)}%.1fx")
    println(f"op_semdedup_gated: ${semGatedTimes(100) / semGatedTimes(10)}%.1fx")
    println(f"op_semdedup_banded: ${semBandedTimes(100) / semBandedTimes(10)}%.1fx")
    println(f"op_ivfpq: ${pqTimes(100) / pqTimes(10)}%.1fx")
    println(f"op_bm25: ${bmTimes(100) / bmTimes(10)}%.1fx")
    println(f"op_embed_index_merge: ${mergeTimes(100) / mergeTimes(10)}%.1fx")
  }
}
