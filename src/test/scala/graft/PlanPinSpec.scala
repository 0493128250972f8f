package graft

import org.apache.spark.sql.functions._

/** Plan-regression pins for the Bench headline set (VERDICT r9 item 7):
  * the PLANS.md claims, asserted. A change that adds an Exchange, drops
  * a broadcast, or degrades a join to cartesian now fails CI instead of
  * surfacing as a bench regression a round later.
  *
  * Counts are substring occurrences in the executed-plan string (the
  * PLANS.md audit tables); they were measured identical at
  * sf0.001 and sf0.01, so the pins are SF-stable. ALL 30 headline
  * queries are covered (r11): lazily-returned plans through the `pins`
  * table and the q263 test; eager-construction queries (q232/q249/q373
  * — whose corpus plans only exist during construction) through
  * QueryExecutionListener capture in the dedicated tests below.
  */
class PlanPinSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def count(plan: String, marker: String): Int =
    plan.sliding(marker.length).count(_ == marker)

  private case class Pin(name: String, exact: Map[String, Int] = Map(),
                         atMost: Map[String, Int] = Map(),
                         contains: Seq[String] = Seq())

  private val HASH = "Exchange hashpartitioning"
  private val RANGE = "Exchange rangepartitioning"
  private val BHJ = "BroadcastHashJoin"
  private val SMJ = "SortMergeJoin"
  private val BNLJ = "BroadcastNestedLoopJoin"
  private val CART = "CartesianProduct"
  private val TOP = "TakeOrderedAndProject"

  private val pins = Seq(
    // one hash-agg exchange, no joins
    Pin("q01_agg_sum", exact = Map(HASH -> 1, BHJ -> 0, SMJ -> 0, CART -> 0)),
    // single broadcast join, never a shuffle join at gate SF
    Pin("q06_join_inner", exact = Map(BHJ -> 1, SMJ -> 0, CART -> 0)),
    Pin("q102_curation_pipeline", exact = Map(SMJ -> 0, CART -> 0),
      atMost = Map(HASH -> 2)),
    // THE pin from the verdict: 3-dimension broadcast star — removing a
    // broadcast() hint fails here
    Pin("q12_star_broadcast",
      exact = Map(BHJ -> 3, "BroadcastExchange" -> 3, SMJ -> 0, CART -> 0),
      atMost = Map(HASH -> 1)),
    // top-k is TakeOrderedAndProject with NO exchange and no global sort
    Pin("q14_topk", exact = Map(TOP -> 1, HASH -> 0, RANGE -> 0)),
    // the whole pipeline is one lazy plan: the LSH pair derivation (two
    // hash exchanges) under one Components node, joined back to docs
    Pin("q166_minhash_dedup", exact = Map(CART -> 0, "Components" -> 1),
      atMost = Map(HASH -> 4, SMJ -> 1)),
    // r12 shape: fact scanned ONCE, pair-min via window (its hash
    // exchange is the only fact shuffle), 3 broadcast dims, no
    // self-join and no SMJ anywhere
    Pin("q203_tpch_q9", exact = Map(BHJ -> 3, CART -> 0, SMJ -> 0),
      atMost = Map(HASH -> 3)),
    // r12 fused rewrite: the election carries chunk text, so the only
    // join left is the 1-row-per-doc assembly join (explode runs once)
    Pin("q213_chunk_dedup", exact = Map(BHJ -> 1, SMJ -> 0, CART -> 0),
      atMost = Map(HASH -> 3)),
    // r10 shape: (vec_id, cell)-only pair join + by-id embedding fetch
    // for candidates — embeddings never ride the self-join (3.4× at
    // sf0.1: 0.61→0.18s)
    Pin("q216_semdedup", exact = Map(CART -> 0),
      atMost = Map(BHJ -> 3, SMJ -> 1, HASH -> 2)),
    Pin("q221_decontaminate", exact = Map(BHJ -> 2, SMJ -> 0, CART -> 0),
      atMost = Map(HASH -> 3)),
    Pin("q230_rank_methods", exact = Map(BHJ -> 1, SMJ -> 0, CART -> 0),
      atMost = Map(HASH -> 7, RANGE -> 6)),
    Pin("q239_ann_ivfpq", exact = Map(BHJ -> 1, SMJ -> 0, CART -> 0),
      atMost = Map(HASH -> 1)),
    // two-phase distributed scan: range exchanges bounded, no join
    Pin("q46_cumsum_global", exact = Map(BHJ -> 0, SMJ -> 0, CART -> 0),
      atMost = Map(HASH -> 1, RANGE -> 2)),
    Pin("q54_ngram_jaccard", exact = Map(BHJ -> 2, SMJ -> 0, CART -> 0),
      atMost = Map(HASH -> 2)),
    Pin("q55_minhash_lsh", exact = Map(BHJ -> 2, SMJ -> 0, CART -> 0),
      atMost = Map(HASH -> 2)),
    // tiled kernel: NO pair join of any kind in the plan
    Pin("q57_cosine_pairs",
      exact = Map(HASH -> 1, BHJ -> 0, SMJ -> 0, BNLJ -> 0, CART -> 0)),
    // brute-force ANN broadcasts the bounded query side — never cartesian
    Pin("q58_ann_brute", exact = Map(BNLJ -> 1, CART -> 0),
      atMost = Map(HASH -> 1)),
    Pin("q70_gframe_pipeline", exact = Map(TOP -> 1, BHJ -> 1, SMJ -> 0),
      atMost = Map(HASH -> 1)),
    Pin("q87_etl_pipeline", exact = Map(BHJ -> 2, SMJ -> 0, CART -> 0),
      atMost = Map(HASH -> 2)),
    Pin("q88_embed_centroid",
      exact = Map(HASH -> 1, BHJ -> 0, SMJ -> 0, CART -> 0)),
    // GroupTopK partial heaps below the single exchange
    Pin("q97_group_topk", exact = Map(HASH -> 1, SMJ -> 0, CART -> 0),
      contains = Seq("GroupTopK")),
    // scan-stage text kernels: zero exchanges, zero joins
    Pin("q217_bpe_tokenize",
      exact = Map(HASH -> 0, RANGE -> 0, BHJ -> 0, SMJ -> 0, CART -> 0)),
    Pin("q50_text_stats",
      exact = Map(HASH -> 0, RANGE -> 0, BHJ -> 0, SMJ -> 0, CART -> 0)),
    // frozen-model scan-stage headliners (r11): the RETURNED plan is one
    // codegen'd scan — zero exchanges, zero joins (model literals ride
    // the closure, never a join side)
    Pin("q238_pq_encode",
      exact = Map(HASH -> 0, RANGE -> 0, BHJ -> 0, SMJ -> 0, CART -> 0)),
    Pin("q261_quality_classifier",
      exact = Map(HASH -> 0, RANGE -> 0, BHJ -> 0, SMJ -> 0, CART -> 0)),
    // q260's scoring pass (model tables already collected at
    // construction — the two counting passes are pinned separately in
    // the eager-construction test below)
    Pin("q260_bigram_lm",
      exact = Map(HASH -> 0, RANGE -> 0, BHJ -> 0, SMJ -> 0, CART -> 0)))

  test("headline plans keep their pinned shapes") {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    for (p <- pins) {
      val plan =
        try planOf(p.name)
        catch { case e: Throwable =>
          failures += s"${p.name}: plan build failed: ${e.getMessage}"; ""
        }
      if (plan.nonEmpty) {
        for ((m, want) <- p.exact if !p.atMost.contains(m)) {
          val got = count(plan, m)
          if (got != want) failures += s"${p.name}: $m=$got, pinned $want"
        }
        for ((m, cap) <- p.atMost) {
          val got = count(plan, m)
          if (got > cap) failures += s"${p.name}: $m=$got, cap $cap"
        }
        for (s <- p.contains if !plan.contains(s))
          failures += s"${p.name}: missing node $s"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("q12/q58 broadcasts come from explicit hints, not table size") {
    // with auto-broadcast off, the 3 star broadcasts (and q58's
    // broadcast-NL join) can ONLY come from the explicit broadcast()
    // hints — deleting a hint now fails this test even at a tiny SF
    // where auto-broadcast would have masked it (verdict r9 item 7's
    // "done when").
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p12 = planOf("q12_star_broadcast")
      assert(count(p12, BHJ) == 3 && count(p12, SMJ) == 0,
        s"q12 without auto-broadcast: BHJ=${count(p12, BHJ)} SMJ=${count(p12, SMJ)}")
      val p58 = planOf("q58_ann_brute")
      assert(count(p58, BNLJ) == 1 && count(p58, CART) == 0,
        s"q58 without auto-broadcast: BNLJ=${count(p58, BNLJ)}")
    } finally spark.conf.set(key, old)
  }

  // ---- eager-construction headliners (r11, VERDICT r10 item 3) ----
  // q232/q249/q373 return materialized literals / checkpoint
  // scans, so their corpus plans only exist DURING construction: capture
  // every executed plan through a QueryExecutionListener and pin the
  // captured shapes. Counts use the FINAL AQE plan only (executed AQE
  // plans print final + initial sections; the initial section would
  // double every count).

  private def finalOnly(p: String): String = p.split("== Initial Plan ==")(0)

  /** All executed plans fired while building + running `f`. */
  private def capturedPlans(f: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(finalOnly(qe.executedPlan.toString))
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      f
      org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  private def run(name: String): Seq[String] =
    capturedPlans(SparkEntry.queries(name)(spark, sf).count())

  test("q232/q389 sketch-certified heavy hitters: bounded passes, no joins; prefit skips the MG pass") {
    // r13: q232 rides the PERSISTED sketch (fit once per corpus). Warm
    // the staging + driver cache, then pin the steady-state call: NO MG
    // pass (the amortization contract), one certify aggregation, no
    // joins — reintroducing a per-call fit fails the misra_gries check.
    run("q232_heavy_hitters")
    val p232 = run("q232_heavy_hitters")
    // candidate-verify + returned-literal count — never a 3rd scan
    assert(p232.size <= 2, s"q232 fired ${p232.size} jobs")
    for (p <- p232) {
      assert(count(p, CART) == 0 && count(p, SMJ) == 0 && count(p, BHJ) == 0)
      assert(count(p, HASH) <= 1, "heavy-hitters pass with >1 exchange")
    }
    assert(!p232.exists(_.toLowerCase.contains("misra_gries")),
      "q232 steady state re-ran the full-corpus MG fit")
    // r11: the candidate verify is ONE grouped aggregation whose
    // exchange carries ≤ sketchK+1 groups (candidates + the collapsed
    // null bucket that supplies the CURRENT corpus total for sound
    // certification); the ≤ k ranking happens on the collected rows,
    // so no TakeOrdered node exists anymore
    assert(p232.exists(p => p.contains("HashAggregate")
      || p.contains("ObjectHashAggregate")), "candidate verify pass lost its aggregation")
    // the AMORTIZED path: prefit top-k must fire NO MG pass at all —
    // reintroducing the full-corpus sketch scan fails here
    import org.apache.spark.sql.functions._
    val words = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    val sk = graft.functions.MisraGries.fitSketch(words, "word", 512)
      .collect()
    import spark.implicits._
    val sketch = spark.createDataFrame(
      java.util.Arrays.asList(sk: _*),
      graft.functions.MisraGries.fitSketch(words, "word", 512).schema)
    val prefit = capturedPlans(
      graft.functions.MisraGries.topKFrequentPrefit(words, "word", 10, sketch)
        .count())
    assert(!prefit.exists(_.toLowerCase.contains("misra_gries")),
      "prefit path re-ran the full-corpus MG pass")
    // sensitivity: the fit-every-call path DOES trip the same predicate
    val refit = capturedPlans(
      graft.functions.MisraGries.topKFrequent(words, "word", 10, 512).count())
    assert(refit.exists(_.toLowerCase.contains("misra_gries")))
  }

  test("q249 bm25 batch: one corpus pass, broadcast stats, GroupTopK, no shuffle join") {
    val ps = run("q249_bm25_batch")
    for (p <- ps) {
      assert(count(p, CART) == 0 && count(p, SMJ) == 0)
      // the only nested-loop join is the 1-row broadcast stats side
      assert(count(p, BNLJ) <= 1)
      assert(count(p, HASH) <= 1)
    }
    assert(ps.exists(_.contains("GroupTopK")),
      "q249 lost its partial-heap top-k")
  }

  test("q373 semdedup-scaled: pair join carries ids only; no cartesian/NL join anywhere") {
    val ps = run("q373_semdedup_scaled")
    for (p <- ps) {
      assert(count(p, CART) == 0 && count(p, BNLJ) == 0)
      assert(count(p, SMJ) <= 1)
      assert(count(p, HASH) <= 7)
    }
    assert(ps.exists(_.toLowerCase.contains("signbits")) ||
      ps.exists(_.toLowerCase.contains("pmod")),
      "q373 lost its sign-signature cell assignment")
  }

  test("q263 pagerank: one GraphIter node, no cartesian or nested-loop join") {
    // the whole loop is one lazy plan: the edge derivation under one
    // GraphIter node, whose supersteps run inside its exec
    val p = planOf("q263_pagerank")
    assert(count(p, "GraphIter") == 1, p)
    assert(count(p, CART) == 0 && count(p, BNLJ) == 0, p)
  }

  test("pin predicates reject a deliberately de-optimized plan") {
    // a repartition slipped before a scan-stage encode violates the
    // zero-exchange pin the frozen-model headliners carry
    val deopt = Tables.embeddings(spark, sf).repartition(8)
      .select(col("vec_id")).queryExecution.executedPlan.toString
    assert(count(deopt, "Exchange") > 0)
    // and an extra pre-aggregation shuffle violates q01's single-exchange pin
    val li = Tables.lineitem(spark, sf)
    // repartition by a NON-grouping key: the agg cannot reuse the
    // distribution, so a second exchange appears
    val deopt2 = li.repartition(col("l_partkey"))
      .groupBy("l_returnflag").agg(sum("l_quantity"))
      .queryExecution.executedPlan.toString
    assert(count(deopt2, HASH) > 1)
  }

  test("q203 pushes the part filter below the supply-cost derivation") {
    val plan = planOf("q203_tpch_q9")
    val scanLines = plan.linesIterator
      .filter(l => l.contains("PushedFilters: [") && !l.contains("PushedFilters: []"))
      .toSeq
    assert(scanLines.nonEmpty, "no non-empty PushedFilters in q203's scans")
  }
}
