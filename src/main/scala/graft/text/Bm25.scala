package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** BM25 keyword ranking (Robertson/Spärck Jones; the Lucene-default
  * scoring function) over a document corpus — the retrieval side of a
  * training-data pipeline (e.g. targeted corpus slicing, eval-set
  * neighborhood mining, quality-by-query probes).
  *
  * score(D, Q) = Σ_{t ∈ Q} idf(t) · tf(t,D)·(k1+1) /
  *                          (tf(t,D) + k1·(1 − b + b·|D|/avgdl))
  * with the Lucene idf: ln(1 + (N − df + 0.5)/(df + 0.5)).
  *
  * Scale shape: corpus statistics (N, avgdl, df per query term) are a
  * handful of doubles — one aggregate over the corpus, broadcast back
  * as a 1-row cross join; the per-document score is then a pure
  * scan-stage expression over ONE [[TermCountsExpr]] pass (a single
  * tokenization however many query terms — the composed
  * size(filter(split…)) per term is CodegenFallback and re-splits per
  * use), and the final top-k is a TakeOrdered. At 100 TB: one stats
  * pass + one scoring pass, no pair blow-up anywhere.
  *
  * Cache contract: [[topK]]/[[topKBatch]] are self-contained — they
  * cache the (id, counts) projection so the raw text is tokenized
  * once, materialize the (bounded, ≤ k·|Q| rows) result, and unpersist
  * before returning. A long-lived session scoring MANY queries against
  * a FIXED vocabulary should instead build [[countsTable]] once, cache
  * it itself, and call [[topKFromCounts]] per query — the steady-state
  * path (0.42 s with the counts table cached; BASELINE.md "Round-12
  * bounded-tier smoke", op_bm25).
  *
  * The reference has no retrieval surface (beyond-parity tooling).
  */
object Bm25 {

  /** [tf(term_0) … tf(term_{k-1}), dl] in one codegen'd pass.
    * Terms must be distinct: the kernel keys a term→slot map, so a
    * duplicated term would silently fold into one slot (while the
    * composed twin counts each positional duplicate — a differential
    * divergence we forbid instead of risking).
    */
  def termCounts(text: Column, terms: Seq[String]): Column = {
    require(terms.distinct.size == terms.size,
      s"duplicate query terms: ${terms.diff(terms.distinct).distinct.mkString(", ")}")
    ColumnBridge.column(TermCountsExpr(ColumnBridge.expression(text), terms))
  }

  /** Composed twin of [[termCounts]] (interpreted; differential tests). */
  def termCountsComposed(text: Column, terms: Seq[String]): Column = {
    val toks = split(text, " ")
    array((terms.map(t =>
      size(filter(toks, x => x === lit(t))).cast("double")) :+
      size(toks).cast("double")): _*)
  }

  /** tf of `terms(i)` from a [[termCounts]] array. */
  def tf(tc: Column, i: Int): Column = element_at(tc, i + 1)

  /** dl from a [[termCounts]] array (last slot). */
  def dl(tc: Column, nTerms: Int): Column = element_at(tc, nTerms + 1)

  /** The tokenize-once projection: (id, __tc) with __tc =
    * [tf_0 … tf_{n-1}, dl]. ~8·(n+1) bytes/doc — at 100 TB this is the
    * table to materialize, not the corpus. Caller owns caching.
    */
  def countsTable(docs: DataFrame, idCol: String, textCol: String,
                  terms: Seq[String]): DataFrame =
    docs.select(col(idCol), termCounts(col(textCol), terms).as("__tc"))

  /** Corpus statistics over a [[countsTable]]: one 1-row DataFrame with
    * columns (n_docs, avgdl, df_0 … df_{n-1}) — the single source of
    * truth for both [[topKFromCounts]] and [[topKBatch]].
    */
  def corpusStats(tcTab: DataFrame, nTerms: Int): DataFrame = {
    val tc = col("__tc")
    val aggs =
      count(lit(1)).cast("double").as("n_docs") +:
      avg(dl(tc, nTerms)).as("avgdl") +:
      (0 until nTerms).map(i =>
        sum(when(tf(tc, i) > 0, 1.0).otherwise(0.0)).as(s"df_$i"))
    tcTab.agg(aggs.head, aggs.tail: _*)
  }

  /** BM25 score from an arbitrary subset of vocabulary slots — the
    * batch form, where one shared [[termCounts]] array over the UNION
    * vocabulary serves every query. Contributions sum left-to-right in
    * `slots` order — a fixed association order the oracle replays.
    */
  def scoreSlots(tc: Column, slots: Seq[Int], nVocab: Int,
                 k1: Double = 1.2, b: Double = 0.75): Column = {
    val len = dl(tc, nVocab)
    slots.map { i =>
      val f = tf(tc, i)
      val idf = log(lit(1.0) + (col("n_docs") - col(s"df_$i") + lit(0.5)) /
        (col(s"df_$i") + lit(0.5)))
      idf * (f * lit(k1 + 1.0)) /
        (f + lit(k1) * (lit(1.0 - b) + lit(b) * len / col("avgdl")))
    }.reduce(_ + _)
  }

  /** BM25 score column given the (broadcast) stats columns in scope and
    * a [[termCounts]] array column over exactly the query terms.
    */
  def score(tc: Column, nTerms: Int, k1: Double = 1.2, b: Double = 0.75): Column =
    scoreSlots(tc, 0 until nTerms, nTerms, k1, b)

  /** Top-k over a prepared [[countsTable]] (cached or not — caller's
    * choice): stats pass → broadcast 1-row join → scan-stage score →
    * TakeOrdered. Rounded to 6 dp before ranking; ties break on id.
    */
  def topKFromCounts(tcTab: DataFrame, idCol: String, nTerms: Int, k: Int,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val stats = corpusStats(tcTab, nTerms)
    val scored = tcTab.crossJoin(broadcast(stats))
      .select(col(idCol),
        graft.functions.Num.rnd(score(col("__tc"), nTerms, k1, b), 6).as("bm25"))
      .filter(col("bm25") > 0)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25").desc, col(idCol).asc)
    // global top-k: orderBy+limit compiles to TakeOrderedAndProject
    scored.orderBy(col("bm25").desc, col(idCol).asc).limit(k)
      .withColumn("rn", row_number().over(w).cast("long"))
  }

  /** Top-k documents for the query terms, self-contained: builds and
    * caches the counts table, materializes the ≤ k result rows, and
    * unpersists before returning (no cached table outlives the call).
    */
  def topK(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tcTab = countsTable(docs, idCol, textCol, terms).cache()
    try materialize(topKFromCounts(tcTab, idCol, terms.size, k, k1, b))
    finally tcTab.unpersist(blocking = false)
  }

  /** MULTI-QUERY BM25: score every (qid, terms) query in ONE corpus
    * pass. Plan: union vocabulary → one [[TermCountsExpr]] scan → one
    * stats aggregate over the union (broadcast back) → per-query score
    * columns from shared slots, exploded to (qid, id, bm25) rows still
    * inside the scan stage → [[graft.plans.GroupTopK]] per qid, so the
    * exchange carries ≤ |Q|·k rows per map partition however large the
    * corpus. A curation pipeline with hundreds of probe queries pays
    * one tokenization + one shuffle of |Q|·k rows total.
    *
    * Output: (qid, id, bm25, rn) with rn = 1..≤k per qid by
    * (bm25 desc, id asc) — each query's rows identical to running
    * [[topK]] with its own terms (same stats: df/avgdl are corpus
    * properties, independent of the query set).
    */
  def topKBatch(docs: DataFrame, idCol: String, textCol: String,
                queries: Seq[(Long, Seq[String])], k: Int,
                k1: Double = 1.2, b: Double = 0.75,
                cache: Boolean = true): DataFrame = {
    require(queries.nonEmpty, "topKBatch needs at least one query")
    // same contract as termCounts/topK: a term duplicated WITHIN one
    // query would map to the same slot twice and double its
    // contribution (the union vocab is deduped, so termCounts' own
    // require can't catch it here)
    queries.foreach { case (qid, terms) =>
      require(terms.distinct.size == terms.size,
        s"query $qid has duplicate terms: " +
          terms.diff(terms.distinct).distinct.mkString(", "))
    }
    val vocab = queries.flatMap(_._2).distinct
    val slot = vocab.zipWithIndex.toMap
    // cache=true: ONE TermCounts corpus pass feeds both the stats agg
    // and the scoring scan; the caller gets a bounded (≤|Q|·k rows)
    // MATERIALIZED result so the cache can be released before return —
    // the fit-style shape. cache=false: the counts table is recomputed
    // by each consumer (TWO corpus passes) and the result is a fully
    // LAZY, re-executable plan holding no cache and no driver state —
    // the memory-tight / repeated-execution shape (each run re-pays the
    // scans, the honest analogue of a SQL engine replaying the query).
    // Identical results either way.
    val tcTab0 = countsTable(docs, idCol, textCol, vocab)
    val tcTab = if (cache) tcTab0.cache() else tcTab0
    try {
      val stats = corpusStats(tcTab, vocab.size)
      val qStructs = queries.map { case (qid, terms) =>
        struct(lit(qid).as("qid"),
          graft.functions.Num.rnd(
            scoreSlots(col("__tc"), terms.map(slot), vocab.size, k1, b), 6).as("bm25"))
      }
      val scored = tcTab.crossJoin(broadcast(stats))
        .select(col(idCol), explode(array(qStructs: _*)).as("qs"))
        .select(col("qs.qid").as("qid"), col(idCol), col("qs.bm25").as("bm25"))
        .filter(col("bm25") > 0)
      val top = graft.plans.GroupTopK.topKPerKey(
        scored, Seq("qid"), Seq("bm25" -> true, idCol -> false), k)
      // rank within the ≤ |Q|·k survivors (already clustered by qid —
      // the window adds no exchange)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("bm25").desc, col(idCol).asc)
      val ranked = top.withColumn("rn", row_number().over(w).cast("long"))
      if (cache) materialize(ranked) else ranked
    } finally { if (cache) tcTab.unpersist(blocking = false) }
  }

  /** Collect a BOUNDED result (top-k outputs only) and rebuild it as a
    * local DataFrame so the backing cache can be released eagerly.
    */
  private def materialize(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }
}
