package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.Num
import graft.operators.RollingGlobal
import graft.text.{RepStats, Shingles}

/** Round-6 surface: the remaining curation-pipeline staples —
  * Gopher-style repetition quality filters, n-gram decontamination
  * against a held-out eval set, temperature-weighted mixture planning,
  * and the distributed GLOBAL rolling window (the ungrouped pandas
  * `rolling(w)` no prior round covered because the naive formulation is
  * a single-partition funnel).
  */
object Round6Queries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // Gopher-style repetition filters (Rae et al. 2021 §A.1.1): a doc
    // is low-quality when too much of it is the same words/n-grams
    // repeating. dup_word_frac = 1 - distinct/total words; topK_frac =
    // multiplicity of the most common K-gram / total K-grams. Native
    // one-pass RepStatsExpr — per-document answers from a scan stage,
    // ZERO shuffles (the explode→groupBy formulation the oracle uses
    // would shuffle every n-gram of the corpus). Fractions are derived
    // from the integer counts in Column space so the SQL oracle computes
    // the identical doubles.
    "q160_repetition_filter" -> QueryDef(
      (s, d) => {
        val st = RepStats.stats(col("text"))
        Tables.documents(s, d)
          .select(col("doc_id"), st.as("rs"))
          .select(col("doc_id"),
            element_at(col("rs"), 1).as("n_words"),
            element_at(col("rs"), 2).as("n_distinct"),
            element_at(col("rs"), 3).as("top2"),
            element_at(col("rs"), 5).as("top3"),
            Num.rnd(lit(1.0) - element_at(col("rs"), 2).cast("double") /
              element_at(col("rs"), 1), 6).as("dup_word_frac"),
            when(element_at(col("rs"), 4) === 0, 0.0).otherwise(
              Num.rnd(element_at(col("rs"), 3).cast("double") /
                element_at(col("rs"), 4), 6)).as("top2_frac"),
            when(element_at(col("rs"), 6) === 0, 0.0).otherwise(
              Num.rnd(element_at(col("rs"), 5).cast("double") /
                element_at(col("rs"), 6), 6)).as("top3_frac"))
          .withColumn("keep",
            col("dup_word_frac") <= 0.5 && col("top2_frac") <= 0.05)
      },
      Some("""WITH w AS (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x <> '') AS t
                  FROM documents),
             base AS (SELECT doc_id, len(t) AS n_words,
                    len(list_distinct(t)) AS n_distinct FROM w),
             g2 AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1),
                      i -> t[i+1] || ' ' || t[i+2])) AS g
                    FROM w WHERE len(t) >= 2),
             c2 AS (SELECT doc_id, max(c) AS top2, sum(c) AS n2 FROM
                      (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
                    GROUP BY 1),
             g3 AS (SELECT doc_id, unnest(list_transform(range(len(t) - 2),
                      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS g
                    FROM w WHERE len(t) >= 3),
             c3 AS (SELECT doc_id, max(c) AS top3, sum(c) AS n3 FROM
                      (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2)
                    GROUP BY 1),
             j AS (SELECT b.doc_id, b.n_words, b.n_distinct,
                     CAST(coalesce(c2.top2, 0) AS BIGINT) AS top2,
                     CAST(coalesce(c2.n2, 0) AS BIGINT) AS n2,
                     CAST(coalesce(c3.top3, 0) AS BIGINT) AS top3,
                     CAST(coalesce(c3.n3, 0) AS BIGINT) AS n3
                   FROM base b LEFT JOIN c2 USING (doc_id)
                               LEFT JOIN c3 USING (doc_id)),
             f AS (SELECT doc_id,
                     CAST(n_words AS BIGINT) AS n_words,
                     CAST(n_distinct AS BIGINT) AS n_distinct, top2, top3,
                     round((1.0 - n_distinct * 1.0 / n_words) * 1e6) / 1e6
                       AS dup_word_frac,
                     CASE WHEN n2 = 0 THEN 0.0
                          ELSE round(top2 * 1.0 / n2 * 1e6) / 1e6 END
                       AS top2_frac,
                     CASE WHEN n3 = 0 THEN 0.0
                          ELSE round(top3 * 1.0 / n3 * 1e6) / 1e6 END
                       AS top3_frac
                   FROM j)
             SELECT *, (dup_word_frac <= 0.5 AND top2_frac <= 0.05) AS keep
             FROM f""")),

    // n-gram decontamination: flag training documents sharing any
    // word-3-gram with a held-out eval set (deterministic membership:
    // doc_id % 37 = 0). The eval side of a decontamination join is tiny
    // (benchmarks, not corpora) — BROADCAST it; the training grams then
    // stream map-side with no shuffle of the corpus. Real pipelines use
    // longer n (8-13) and hashed grams; n=3 keeps the tiny-vocab test
    // corpus non-degenerate and the grams oracle-comparable as strings.
    "q161_decontaminate" -> QueryDef(
      (s, d) => {
        val sh = Tables.documents(s, d)
          .select(col("doc_id"), Shingles.shingles(col("text"), 3).as("sh"))
          .cache()
        val evalGrams = sh.filter(col("doc_id") % 37 === 0)
          .select(explode(col("sh")).as("g")).distinct()
        val train = sh.filter(col("doc_id") % 37 =!= 0)
        val hits = train.select(col("doc_id"), explode(col("sh")).as("g"))
          .join(broadcast(evalGrams), "g")
          .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
        train.select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
            col("n_grams"),
            Num.rnd(coalesce(col("n_overlap"), lit(0L)).cast("double") /
              col("n_grams"), 6).as("contam_frac"),
            (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
      },
      Some(s"""WITH ${TextQueries.shingleCte},
             ev AS (SELECT DISTINCT unnest(s) AS g FROM sh
                    WHERE doc_id % 37 = 0),
             tr AS (SELECT doc_id, unnest(s) AS g FROM sh
                    WHERE doc_id % 37 <> 0),
             hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
                      FROM tr JOIN ev USING (g) GROUP BY 1),
             sizes AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_grams
                       FROM sh WHERE doc_id % 37 <> 0)
             SELECT s.doc_id,
               coalesce(h.n_overlap, 0) AS n_overlap, s.n_grams,
               round(coalesce(h.n_overlap, 0) * 1.0 / s.n_grams * 1e6) / 1e6
                 AS contam_frac,
               coalesce(h.n_overlap, 0) > 0 AS contaminated
             FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id""")),

    // temperature-weighted mixture planning (the domain-reweighting step
    // of every multi-source training run): w_i ∝ tokens_i^alpha with
    // alpha = 0.5. Per-source token totals are one partial-aggregatable
    // groupBy; the normalizer is a 1-row broadcast. sqrt() is IEEE
    // exact-rounded (identical in any engine); the normalizer sum goes
    // through round6→DECIMAL so its value is order-independent.
    "q162_mixture_weights" -> QueryDef(
      (s, d) => {
        val st = Tables.documents(s, d).groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(graft.text.TextStats.nTokens(col("text")).cast("long")).as("toks"))
        val withS = st.withColumn("s_r",
          Num.rnd(sqrt(col("toks").cast("double")), 6).cast("decimal(28,6)"))
        val tot = withS.agg(sum(col("s_r")).as("s_tot"),
          sum(col("n_docs")).as("docs_tot"))
        withS.crossJoin(broadcast(tot))
          .withColumn("weight", Num.rnd(
            col("s_r").cast("double") / col("s_tot").cast("double"), 6))
          .select(col("source"), col("n_docs"), col("toks"), col("weight"),
            floor(col("weight") * col("docs_tot")).cast("long").as("exp_docs"))
      },
      Some("""WITH st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
                  FROM documents GROUP BY 1),
             s2 AS (SELECT *, CAST(round(sqrt(CAST(toks AS DOUBLE)) * 1e6) / 1e6
                      AS DECIMAL(28,6)) AS s_r FROM st),
             tot AS (SELECT sum(s_r) AS s_tot,
                       CAST(sum(n_docs) AS BIGINT) AS docs_tot FROM s2)
             SELECT source, n_docs, toks,
               round(CAST(s_r AS DOUBLE) / CAST(s_tot AS DOUBLE) * 1e6) / 1e6
                 AS weight,
               CAST(floor(round(CAST(s_r AS DOUBLE) / CAST(s_tot AS DOUBLE)
                 * 1e6) / 1e6 * docs_tot) AS BIGINT) AS exp_docs
             FROM s2, tot""")),

    // GLOBAL rolling(5) over the full event stream (no group key) —
    // range shuffle, then one CarryScan whose carry is the last w-1 rows
    // of all preceding partitions, so each partition computes its
    // trailing frames locally. Never a single-partition window; carry
    // volume is partitions×(w-1) rows regardless of data size. Sum via exact
    // DECIMAL so partial order can't move the 6th decimal.
    "q163_rolling_global" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d).select("event_id", "ts", "value")
        RollingGlobal.trailing(ev, Seq("ts", "event_id"), "value", 5, "roll")
          .select(col("event_id"),
            Num.rnd(col("roll_sum").cast("double") / 5.0, 6).as("roll_mean"),
            Num.rnd(col("roll_min"), 6).as("roll_min"),
            Num.rnd(col("roll_max"), 6).as("roll_max"))
      },
      Some("""SELECT event_id,
             CASE WHEN row_number() OVER o >= 5 THEN
               round(CAST(sum(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE)
                 / 5 * 1e6) / 1e6 END AS roll_mean,
             CASE WHEN row_number() OVER o >= 5 THEN
               round(min(value) OVER w * 1e6) / 1e6 END AS roll_min,
             CASE WHEN row_number() OVER o >= 5 THEN
               round(max(value) OVER w * 1e6) / 1e6 END AS roll_max
             FROM events
             WINDOW o AS (ORDER BY ts, event_id),
                    w AS (ORDER BY ts, event_id
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""")),

    // WINDOWED streaming near-dup with watermark-evicted state — the
    // unbounded-stream variant of q150: bucket members carry event time
    // (doc_id minutes, synthetic but deterministic), pairs only within a
    // 100-minute horizon, state evicted inline below watermark-horizon
    // and wholesale via EventTimeTimeout. Emission is the explicit
    // |Δts| ≤ horizon predicate, so the output set is the time-filtered
    // exact pair set (LSH recall 1.0 at gate SFs, as q55/q150) — which
    // is SQL: q54's pairs restricted to |id1 - id2| ≤ 100.
    "q164_stream_neardup_windowed" -> QueryDef(
      (s, d) => graft.streaming.DocStreams.nearDupPairsWindowed(
        s, d, n = 3, threshold = 0.5, horizonMinutes = 100),
      Some(s"""WITH ${TextQueries.pairsOracleCtes}
             SELECT id1, id2, jaccard FROM pairs
             WHERE abs(id1 - id2) <= 100""")),

    // STREAMING IVF centroid refresh — vectors stream in, cells are
    // assigned with the frozen coarse quantizer (q91's literals), and a
    // stateful (cell, dim) aggregation maintains the refreshed centroid
    // means incrementally (one Lloyd step, continuously updated). The
    // per-element round6→DECIMAL sum makes the result exact, so the
    // oracle recomputes assignment AND means bit-for-bit.
    "q165_ivf_refresh" -> QueryDef(
      (s, d) => graft.streaming.EmbedStreams.centroidRefresh(s, d),
      Some(s"""WITH c AS (SELECT
               ${SimilarityQueries.ivfCellSql("embedding")} AS cell, embedding
             FROM embeddings),
             x AS (SELECT cell, unnest(list_transform(range(len(embedding)),
                     i -> {'dim': i, 'v': embedding[i+1]})) AS dv
                   FROM c),
             g AS (SELECT cell, dv.dim AS dim,
                     CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(round(CAST(dv.v AS DOUBLE) * 1e6) / 1e6
                       AS DECIMAL(20,6))) AS s
                   FROM x GROUP BY 1, 2)
             SELECT CAST(cell AS BIGINT) AS cell, CAST(dim AS BIGINT) AS dim,
               n, round(CAST(s AS DOUBLE) / n * 1e6) / 1e6 AS centroid
             FROM g""")),

    // END-TO-END text dedup via the 100 TB path: MinHash-LSH pairs
    // (bucketed, never corpus²) → connected components → min-id
    // representative per cluster, every document flagged kept/dropped.
    // The q146 shape over the text corpus — LSH recall is 1.0 at gate
    // SFs, so the exact-pair recursive-CTE SQL is the oracle.
    "q166_minhash_dedup" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = graft.text.MinHash.nearDuplicates(docs, "doc_id", "text",
          n = 3, threshold = 0.5)
        val comp = graft.operators.Components.connected(pairs, "id1", "id2")
        docs.select(col("doc_id"))
          .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("rep"), col("doc_id")).as("rep"),
            (coalesce(col("rep"), col("doc_id")) === col("doc_id")).as("kept"))
      },
      Some(s"""WITH RECURSIVE ${TextQueries.pairsOracleCtes},
            edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                      UNION SELECT id2, id1 FROM pairs),
            reach(id, r) AS (
              SELECT DISTINCT a, a FROM edges
              UNION
              SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
            comp AS (SELECT id, CAST(min(r) AS BIGINT) AS rep
                     FROM reach GROUP BY 1)
            SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS rep,
              coalesce(c.rep, d.doc_id) = d.doc_id AS kept
            FROM documents d LEFT JOIN comp c ON c.id = d.doc_id"""),
      headline = true),

    // interval/range join via BINNING (operators/RangeJoin): clicks
    // within each purchase's trailing 10-minute window, per user. Spark
    // would plan the raw range predicate as a per-key nested loop (or
    // BroadcastNestedLoopJoin with no equi key); binning turns it into
    // one hash shuffle on (user, bin) + an exact range filter — each
    // interval spans ≤ 2 bins at width = span.
    "q167_range_join" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), unix_micros(col("ts")).as("t"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            (unix_micros(col("ts")) - 600000000L).as("lo"),
            unix_micros(col("ts")).as("hi"))
        val hits = graft.operators.RangeJoin.binned(
            clicks, purchases, Seq("user_id"), "t", "lo", "hi",
            width = 600000000L)
          .groupBy("event_id").agg(count(lit(1)).as("n_clicks"))
        purchases.select("event_id")
          .join(hits, Seq("event_id"), "left")
          .select(col("event_id"),
            coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
      },
      Some("""WITH clicks AS (SELECT user_id, epoch_us(ts) AS t
                 FROM events WHERE event_type = 'click'),
             p AS (SELECT event_id, user_id,
                 epoch_us(ts) - 600000000 AS lo, epoch_us(ts) AS hi
               FROM events WHERE event_type = 'purchase')
             SELECT p.event_id, CAST(count(c.t) AS BIGINT) AS n_clicks
             FROM p LEFT JOIN clicks c ON c.user_id = p.user_id
               AND c.t >= p.lo AND c.t <= p.hi
             GROUP BY 1""")),

    // gap-based sessionization with Spark's NATIVE session_window (the
    // same operator Structured Streaming uses for streaming sessions):
    // per-user events merge into a session while consecutive gaps stay
    // UNDER 30 minutes (strict — a gap of exactly 30 min starts a new
    // session). One hash shuffle on user_id; session merge is
    // partition-local. end = last event + gap by session_window's
    // definition; the oracle rebuilds sessions with a lag/cumsum scan.
    "q168_sessionize" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"))
        ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("t_start"),
            unix_micros(col("session_window.end")).as("t_end"),
            col("n_events"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
             l AS (SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY t)
                     AS pt FROM e),
             f AS (SELECT *, CASE WHEN pt IS NULL OR t - pt >= 1800000000
                     THEN 1 ELSE 0 END AS brk FROM l),
             s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t
                     ROWS UNBOUNDED PRECEDING) AS sid FROM f)
             SELECT user_id, min(t) AS t_start,
               max(t) + 1800000000 AS t_end,
               CAST(count(*) AS BIGINT) AS n_events
             FROM s GROUP BY user_id, sid""")),

    // exact substring-duplication detection (the Lee et al. 2022
    // "Deduplicating Training Data" metric family): pairs of documents
    // sharing >= 25 distinct 20-CHAR substrings, with the shared
    // fraction vs the smaller document. Gram extraction is the winnowing
    // expression at w=1 (= the full distinct char-gram hash set, still
    // one codegen'd scan pass); pair counting is the q54 inverted-index
    // machinery - the shuffle carries (hash, id-list) then packed longs,
    // never document text.
    "q169_substring_dup" -> QueryDef(
      // pipeline body factored to text/SubstringDup (shared with the
      // w=8 winnow-sampled scale twin q198); w=1 here = the EXHAUSTIVE
      // exact contract — every char-20-gram indexed. See SubstringDup
      // scaladoc for the adaptive singleton gate and the w>1 scale
      // story (the w=1 index exceeds single-node spill space at the
      // 100×-salted tier; q198 is the bounded twin that runs it).
      (s, d) => graft.text.SubstringDup.pairs(
        Tables.fanout(Tables.documents(s, d), d, "documents"),
        "doc_id", "text", k = 20, w = 1, minShared = 25),
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS n
                 FROM documents WHERE length(text) >= 20),
             pos AS (SELECT doc_id, text,
                 unnest(range(1, CAST(n - 18 AS BIGINT))) AS i FROM d),
             g AS (SELECT DISTINCT doc_id,
                 substr(md5(substr(text, CAST(i AS INT), 20)), 1, 16) AS h
               FROM pos),
             sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng
                       FROM g GROUP BY 1),
             common AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                 CAST(count(*) AS BIGINT) AS n_shared
               FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
             SELECT id1, id2, n_shared,
               round(n_shared * 1.0 / least(s1.ng, s2.ng) * 1e6) / 1e6 AS frac
             FROM common
             JOIN sizes s1 ON common.id1 = s1.doc_id
             JOIN sizes s2 ON common.id2 = s2.doc_id
             WHERE n_shared >= 25""")),

    // pandas groupby().quantile([...]) — exact interpolated per-group
    // percentiles; Spark percentile() and DuckDB quantile_cont share
    // the linear-interpolation definition (q95's global form, grouped).
    // One hash-aggregate shuffle; percentile is partial-aggregatable
    // (per-partition buffers merge).
    "q170_group_quantile" -> QueryDef(
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus").agg(
          Num.rnd(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          Num.rnd(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
          Num.rnd(expr("percentile(l_extendedprice, 0.25)"), 6).as("price_p25"),
          count(lit(1)).as("n")),
      Some("""SELECT l_returnflag, l_linestatus,
             round(quantile_cont(l_quantity, 0.5) * 1e6) / 1e6 AS p50,
             round(quantile_cont(l_quantity, 0.9) * 1e6) / 1e6 AS p90,
             round(quantile_cont(l_extendedprice, 0.25) * 1e6) / 1e6 AS price_p25,
             CAST(count(*) AS BIGINT) AS n
             FROM lineitem GROUP BY 1, 2""")),

    // stratified EXACT-n sampling: exactly 20 documents per source in
    // deterministic md5 order — the balanced-subsample step of mixture
    // construction (q162 plans the weights; this draws the rows). The
    // custom GroupTopK operator keeps one bounded heap per group per
    // partition and merges partials: no global sort, no window over the
    // corpus, and the shuffle carries only the per-partition heap
    // survivors (≤ groups × n rows per partition).
    "q171_stratified_n" -> QueryDef(
      (s, d) => graft.plans.GroupTopK.topKPerKey(
          Tables.documents(s, d)
            .withColumn("__u", md5(concat(lit("strat:"), col("doc_id").cast("string")))),
          Seq("source"), Seq(("__u", false)), 20)
        .select(col("doc_id"), col("source"), col("lang")),
      Some("""SELECT doc_id, source, lang FROM documents
             QUALIFY row_number() OVER (PARTITION BY source
               ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR))) <= 20""")),

    // interval × interval OVERLAP join (RangeJoin.overlapBinned):
    // purchase windows overlapping in time, each pair emitted exactly
    // once via the first-overlap-bin trick (bin == floor(max(lo1,lo2)/w))
    // — one hash shuffle on the bin, no distinct, never a nested loop.
    "q172_interval_overlap" -> QueryDef(
      (s, d) => {
        val p = Tables.events(s, d).filter(col("event_type") === "purchase")
          .select(col("event_id"),
            (unix_micros(col("ts")) - 600000000L).as("lo"),
            unix_micros(col("ts")).as("hi"))
        val a = p.select(col("event_id").as("ida"), col("lo").as("loa"),
          col("hi").as("hia"))
        val b = p.select(col("event_id").as("idb"), col("lo").as("lob"),
          col("hi").as("hib"))
        graft.operators.RangeJoin.overlapBinned(a, b, Seq(),
            "loa", "hia", "lob", "hib", width = 600000000L)
          .filter(col("ida") < col("idb"))
          .select(col("ida").as("id1"), col("idb").as("id2"),
            (least(col("hia"), col("hib")) -
              greatest(col("loa"), col("lob"))).as("overlap_us"))
      },
      Some("""WITH p AS (SELECT event_id,
                 epoch_us(ts) - 600000000 AS lo, epoch_us(ts) AS hi
               FROM events WHERE event_type = 'purchase')
             SELECT a.event_id AS id1, b.event_id AS id2,
               least(a.hi, b.hi) - greatest(a.lo, b.lo) AS overlap_us
             FROM p a JOIN p b ON a.event_id < b.event_id
               AND a.lo <= b.hi AND b.lo <= a.hi""")),

    // vocabulary coverage report (the vocab-truncation step of tokenizer
    // construction): top-100 words by corpus frequency with the
    // cumulative share of all tokens they cover. Word counting is one
    // partial-aggregatable groupBy; top-k is TakeOrderedAndProject
    // (bounded heaps, no global sort); the running share reuses the
    // two-phase distributed scan (no un-partitioned window, even though
    // k is small — same operator at any k); the total is a 1-row
    // broadcast. Counts are longs, so the shares are exact.
    "q173_vocab_coverage" -> QueryDef(
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
        val counts = words.groupBy("w").agg(count(lit(1)).as("cnt"))
        val top = graft.operators.Sorts.topK(counts,
          Seq("cnt", "w"), Seq(false, true), 100)
        val total = words.agg(count(lit(1)).as("tot"))
        graft.operators.Cumulative.globalScan(
            top.withColumn("nc", -col("cnt")),
            Seq("nc", "w"), "cnt", "run", graft.operators.Cumulative.SumOp)
          .crossJoin(broadcast(total))
          .select(col("w"), col("cnt"),
            Num.rnd(col("run") / col("tot"), 6).as("cum_share"))
      },
      Some("""WITH words AS (SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents),
             wf AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM words
                    WHERE w <> '' GROUP BY 1),
             tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM wf),
             top AS (SELECT w, cnt FROM wf
                     QUALIFY row_number() OVER (ORDER BY cnt DESC, w) <= 100)
             SELECT w, cnt,
               round(sum(cnt) OVER (ORDER BY cnt DESC, w
                   ROWS UNBOUNDED PRECEDING) * 1.0 / t * 1e6) / 1e6
                 AS cum_share
             FROM top, tot""")),

    // TPC-H Q5 shape (local supplier volume): the 6-table star-plus-
    // snowflake join with the c_nationkey = s_nationkey cross-dimension
    // constraint. The three tiny dims (supplier, nation, region)
    // broadcast; customer⋈orders⋈lineitem shuffle on their keys; exact
    // DECIMAL revenue sums. The classic plan-quality benchmark query.
    "q174_tpch_q5" -> QueryDef(
      (s, d) => {
        val cutLo = to_timestamp(lit("1995-01-01"))
        val cutHi = to_timestamp(lit("1997-01-01"))
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
          .filter(col("o_orderdate") >= cutLo && col("o_orderdate") < cutHi)
          .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(Tables.supplier(s, d)),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)),
            col("n_regionkey") === col("r_regionkey") &&
              col("r_name") === "ASIA")
          .groupBy("n_name")
          .agg(Num.sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name, round(sum(
               CAST(l_extendedprice AS DECIMAL(12,2)) *
               (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS revenue
             FROM customer
             JOIN orders ON c_custkey = o_custkey
             JOIN lineitem ON o_orderkey = l_orderkey
             JOIN supplier ON l_suppkey = s_suppkey
               AND c_nationkey = s_nationkey
             JOIN nation ON s_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
             WHERE r_name = 'ASIA'
               AND o_orderdate >= TIMESTAMP '1995-01-01'
               AND o_orderdate < TIMESTAMP '1997-01-01'
             GROUP BY n_name
             ORDER BY revenue DESC, n_name""")),

    // TPC-H Q1 (pricing summary): the full 8-aggregate form over
    // (returnflag, linestatus) — one partial-aggregatable hash agg over
    // the fact scan with a pushed shipdate filter. Money sums/averages
    // go through exact DECIMAL; counts are exact; the avgs divide the
    // exact decimal sums by the exact counts so both engines compute
    // identical doubles.
    "q175_tpch_q1" -> QueryDef(
      (s, d) => {
        import graft.functions.Num.dec2
        val cut = to_timestamp(lit("2001-06-01"))
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= cut)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
            Num.rnd(sum(dec2(col("l_extendedprice"))).cast("double"), 2).as("sum_base"),
            Num.rnd(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
              .cast("double"), 2).as("sum_disc_price"),
            Num.rnd(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))
              * (lit(1) + dec2(col("l_tax")))).cast("double"), 2).as("sum_charge"),
            Num.rnd(sum(dec2(col("l_quantity"))).cast("double") /
              count(lit(1)), 6).as("avg_qty"),
            Num.rnd(sum(dec2(col("l_extendedprice"))).cast("double") /
              count(lit(1)), 6).as("avg_price"),
            Num.rnd(sum(dec2(col("l_discount"))).cast("double") /
              count(lit(1)), 6).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) * 1e2) / 1e2 AS sum_base,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
               (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) * 1e2) / 1e2 AS sum_disc_price,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
               (1 - CAST(l_discount AS DECIMAL(12,2))) *
               (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) * 1e2) / 1e2 AS sum_charge,
             round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               / count(*) * 1e6) / 1e6 AS avg_qty,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               / count(*) * 1e6) / 1e6 AS avg_price,
             round(CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
               / count(*) * 1e6) / 1e6 AS avg_disc,
             CAST(count(*) AS BIGINT) AS count_order
             FROM lineitem
             WHERE l_shipdate <= TIMESTAMP '2001-06-01'
             GROUP BY l_returnflag, l_linestatus
             ORDER BY l_returnflag, l_linestatus""")),

    // KMV sketch UNION report: the overall distinct-user estimate is
    // computed by MERGING the per-type sketches (k-smallest of the
    // union of per-group k-smallest = k-smallest of the union — the
    // KMV mergeability theorem), touching only groups × k sketch rows,
    // never the raw data again. This is the sketch workflow at 100 TB:
    // per-partition/per-group sketches roll up without rescans. The
    // oracle recomputes the merged sketch from scratch and must land on
    // the identical hashes and estimate.
    "q176_kmv_union" -> QueryDef(
      (s, d) => {
        val k = 64
        val hashed = Tables.events(s, d)
          .select(col("event_type"),
            substring(md5(concat(lit("kmv:"), col("user_id").cast("string"))), 1, 12).as("h"))
          .distinct()
        val kmin = graft.plans.GroupTopK.topKPerKey(
          hashed, Seq("event_type"), Seq(("h", false)), k).cache()
        def est(nH: org.apache.spark.sql.Column,
                mx: org.apache.spark.sql.Column): org.apache.spark.sql.Column = Num.rnd(
          when(nH < k, nH.cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              (conv(mx, 16, 10).cast("double") / math.pow(16.0, 12))), 3)
        val perType = kmin.groupBy("event_type")
          .agg(count(lit(1)).as("n_h"), max(col("h")).as("mx"))
          .select(col("event_type").as("scope"), col("n_h"), est(col("n_h"), col("mx")).as("est"))
        // merged sketch from the SKETCH ROWS only
        val mergedTop = graft.operators.Sorts.topK(
          kmin.select("h").distinct(), Seq("h"), Seq(true), k)
        val overall = mergedTop
          .agg(count(lit(1)).as("n_h"), max(col("h")).as("mx"))
          .select(lit("__all__").as("scope"), col("n_h"), est(col("n_h"), col("mx")).as("est"))
        perType.unionByName(overall)
      },
      Some("""WITH d AS (SELECT DISTINCT event_type,
                 substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 12) AS h
               FROM events),
             r AS (SELECT event_type, h,
                     row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                   FROM d),
             s AS (SELECT event_type AS scope, CAST(count(*) AS BIGINT) AS n_h,
                     max(h) AS mx
                   FROM r WHERE rn <= 64 GROUP BY 1),
             u AS (SELECT DISTINCT h FROM d),
             ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM u),
             us AS (SELECT CAST(count(*) AS BIGINT) AS n_h, max(h) AS mx
                    FROM ur WHERE rn <= 64),
             allrows AS (
               SELECT scope, n_h, mx FROM s
               UNION ALL
               SELECT '__all__', n_h, mx FROM us)
             SELECT scope, n_h,
               round(CASE WHEN n_h < 64 THEN n_h * 1.0
                 ELSE 63.0 / (CAST('0x' || mx AS BIGINT) * 1.0 / 281474976710656)
                 END * 1e3) / 1e3 AS est
             FROM allrows""")),

    // windowed top-k DRIFT report (the trending/monitoring query of a
    // continuously-ingested corpus): per-day top-5 users by event count
    // with their rank delta vs the previous day (null/new when absent
    // yesterday). Counts are one partial-agg groupBy; ranks come from
    // the bounded-heap GroupTopK per day; the drift join is day-keyed
    // top-k rows only (days × k), not the corpus.
    "q177_topk_drift" -> QueryDef(
      (s, d) => {
        val byDay = Tables.events(s, d)
          .select(to_date(col("ts")).as("day"), col("user_id"))
          .groupBy("day", "user_id").agg(count(lit(1)).as("cnt"))
        val top = graft.plans.GroupTopK.topKPerKey(
            byDay, Seq("day"), Seq(("cnt", true), ("user_id", false)), 5)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("day")
              .orderBy(col("cnt").desc, col("user_id"))).cast("long"))
          .cache()
        val prev = top.select(date_add(col("day"), 1).as("day"),
          col("user_id"), col("rank").as("prev_rank"))
        top.join(prev, Seq("day", "user_id"), "left")
          .select(col("day").cast("string").as("day"), col("user_id"),
            col("cnt"), col("rank"),
            col("prev_rank"),
            (col("prev_rank").isNull).as("is_new"),
            (coalesce(col("prev_rank"), lit(0L)) - col("rank")).as("delta"))
      },
      Some("""WITH byday AS (SELECT CAST(ts AS DATE) AS day, user_id,
                 CAST(count(*) AS BIGINT) AS cnt
               FROM events GROUP BY 1, 2),
             ranked AS (SELECT day, user_id, cnt,
                 CAST(row_number() OVER (PARTITION BY day
                   ORDER BY cnt DESC, user_id) AS BIGINT) AS rank
               FROM byday
               QUALIFY rank <= 5)
             SELECT CAST(t.day AS VARCHAR) AS day, t.user_id, t.cnt, t.rank,
               p.rank AS prev_rank,
               p.rank IS NULL AS is_new,
               coalesce(p.rank, 0) - t.rank AS delta
             FROM ranked t LEFT JOIN ranked p
               ON p.day = t.day - 1 AND p.user_id = t.user_id""")),

    // fillna(method="ffill"/"bfill") — forward/backward observation
    // carry (pandas time-series core). Sparse series: only click events
    // carry a value. Three variants in one result: GLOBAL ffill via the
    // two-phase per-partition-carry shape (never a one-partition
    // window), per-user ffill and bfill via partitioned windows.
    "q178_fillna_method" -> QueryDef(
      (s, d) => {
        import graft.operators.Fill
        val base = Tables.events(s, d).select(
          col("event_id"), col("user_id"), col("ts"),
          when(col("event_type") === "click", col("value")).as("v"))
        val ev = base
          .withColumn("vg", col("v"))
          .withColumn("vu", col("v"))
          .withColumn("vb", col("v"))
        val g = Fill.ffillGlobal(ev, Seq("ts", "event_id"), "vg")
        val u = Fill.ffillGrouped(g, Seq("user_id"), Seq("ts", "event_id"), Seq("vu"))
        val b = Fill.bfillGrouped(u, Seq("user_id"), Seq("ts", "event_id"), Seq("vb"))
        b.select(col("event_id"),
          Num.rnd(col("vg"), 6).as("vg"),
          Num.rnd(col("vu"), 6).as("vu"),
          Num.rnd(col("vb"), 6).as("vb"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, ts,
                 CASE WHEN event_type = 'click' THEN value END AS v
               FROM events)
             SELECT event_id,
               round(last_value(v IGNORE NULLS) OVER (ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) * 1e6) / 1e6 AS vg,
               round(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) * 1e6) / 1e6 AS vu,
               round(first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) * 1e6) / 1e6 AS vb
             FROM e""")),

    // interpolate(method="linear") per user — pandas semantics: null
    // runs between two observations get the linear blend by ROW
    // position, leading nulls stay null, trailing nulls carry the last
    // observation. One partitioned window set; the blend arithmetic is
    // mirrored operation-for-operation in the oracle so the doubles are
    // identical.
    "q179_interpolate" -> QueryDef(
      (s, d) => {
        val base = Tables.events(s, d).select(
          col("event_id"), col("user_id"), col("ts"),
          when(col("event_type") === "click", col("value")).as("v"))
        graft.operators.Fill.interpolateGrouped(base,
            Seq("user_id"), Seq("ts", "event_id"), "v", "vi")
          .select(col("event_id"), Num.rnd(col("vi"), 6).as("vi"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, ts,
                 CASE WHEN event_type = 'click' THEN value END AS v
               FROM events),
             p AS (SELECT event_id, user_id, ts, v,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS pos
               FROM e),
             w AS (SELECT event_id, v, pos,
                 last_value(v IGNORE NULLS) OVER
                   (uw ROWS UNBOUNDED PRECEDING) AS pv,
                 last_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS)
                   OVER (uw ROWS UNBOUNDED PRECEDING) AS pp,
                 first_value(v IGNORE NULLS) OVER
                   (uw ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                 first_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS)
                   OVER (uw ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np
               FROM p
               WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id))
             SELECT event_id,
               round(CASE WHEN v IS NOT NULL THEN v
                 WHEN pv IS NULL THEN NULL
                 WHEN nv IS NULL THEN pv
                 ELSE pv + (nv - pv) * (CAST(pos - pp AS DOUBLE) / (np - pp))
                 END * 1e6) / 1e6 AS vi
             FROM w""")),

    // merge(indicator=True) — pandas' provenance column on an outer
    // merge: _merge in {left_only, right_only, both}. One outer hash
    // join; the indicator is a projection over the two sides' key
    // nullity (computed BEFORE the outer-join key coalesce).
    "q180_merge_indicator" -> QueryDef(
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_custkey") <= 800)
          .select(col("c_custkey").as("ck"), col("c_name"))
        val o = Tables.orders(s, d).filter(col("o_custkey") >= 500)
          .groupBy(col("o_custkey").as("ok"))
          .agg(count(lit(1)).as("n_orders"))
        c.join(o, col("ck") === col("ok"), "full_outer")
          .select(coalesce(col("ck"), col("ok")).as("custkey"),
            col("c_name"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            when(col("ck").isNotNull && col("ok").isNotNull, "both")
              .when(col("ck").isNotNull, "left_only")
              .otherwise("right_only").as("_merge"))
      },
      Some("""WITH c AS (SELECT c_custkey AS ck, c_name FROM customer
                         WHERE c_custkey <= 800),
             o AS (SELECT o_custkey AS ok, CAST(count(*) AS BIGINT) AS n_orders
                   FROM orders WHERE o_custkey >= 500 GROUP BY 1)
             SELECT coalesce(ck, ok) AS custkey, c_name,
               coalesce(n_orders, 0) AS n_orders,
               CASE WHEN ck IS NOT NULL AND ok IS NOT NULL THEN 'both'
                    WHEN ck IS NOT NULL THEN 'left_only'
                    ELSE 'right_only' END AS _merge
             FROM c FULL JOIN o ON ck = ok""")),

    // query() `in` / `not in` membership — the pandas-query grammar
    // extension (list literals + @ref lists), compiled to Catalyst IN
    // (no UDF, pushdown-eligible).
    "q181_query_in" -> QueryDef(
      (s, d) => graft.api.GFrame(Tables.lineitem(s, d))
        .query("l_returnflag in ['A', 'R'] and l_linenumber not in @skip and l_quantity >= @qmin",
          Map("skip" -> Seq(5L, 6L, 7L), "qmin" -> 30))
        .df.groupBy("l_returnflag", "l_linenumber")
        .agg(count(lit(1)).as("n"),
          Num.rnd(sum(Num.dec2(col("l_quantity"))).cast("double"), 2).as("qty")),
      Some("""SELECT l_returnflag, l_linenumber, CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) * 1e2) / 1e2 AS qty
             FROM lineitem
             WHERE l_returnflag IN ('A', 'R')
               AND l_linenumber NOT IN (5, 6, 7)
               AND l_quantity >= 30
             GROUP BY 1, 2""")),

    // vocabulary-drift monitoring: per-source top-k terms (GroupTopK —
    // map-side partial heaps, shuffle ≤ k·groups·mappers), then
    // pairwise top-k overlap across sources. The corpus-mix QA report
    // of a training pipeline: a source whose top vocabulary diverges
    // from the rest flags a crawl/licensing drift. Deterministic
    // tiebreak (count desc, term asc); overlap join runs on the tiny
    // top-k set (|sources|·k rows), never the token table.
    "q187_topk_drift" -> QueryDef(
      (s, d) => {
        val k = 20
        val counts = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
          .groupBy("source", "term").agg(count(lit(1)).as("n"))
        val topk = graft.plans.GroupTopK.topKPerKey(
          counts, Seq("source"), Seq(("n", true), ("term", false)), k)
          .select(col("source"), col("term"))
        topk.as("a").join(topk.as("b"),
            col("a.term") === col("b.term") &&
              col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src1"), col("b.source").as("src2"))
          .agg(count(lit(1)).as("n_common"))
          .withColumn("overlap", Num.rnd(col("n_common").cast("double") / k, 6))
      },
      Some("""WITH counts AS (
               SELECT source, term, CAST(count(*) AS BIGINT) AS n
               FROM (SELECT source, unnest(string_split(text, ' ')) AS term
                     FROM documents)
               WHERE term <> '' GROUP BY 1, 2),
             topk AS (SELECT source, term FROM (
               SELECT source, term,
                 row_number() OVER (PARTITION BY source
                   ORDER BY n DESC, term ASC) AS rn
               FROM counts) WHERE rn <= 20)
             SELECT a.source AS src1, b.source AS src2,
               CAST(count(*) AS BIGINT) AS n_common,
               round(count(*) / 20.0 * 1e6) / 1e6 AS overlap
             FROM topk a JOIN topk b
               ON a.term = b.term AND a.source < b.source
             GROUP BY 1, 2""")),

    // q161's decontamination with a BLOOM PRE-FILTER (BloomFilterNode:
    // a bloom of the eval grams, built and broadcast when the plan
    // executes) — the at-scale shape when the eval gram set is too
    // large to broadcast as rows: corpus grams that fail the bloom drop
    // AT THE SCAN, before any shuffle; the exact join over surviving
    // candidates removes false positives, so the result (and the
    // oracle) is IDENTICAL to the exact q161.
    "q189_decontam_bloom" -> QueryDef(
      (s, d) => {
        val sh = Tables.documents(s, d)
          .select(col("doc_id"), Shingles.shingles(col("text"), 3).as("sh"))
        val evalGrams = sh.filter(col("doc_id") % 37 === 0)
          .select(explode(col("sh")).as("g")).distinct()
        val train = sh.filter(col("doc_id") % 37 =!= 0)
        val candidates = graft.plans.BloomFilterNode.filter(
          train.select(col("doc_id"), explode(col("sh")).as("g")), col("g"), evalGrams)
        val hits = candidates.join(evalGrams, "g") // exact verify
          .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
        train.select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
            col("n_grams"),
            Num.rnd(coalesce(col("n_overlap"), lit(0L)).cast("double") /
              col("n_grams"), 6).as("contam_frac"),
            (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
      },
      Some(s"""WITH ${TextQueries.shingleCte},
             ev AS (SELECT DISTINCT unnest(s) AS g FROM sh
                    WHERE doc_id % 37 = 0),
             tr AS (SELECT doc_id, unnest(s) AS g FROM sh
                    WHERE doc_id % 37 <> 0),
             hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
                      FROM tr JOIN ev USING (g) GROUP BY 1),
             sizes AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_grams
                       FROM sh WHERE doc_id % 37 <> 0)
             SELECT s.doc_id,
               coalesce(h.n_overlap, 0) AS n_overlap, s.n_grams,
               round(coalesce(h.n_overlap, 0) * 1.0 / s.n_grams * 1e6) / 1e6
                 AS contam_frac,
               coalesce(h.n_overlap, 0) > 0 AS contaminated
             FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id""")),

    // q189's bloom gate running INCREMENTALLY: streamed documents,
    // a bloom of the static eval grams built in each microbatch's
    // execution, stream-static exact verify, one stateful per-source
    // aggregation. Oracle = the batch SQL.
    "q190_stream_decontam" -> QueryDef(
      (s, d) => graft.streaming.DocStreams.decontamGate(s, d),
      Some(s"""WITH ${TextQueries.shingleCte},
             ev AS (SELECT DISTINCT unnest(s) AS g FROM sh
                    WHERE doc_id % 37 = 0),
             tr AS (SELECT d.source, unnest(sh.s) AS g
                    FROM sh JOIN documents d USING (doc_id)
                    WHERE doc_id % 37 <> 0)
             SELECT source, CAST(count(*) AS BIGINT) AS n_hits
             FROM tr JOIN ev USING (g) GROUP BY 1"""))
  )
}
