package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.api.GFrame
import graft.operators.{RankMethods, Reshape, WeightedSample}
import graft.text.Dsir

/** Round-11 additions: reshape (melt/pivot_table), grouped
  * nunique/mode, scalable global rank methods, deterministic weighted
  * sampling, sketch-certified heavy hitters, DSIR importance scoring,
  * expanding windows, and the streaming heavy-hitters twin.  Numbering
  * continues from q225.
  */
object Round11Queries {

  /** Shared oracle fragment: DuckDB's bucket of a word under the same
    * md5-prefix hash as [[Dsir.bucket]].
    */
  private def bucketSql(w: String): String =
    s"CAST(('0x' || substr(md5($w), 1, 4)) AS INTEGER) % 64"

  val defs: Seq[(String, QueryDef)] = Seq(

    // pandas melt: wide→long as a scan-stage explode — no shuffle, each
    // input row emits one (variable, value) pair per value column.
    "q226_melt" -> QueryDef(
      (s, d) => Reshape.melt(
        Tables.lineitem(s, d),
        idVars = Seq("l_orderkey", "l_linenumber"),
        valueVars = Seq("l_quantity", "l_extendedprice", "l_discount")),
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable, l_quantity AS value FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem""")),

    // pandas pivot_table(index, columns, values, aggfunc='mean') — one
    // hash aggregation (Spark pivot-first), dictionary discovered with
    // the cardinality-guarded fetch.
    "q227_pivot_table" -> QueryDef(
      (s, d) => GFrame(Tables.lineitem(s, d))
        .pivotTable(Seq("l_returnflag"), "l_linestatus", "l_quantity").df,
      Some("""SELECT l_returnflag,
                avg(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS "F",
                avg(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS "O"
              FROM lineitem GROUP BY 1""")),

    // groupby().nunique(): per-group distinct counts, one aggregation.
    "q228_group_nunique" -> QueryDef(
      (s, d) => GFrame(Tables.orders(s, d))
        .groupby("o_orderpriority").nunique("o_custkey", "o_orderstatus").df,
      Some("""SELECT o_orderpriority,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS o_custkey,
                CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS o_orderstatus
              FROM orders GROUP BY 1""")),

    // groupby().mode(): two hash aggs + a min(struct) election —
    // deterministic smallest-value tiebreak, never a raw-row window.
    "q229_group_mode" -> QueryDef(
      (s, d) => GFrame(Tables.lineitem(s, d))
        .groupby("l_returnflag").mode("l_linestatus").df,
      Some("""SELECT l_returnflag, l_linestatus AS l_linestatus_mode
              FROM (SELECT l_returnflag, l_linestatus, count(*) AS c
                    FROM lineitem WHERE l_linestatus IS NOT NULL
                    GROUP BY 1, 2)
              QUALIFY row_number() OVER
                (PARTITION BY l_returnflag ORDER BY c DESC, l_linestatus) = 1""")),

    // pandas rank(method=average/min/max/dense) — ranks are a function
    // of the VALUE, so: distinct-value counts (one hash agg), two-phase
    // scan over the distinct frame, join back.  No 1-partition window.
    "q230_rank_methods" -> QueryDef(
      (s, d) => RankMethods.rank(
        Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
        "o_totalprice", "rank")
        .select("o_orderkey", "o_totalprice",
          "rank_min", "rank_max", "rank_avg", "rank_dense"),
      Some("""WITH r AS (SELECT o_orderkey, o_totalprice,
                rank() OVER (ORDER BY o_totalprice) AS rmin,
                count(*) OVER (PARTITION BY o_totalprice) AS cnt,
                dense_rank() OVER (ORDER BY o_totalprice) AS rd
              FROM orders)
              SELECT o_orderkey, o_totalprice,
                CAST(rmin AS BIGINT) AS rank_min,
                CAST(rmin + cnt - 1 AS BIGINT) AS rank_max,
                (CAST(rmin AS DOUBLE) + CAST(rmin + cnt - 1 AS DOUBLE)) / 2.0 AS rank_avg,
                CAST(rd AS BIGINT) AS rank_dense
              FROM r"""),
      headline = true),

    // Weighted sample without replacement (Efraimidis–Spirakis over md5
    // uniforms): top-k by ln(u)/w via TakeOrderedAndProject — bounded
    // per-partition heaps, no global sort.  Deterministic, so the
    // oracle recomputes the identical selection.
    "q231_weighted_sample" -> QueryDef(
      (s, d) => WeightedSample.take(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        "doc_id", "n_chars", k = 50),
      Some("""WITH keyed AS (SELECT doc_id, source, n_chars,
                ln((CAST(('0x' || substr(md5('es' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
                   / 1152921504606846976.0) / n_chars AS k
              FROM documents WHERE n_chars > 0)
              SELECT doc_id, source, n_chars FROM keyed
              ORDER BY k DESC, doc_id LIMIT 50""")),

    // Sketch-certified exact heavy hitters: MG(512) candidates from a
    // PERSISTED sketch row (fit once per corpus, q389's amortization
    // contract ridden by the headline gate — VERDICT r12 item 2), one
    // exact candidate-count certify pass per call, and a certification
    // check (kth count > N_fit/(k_sketch+1) + growth) that falls back
    // to the full exact aggregation if the guarantee doesn't bind.
    // The fit-once/probe-many shape is the 100-TB workload: a repeated
    // heavy-hitters query pays ONE tokenizing scan per call, not two.
    // Append-only corpus contract as MisraGries.topKFrequent documents;
    // a corpus that shrank forces the exact fallback, so the result is
    // exact top-k in every case even with a stale sketch.
    "q232_heavy_hitters" -> QueryDef(
      // The fit (MisraGriesExpr) and the certify pass
      // (CandTokenCountsExpr) each read `text` directly as whitespace
      // tokens: no Generate stage, no InSet-filtered string hash-agg.
      (s, d) => {
        val docs = Tables.fanout(Tables.documents(s, d), d, "documents")
        // modTime-keyed (r14): a corpus rewritten in place can never
        // silently reuse a stale sketch — the path itself changes.
        val path = graft.tools.Staging.dirKeyedOnSource(s, "mg_sketch_q232", d, "documents")
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(hp))
          graft.functions.MisraGries.fitSketch(docs, col("text"), 512)
            .write.mode("overwrite").parquet(path)
        graft.functions.MisraGries.topKFrequent(
          docs, col("text"), k = 10,
          graft.functions.MisraGries.readSketchCached(s, path))
      },
      Some("""WITH w AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
                FROM documents)
              SELECT word, cnt FROM (
                SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1)
              QUALIFY row_number() OVER (ORDER BY cnt DESC, word) <= 10"""),
      headline = true),

    // DSIR importance scores: per-bucket smoothed ratio table (O(64),
    // driver-collected like any tiny dimension) + a pure scan-stage
    // fold per document.  Rational-sum variant — bit-identical oracle.
    "q233_dsir_score" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val table = Dsir.ratioTable(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"), "text")
        docs.filter(col("source") =!= "src0")
          .select(col("doc_id"), Dsir.score(col("text"), table).as("score"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, source,
                list_filter(string_split(text, ' '), x -> x <> '') AS t
              FROM documents),
              b AS (SELECT doc_id, source, ${bucketSql("w.w")} AS b
                    FROM (SELECT doc_id, source, unnest(t) AS w FROM tok) w),
              tc AS (SELECT b, count(*) AS c FROM b WHERE source = 'src0' GROUP BY 1),
              rc AS (SELECT b, count(*) AS c FROM b WHERE source <> 'src0' GROUP BY 1),
              tot AS (SELECT
                (SELECT coalesce(sum(c), 0) FROM tc) + 64.0 AS tt,
                (SELECT coalesce(sum(c), 0) FROM rc) + 64.0 AS rt),
              ratio AS (SELECT g.b,
                ((coalesce(tc.c, 0) + 1.0) * rt) / (tt * (coalesce(rc.c, 0) + 1.0)) AS r
                FROM (SELECT unnest(range(64)) AS b) g
                CROSS JOIN tot LEFT JOIN tc ON tc.b = g.b LEFT JOIN rc ON rc.b = g.b),
              rl AS (SELECT list(r ORDER BY b) AS rs FROM ratio)
              SELECT doc_id,
                CASE WHEN len(t) = 0 THEN 0.0 ELSE
                  list_reduce(list_transform(t, w -> rs[${bucketSql("w")} + 1]),
                    (a, b) -> a + b) END AS score
              FROM tok CROSS JOIN rl WHERE source <> 'src0'""")),

    // pandas expanding().sum()/mean() over the index order — the global
    // two-phase scan on integer cents (associative-exact in doubles).
    "q234_expanding" -> QueryDef(
      (s, d) => GFrame(Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice"), Seq("o_orderkey"))
        .expanding("o_totalprice").df,
      Some("""WITH c AS (SELECT o_orderkey, o_totalprice,
                CAST(round(o_totalprice * 100) AS DOUBLE) AS cents FROM orders),
              s AS (SELECT o_orderkey, o_totalprice,
                sum(cents) OVER (ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                row_number() OVER (ORDER BY o_orderkey) AS n FROM c)
              SELECT o_orderkey, o_totalprice,
                cum / 100.0 AS o_totalprice_exp_sum,
                cum / 100.0 / n AS o_totalprice_exp_mean
              FROM s""")),

    // Stratified weighted sampling: k-per-source A-ES via the GroupTopK
    // physical operator (partial bounded heaps below the exchange).
    "q236_stratified_weighted" -> QueryDef(
      (s, d) => WeightedSample.takePerGroup(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        Seq("source"), "doc_id", "n_chars", k = 20),
      Some("""WITH keyed AS (SELECT doc_id, source, n_chars,
                ln((CAST(('0x' || substr(md5('es' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
                   / 1152921504606846976.0) / n_chars AS k
              FROM documents WHERE n_chars > 0)
              SELECT doc_id, source, n_chars FROM keyed
              QUALIFY row_number() OVER
                (PARTITION BY source ORDER BY k DESC, doc_id) <= 20""")),

    // Streaming weighted sampling — one O(k) reservoir state row;
    // reservoir merge = top-k of union, so the streaming sample equals
    // the batch q231 selection exactly (same oracle).
    "q237_stream_weighted_sample" -> QueryDef(
      (s, d) => graft.streaming.DocStreams.weightedSampleStream(s, d, k = 50),
      Some("""WITH keyed AS (SELECT doc_id, source, n_chars,
                ln((CAST(('0x' || substr(md5('es' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
                   / 1152921504606846976.0) / n_chars AS k
              FROM documents WHERE n_chars > 0)
              SELECT doc_id, source, n_chars FROM keyed
              ORDER BY k DESC, doc_id LIMIT 50""")),

    // Streaming heavy hitters — stateful exact word counts (additive
    // state, microbatch-invariant), top-k elected batch-side; same
    // oracle as q232.
    "q235_stream_heavy_hitters" -> QueryDef(
      (s, d) => graft.streaming.DocStreams.heavyHittersStream(s, d, k = 10),
      Some("""WITH w AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
                FROM documents)
              SELECT word, cnt FROM (
                SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1)
              QUALIFY row_number() OVER (ORDER BY cnt DESC, word) <= 10"""))
  )
}
