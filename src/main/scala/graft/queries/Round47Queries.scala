package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.{QueryDef, Tables}
import graft.functions.Num
import graft.text.{Shingles, SlidingChunkSet, TextStats}

/** Round-47 additions (build round 12, wave 3): curation operators —
  *
  *  - q405 exact-quantile length filter (drop the p10/p90 tails of the
  *    token-length distribution — the most common web-curation filter),
  *    composed from the bounded-memory exact quantile (value-domain
  *    bisection, q354's operator);
  *  - q406 OVERLAPPING sliding-window chunking (window 64, stride 48)
  *    via the native one-pass [[SlidingChunkSet]] kernel — context-
  *    window prep that keeps boundary-crossing text learnable;
  *  - q408 source mixing recipe: epochs-per-source for a uniform token
  *    budget (the "data recipe" table a pretraining run is configured
  *    from);
  *  - q409 directional CONTAINMENT near-dup pairs (|A∩B|/min(|A|,|B|)
  *    ≥ 0.8) — catches a small document embedded in a larger one, which
  *    symmetric Jaccard (q54) structurally misses (the union term
  *    drowns the small side).
  */
object Round47Queries {

  private val cw = 64 // chunk window (tokens)
  private val cs = 48 // chunk stride (16-token overlap)

  val defs: Seq[(String, QueryDef)] = Seq(

    // Length filter on exact percentiles: two value-domain bisections
    // (O(log range) count passes, O(1) executor state — no sort, no
    // percentile buffering) fix the [p10, p90] token-length band, then
    // one scan-stage aggregation reports the per-language effect.
    "q405_length_filter" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
          TextStats.nTokens(col("text")).as("tok"))
        val p10 = graft.operators.Selection.quantileDisc(docs, col("tok"), 0.1)
        val p90 = graft.operators.Selection.quantileDisc(docs, col("tok"), 0.9)
        docs.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("tok") < p10, 1L).otherwise(0L)).as("n_short"),
          sum(when(col("tok") > p90, 1L).otherwise(0L)).as("n_long"),
          sum(when(col("tok") >= p10 && col("tok") <= p90, col("tok").cast("long"))
            .otherwise(0L)).as("kept_tokens"))
      },
      Some("""WITH t AS (SELECT doc_id, lang,
               len(string_split(text, ' ')) AS tok FROM documents),
             q AS (SELECT quantile_disc(tok, 0.1) AS p10,
               quantile_disc(tok, 0.9) AS p90 FROM t)
             SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN tok < p10 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
               CAST(sum(CASE WHEN tok > p90 THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
               CAST(sum(CASE WHEN tok >= p10 AND tok <= p90 THEN tok ELSE 0 END)
                 AS BIGINT) AS kept_tokens
             FROM t, q GROUP BY 1""")),

    // Overlapping chunking: one native pass tokenizes and emits every
    // (idx, chunk) window — zero shuffles, pure scan stage; the
    // composed transform(sequence)/slice twin would re-tokenize per
    // chunk through interpreted lambdas (the ChunkSet lesson).
    "q406_chunk_overlap" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          explode(ColumnBridge.column(
            SlidingChunkSet(ColumnBridge.expression(col("text")), cw, cs))).as("c"))
        .select(col("doc_id"), col("c.idx").as("idx"),
          size(split(col("c.chunk"), " ")).as("n_toks"),
          md5(col("c.chunk")).as("chunk_md5")),
      Some(s"""WITH t AS (SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
             FROM documents),
             nt AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
             ch AS (SELECT doc_id, CAST(u AS INTEGER) AS idx,
                 array_to_string(toks[CAST(u * $cs + 1 AS BIGINT):
                   CAST(least(u * $cs + $cw, n) AS BIGINT)], ' ') AS chunk
               FROM (SELECT doc_id, toks, n,
                   unnest(range(0, CASE WHEN n <= $cw THEN 1
                     ELSE (n - $cw + ${cs - 1}) // $cs + 1 END)) AS u
                 FROM nt))
             SELECT doc_id, idx,
               CAST(len(string_split(chunk, ' ')) AS INTEGER) AS n_toks,
               md5(chunk) AS chunk_md5
             FROM ch""")),

    // Mixing recipe: per-source epochs under a uniform token budget
    // (budget = total/|sources| tokens each). epochs > 1 means the
    // source repeats; the integer/fractional split is what a sampler
    // consumes. One counts pass + a 1-row broadcast — nothing scales
    // with corpus size except the token-count aggregation.
    "q408_epochs_recipe" -> QueryDef(
      (s, d) => {
        val toks = Tables.documents(s, d).groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(TextStats.nTokens(col("text")).cast("long")).as("tokens"))
        val tot = toks.agg(sum(col("tokens")).as("total"),
          count(lit(1)).as("nsrc"))
        toks.crossJoin(broadcast(tot)).select(
          col("source"), col("n_docs"), col("tokens"),
          Num.rnd((col("total").cast("double") / col("nsrc").cast("double"))
            / col("tokens").cast("double"), 6).as("epochs"))
          .withColumn("full_epochs", floor(col("epochs")).cast("long"))
      },
      Some("""WITH toks AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
             FROM documents GROUP BY 1),
             tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS nsrc FROM toks)
             SELECT source, n_docs, tokens,
               round(((CAST(total AS DOUBLE) / CAST(nsrc AS DOUBLE))
                 / CAST(tokens AS DOUBLE)) * 1e6) / 1e6 AS epochs,
               CAST(floor(round(((CAST(total AS DOUBLE) / CAST(nsrc AS DOUBLE))
                 / CAST(tokens AS DOUBLE)) * 1e6) / 1e6) AS BIGINT) AS full_epochs
             FROM toks, tot""")),

    // Directional containment: |A∩B| / min(|A|,|B|) ≥ 0.8 over 3-token
    // shingle sets — the "small doc swallowed by a big doc" dedup
    // variant (quote pages, boilerplate-wrapped copies) that symmetric
    // Jaccard misses. Same inverted-index pair counting as q54 (map-
    // side packed pairs, partial-agg counts); the output is inherently
    // pair-shaped, so the q54 quadratic-output caveat and its bounded
    // twins (q55 banding) apply unchanged.
    "q409_containment_dup" -> QueryDef(
      // r12b: reuses q54's gated pair-counting core (PairCounts: the
      // adaptive singleton bloom pre-filter + PackedPairs) instead of
      // re-implementing the pipeline. Same-run salted smoke pins the
      // cost AT q54-parity
      // (100×: q409 28.4 s vs q54 28.8 s; factors 15.5× vs 13.4× —
      // both the exact metric's own growth on this machine state, see
      // BASELINE round-12b smoke note).
      (s, d) => {
        val (common, sizes) = TextQueries.shinglePairCounts(
          Tables.documents(s, d), "q409_containment_dup")
        common
          .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
          .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
          .withColumn("cont", Num.rnd(
            col("n_shared").cast("double") / least(col("n1"), col("n2")), 6))
          .filter(col("cont") >= 0.8)
          .select(col("id1"), col("id2"), col("cont"))
      },
      Some(s"""WITH ${TextQueries.shingleCte},
             sizes AS (SELECT doc_id, len(s) AS n FROM sh),
             inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
             common AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
               FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
             SELECT id1, id2, cont FROM (
               SELECT id1, id2,
                 round(c * 1.0 / least(s1.n, s2.n) * 1e6) / 1e6 AS cont
               FROM common JOIN sizes s1 ON common.id1 = s1.doc_id
                           JOIN sizes s2 ON common.id2 = s2.doc_id)
             WHERE cont >= 0.8"""))
  )
}
