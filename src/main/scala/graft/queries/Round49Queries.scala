package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.{QueryDef, Tables}
import graft.text.CdcChunkSet

/** Round-49 additions (build round 12, wave 5): edit-robust chunking —
  *
  *  - q413 streaming twin of the overlapping chunker (q406's oracle);
  *  - q415 CONTENT-DEFINED chunking (token-level Rabin-style
  *    boundaries): chunk edges follow content, so an insertion
  *    perturbs one chunk instead of shifting every downstream window —
  *    the rsync/LBFS property, and the reason production dedup
  *    pipelines chunk this way;
  *  - q416 cross-document CDC-chunk dedup report: which content chunks
  *    repeat across the corpus, and how much token mass the duplicates
  *    carry — the edit-robust twin of the fixed-window q213.
  */
object Round49Queries {

  private[queries] val cdcMod = 8 // expected chunk length ≈ 8 tokens

  /** Shared oracle CTE ending in `chunks(doc_id, chunk_id, chunk)` —
    * the window-replay of the native one-pass kernel: boundary when
    * the first 8 md5 hex chars of the token, as an integer, hit
    * 0 mod 8; chunk id = running boundary count.
    */
  private[queries] val cdcChunksCte: String =
    s"""tk AS (SELECT doc_id, unnest(toks) AS tok,
           generate_subscripts(toks, 1) AS pos
         FROM (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents)),
       fl AS (SELECT doc_id, tok, pos,
           CASE WHEN CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
                % $cdcMod = 0 THEN 1 ELSE 0 END AS f
         FROM tk),
       cid AS (SELECT doc_id, tok, pos,
           sum(f) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
         FROM fl),
       chunks AS (SELECT doc_id, chunk_id,
           string_agg(tok, ' ' ORDER BY pos) AS chunk,
           CAST(count(*) AS INTEGER) AS n_toks
         FROM cid GROUP BY 1, 2)"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // Streaming twin of q406 — stateless scan-stage chunking on
    // arrival; same oracle because the transform is identical.
    "q413_stream_chunk_overlap" -> QueryDef(
      (s, d) => graft.streaming.DocStreams.chunkOverlapStream(s, d, 64, 48),
      Round47Queries.defs.toMap.apply("q406_chunk_overlap").oracle),

    // Content-defined chunking: ONE native scan pass per document
    // (no explode + per-doc window — the same Generate-stage economics
    // as SlidingChunkSet), boundaries from the token's own hash. The oracle
    // replays the boundary draw and the running-count chunk ids as a
    // window over the exploded tokens.
    "q415_cdc_chunking" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(ColumnBridge.column(
          CdcChunkSet(ColumnBridge.expression(col("text")), cdcMod))).as("c"))
        .select(col("doc_id"), col("c.idx").cast("long").as("chunk_id"),
          size(split(col("c.chunk"), " ")).as("n_toks"),
          md5(col("c.chunk")).as("chunk_md5")),
      Some(s"""WITH $cdcChunksCte
             SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
               n_toks, md5(chunk) AS chunk_md5
             FROM chunks""")),

    // Cross-document CDC dedup report: chunks (by content hash) that
    // appear ≥2 times anywhere in the corpus, with the duplicated
    // token mass (occurrences beyond the first keeper). Pure hash-agg
    // over the chunk stream — the group key is the chunk hash, so the
    // exchange carries one row per DISTINCT duplicated chunk.
    "q416_cdc_dedup" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(ColumnBridge.column(
          CdcChunkSet(ColumnBridge.expression(col("text")), cdcMod))).as("c"))
        .select(col("doc_id"), md5(col("c.chunk")).as("chunk_md5"),
          size(split(col("c.chunk"), " ")).as("n_toks"))
        .groupBy("chunk_md5")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("keeper"),
          // same md5 ⟹ same chunk string ⟹ same n_toks; min == any
          ((count(lit(1)) - 1) * min(col("n_toks"))).as("dup_tokens"))
        .filter(col("n_occ") >= 2),
      Some(s"""WITH $cdcChunksCte
             SELECT md5(chunk) AS chunk_md5,
               CAST(count(*) AS BIGINT) AS n_occ,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               min(doc_id) AS keeper,
               CAST((count(*) - 1) * min(n_toks) AS BIGINT) AS dup_tokens
             FROM chunks GROUP BY 1 HAVING count(*) >= 2"""))
  )
}
