package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.text.ChunkIndex

/** Round-51 additions (build round 12, wave 7): the persisted
  * CDC-chunk index append loop — the exact-chunk member of the
  * incremental-dedup index trilogy (q194/q195 MinHash buckets,
  * q382/q384 embedding cells, now content chunks):
  *
  *  - q419 probe: a new batch is chunked once and hash-joined against
  *    the persisted index (the corpus is never re-read);
  *  - q420 merge: the accepted batch folds into the index with
  *    min/sum combination, pinned row-for-row against a from-scratch
  *    rebuild (no frozen-parameter caveat — CDC boundaries depend only
  *    on content).
  *
  * Split fixture: index corpus = doc_id % 10 ≠ 0, batch = % 10 = 0.
  */
object Round51Queries {

  private def splitDocs(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d)
    (docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    "q419_chunk_index_probe" -> QueryDef(
      (s, d) => {
        val (corpus, batch) = splitDocs(s, d)
        val path = graft.tools.Staging.dir("chunk_index_probe", d)
        ChunkIndex.build(corpus, "doc_id", "text", Round49Queries.cdcMod)
          .write.mode("overwrite").parquet(path)
        ChunkIndex.probe(s.read.parquet(path), batch, "doc_id", "text",
          Round49Queries.cdcMod)
      },
      Some(s"""WITH ${Round49Queries.cdcChunksCte},
             idx AS (SELECT DISTINCT md5(chunk) AS h FROM chunks
               WHERE doc_id % 10 != 0),
             bat AS (SELECT doc_id, md5(chunk) AS h, n_toks FROM chunks
               WHERE doc_id % 10 = 0)
             SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN idx.h IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_dup_idx,
               CAST(sum(CASE WHEN idx.h IS NOT NULL THEN n_toks ELSE 0 END)
                 AS BIGINT) AS dup_tokens
             FROM bat LEFT JOIN idx ON bat.h = idx.h
             GROUP BY 1""")),

    // merge ≡ rebuild: the oracle aggregates the FULL corpus from
    // scratch; the engine merges the persisted corpus index with the
    // batch delta — identical rows proves the append loop is exact.
    "q420_chunk_index_merge" -> QueryDef(
      (s, d) => {
        val (corpus, batch) = splitDocs(s, d)
        val path = graft.tools.Staging.dir("chunk_index_merge", d)
        ChunkIndex.build(corpus, "doc_id", "text", Round49Queries.cdcMod)
          .write.mode("overwrite").parquet(path)
        ChunkIndex.merge(s.read.parquet(path), batch, "doc_id", "text",
          Round49Queries.cdcMod)
      },
      Some(s"""WITH ${Round49Queries.cdcChunksCte}
             SELECT md5(chunk) AS chunk_md5, min(doc_id) AS keeper,
               CAST(count(*) AS BIGINT) AS n_occ
             FROM chunks GROUP BY 1"""))
  )
}
