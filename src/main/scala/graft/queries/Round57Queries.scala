package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.text.GramIndex

/** Round-57 additions (build round 12, wave 13): q434 RETENTION delete
  * with index repair — the deletion leg of the persisted-index story
  * (every other index op is append-only). A delete set leaves the
  * corpus AND the gram index must follow: counts decrement INDEX-ONLY
  * (only the deleted docs are re-scanned), and the grams whose
  * canonical owner was deleted are re-elected from survivors with the
  * survivor scan semi-joined down to exactly the stale grams. Pinned
  * repair ≡ rebuild-from-survivors. Delete fixture: doc_id % 7 = 0.
  */
object Round57Queries {

  private val L = 8

  val defs: Seq[(String, QueryDef)] = Seq(

    "q434_retention_delete" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val deleted = docs.filter(col("doc_id") % 7 === 0)
        val survivors = docs.filter(col("doc_id") % 7 =!= 0)
        val path = graft.tools.Staging.dir("gram_index_full", d)
        GramIndex.build(docs, "doc_id", "text", L)
          .write.mode("overwrite").parquet(path)
        GramIndex.retentionRepair(s.read.parquet(path), deleted, survivors,
          "doc_id", "text", L)
      },
      Some(s"""WITH tk AS (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM documents WHERE doc_id % 7 != 0),
             gr AS (SELECT doc_id, p,
                 md5(array_to_string(toks[p:p+${L - 1}], ' ')) AS h
               FROM tk, unnest(range(1, len(toks) - ${L - 2})) t(p))
             SELECT h AS gram_md5, min(doc_id) AS owner,
               CAST(count(*) AS BIGINT) AS n_occ
             FROM gr GROUP BY 1""")),

    // DoReMi-style source reweighting (Xie et al. 2023, one
    // multiplicative-weights round): reference weight = token share,
    // boosted by exp(excess quality) per source — sources scoring
    // above the corpus mean gain sampling mass. Exactness follows the
    // q162/q153 discipline: every transcendental output is rounded to
    // the 6dp grid BEFORE any sum, every sum is DECIMAL (order-free),
    // and the final normalization is a double ratio of identical
    // decimal inputs. One documents scan + two 1-row broadcasts.
    "q435_doremi_reweight" -> QueryDef(
      (s, d) => {
        import graft.functions.Num
        import graft.text.TextStats
        val perSrc = Tables.documents(s, d).groupBy("source").agg(
          sum(TextStats.nTokens(col("text")).cast("long")).as("toks"),
          count(lit(1)).as("n_docs"),
          sum(Num.rnd(TextStats.qualityScore(col("text")), 6)
            .cast("decimal(28,6)")).as("q_sum"))
          .withColumn("mean_q",
            Num.rnd(col("q_sum").cast("double") / col("n_docs"), 6))
        val tot = perSrc.agg(sum("q_sum").as("q_tot"), sum("n_docs").as("n_tot"))
        val boosted = perSrc.crossJoin(broadcast(tot))
          .withColumn("corpus_q",
            Num.rnd(col("q_tot").cast("double") / col("n_tot"), 6))
          .withColumn("boost",
            Num.rnd(exp(col("mean_q") - col("corpus_q")), 6))
          .withColumn("u6", Num.rnd(col("toks").cast("double") * col("boost"), 6)
            .cast("decimal(38,6)"))
        val norm = boosted.agg(sum("u6").as("u_tot"))
        boosted.crossJoin(broadcast(norm))
          .select(col("source"), col("toks"), col("mean_q"), col("boost"),
            Num.rnd(col("u6").cast("double") / col("u_tot").cast("double"), 6)
              .as("weight"))
      },
      Some(s"""WITH ps AS (SELECT source,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 sum(CAST(round((${TextQueries.qualitySql}) * 1e6) / 1e6
                   AS DECIMAL(28,6))) AS q_sum
               FROM documents GROUP BY 1),
             m AS (SELECT *, round(CAST(q_sum AS DOUBLE) / n_docs * 1e6) / 1e6
                 AS mean_q FROM ps),
             tot AS (SELECT sum(q_sum) AS q_tot,
                 CAST(sum(n_docs) AS BIGINT) AS n_tot FROM ps),
             b AS (SELECT m.*,
                 round(exp(mean_q - round(CAST(q_tot AS DOUBLE) / n_tot * 1e6)
                   / 1e6) * 1e6) / 1e6 AS boost
               FROM m, tot),
             u AS (SELECT *, CAST(round(toks * boost * 1e6) / 1e6
                 AS DECIMAL(38,6)) AS u6 FROM b),
             n AS (SELECT sum(u6) AS u_tot FROM u)
             SELECT source, toks, mean_q, boost,
               round(CAST(u6 AS DOUBLE) / CAST(u_tot AS DOUBLE) * 1e6) / 1e6
                 AS weight
             FROM u, n"""))
  )
}
