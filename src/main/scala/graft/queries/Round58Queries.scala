package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.{QueryDef, Tables}
import graft.functions.Num
import graft.text.NgramList

/** Round-58 additions (build round 13, wave 1):
  *
  *  - q436 FILE-SINK twin of the streaming gram-index probe (q433):
  *    identical stateful stream, but each trigger lands the report via
  *    `foreachBatch` parquet overwrite and the result is read back from
  *    the files — retiring the memory-sink caveat for the index-probe
  *    family (VERDICT r12 item 7; q397 covered curation).
  *  - q437 multinomial Naive-Bayes language model: FIT on the corpus
  *    split (per-class token likelihoods with Laplace smoothing — the
  *    trainable half of model-based quality/language filtering; q261 is
  *    the frozen-weights deployment half), SCORE the held-out split,
  *    and report the confusion matrix. All transcendental terms follow
  *    the q153 discipline (6dp-rounded ln, DECIMAL-summed) so the
  *    argmax is bit-identical cross-engine.
  *  - q438 cluster-capped sampling (ClusterClip-style diversity valve):
  *    q373's count-derived embedding cells, at most m vectors kept per
  *    cell by deterministic hash election — the embedding-space twin of
  *    the q400 per-source quota cap. Bounded GroupTopK heaps, one
  *    exchange.
  *  - q439 n-gram NOVELTY scoring vs a reference corpus: per new doc,
  *    the fraction of its distinct token 3-grams unseen in the
  *    reference split — the dedup-aware freshness score a data-mixing
  *    pass weights by (the scoring complement of decontamination's
  *    q161 overlap gate).
  */
object Round58Queries {

  private val CAP = 8 // q438: max vectors kept per cell

  val defs: Seq[(String, QueryDef)] = Seq(

    "q436_stream_gram_probe_files" -> QueryDef(
      (s, d) => graft.streaming.DocStreams.gramIndexProbeStreamToFiles(s, d, 8),
      Round56Queries.probeOracle),

    // NB fit + score + confusion — see [[graft.text.NaiveBayes]] for
    // the scale shape (distributed vocab×class table, 1-row driver
    // stats, one hash join, min(struct) argmax — no window).
    "q437_naive_bayes_lang" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.text.NaiveBayes.confusion(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0),
            "text", "lang", "doc_id")
          .select(col("true_label").as("true_lang"),
            col("pred_label").as("pred_lang"), col("n_docs"))
      },
      Some("""WITH train AS (SELECT * FROM documents WHERE doc_id % 10 != 0),
             test AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
             ttk AS (SELECT lang,
                 unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
               FROM train),
             cstat AS (SELECT lang, CAST(count(*) AS BIGINT) AS nc
               FROM ttk GROUP BY 1),
             vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM ttk),
             tr_n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM train),
             prior AS (SELECT lang,
                 CAST(round(ln(CAST(count(*) AS DOUBLE) / tr_n.n), 6)
                   AS DECIMAL(18,6)) AS pr
               FROM train, tr_n GROUP BY lang, tr_n.n),
             wc AS (SELECT tok, lang, CAST(count(*) AS BIGINT) AS c
               FROM ttk GROUP BY 1, 2),
             qt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS o
               FROM (SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
                 FROM test) GROUP BY 1, 2),
             terms AS (SELECT q.doc_id, cs.lang,
                 CAST(q.o AS DECIMAL(18,0)) *
                 CAST(round(ln((COALESCE(w.c, 0) + 1)
                   / CAST(cs.nc + vv.v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS t
               FROM qt q CROSS JOIN cstat cs CROSS JOIN vv
               LEFT JOIN wc w ON w.tok = q.tok AND w.lang = cs.lang),
             sc AS (SELECT t.doc_id, t.lang, sum(t.t) + any_value(p.pr) AS score
               FROM terms t JOIN prior p ON p.lang = t.lang GROUP BY 1, 2),
             pred AS (SELECT doc_id, lang AS pred_lang,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, lang) AS rk
               FROM sc)
             SELECT t.lang AS true_lang, p.pred_lang,
               CAST(count(*) AS BIGINT) AS n_docs
             FROM pred p JOIN test t USING (doc_id)
             WHERE p.rk = 1 GROUP BY 1, 2""")),

    // ClusterClip: same count-derived cell scheme as q373 (expected
    // cell size constant at any corpus size), deterministic md5
    // election, CAP kept per cell via GroupTopK bounded heaps — the
    // diversity-preserving downsampling valve over embedding space.
    "q438_cluster_cap" -> QueryDef(
      (s, d) => {
        val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val sim = graft.similarity.Similarity
        val assigned = emb.select(col("vec_id"),
          sim.signCell(col("embedding"), 0, sim.foldModulus(emb, 256)).as("cell"),
          md5(concat(lit("cap:"), col("vec_id").cast("string"))).as("h"))
        val kept = graft.plans.GroupTopK.topKPerKey(
            assigned, Seq("cell"), Seq(("h", false)), CAP)
          .select(col("vec_id"), lit(true).as("k0"))
        assigned.select("vec_id", "cell")
          .join(kept, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"),
            coalesce(col("k0"), lit(false)).as("kept"))
      },
      Some(s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
             cc AS (SELECT greatest(1, (n + 255) // 256) AS c FROM nn),
             a AS (SELECT vec_id,
                 CAST(${SimilarityQueries.sigSql32("embedding")} % cc.c AS BIGINT)
                   AS cell,
                 md5('cap:' || CAST(vec_id AS VARCHAR)) AS h
               FROM embeddings CROSS JOIN cc),
             r AS (SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY cell ORDER BY h) AS rk
               FROM a)
             SELECT vec_id, cell, rk <= $CAP AS kept FROM r""")),

    // Novelty: distinct 3-grams per new doc LEFT-join the reference
    // split's distinct-gram set (hash join on the 128-bit gram hash —
    // the decontamination join shape, emitting a per-doc score instead
    // of a quarantine flag). Output ∝ new docs; reference grams cross
    // the wire once.
    "q439_ngram_novelty" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        def grams(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"),
            explode(ColumnBridge.column(NgramList(
              ColumnBridge.expression(col("text")), 3))).as("g"))
          .select(col("doc_id"), md5(col("g")).as("h"))
          .distinct()
        val ref = grams(docs.filter(col("doc_id") % 10 =!= 0))
          .select("h").distinct().withColumn("seen", lit(true))
        grams(docs.filter(col("doc_id") % 10 === 0))
          .join(ref, Seq("h"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty",
            Num.rnd(col("n_novel").cast("double") / col("n_grams"), 6))
      },
      Some("""WITH tk AS (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM documents),
             gr AS (SELECT doc_id,
                 md5(array_to_string(toks[p:p+2], ' ')) AS h
               FROM tk, unnest(range(1, len(toks) - 1)) t(p)),
             ref AS (SELECT DISTINCT h FROM gr WHERE doc_id % 10 != 0),
             ng AS (SELECT DISTINCT doc_id, h FROM gr WHERE doc_id % 10 = 0)
             SELECT ng.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_novel,
               round(CAST(sum(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS novelty
             FROM ng LEFT JOIN ref r ON ng.h = r.h
             GROUP BY 1"""))
  )
}
