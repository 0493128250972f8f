package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.{QueryDef, Tables}
import graft.text.{NgramList, TextStats}

/** Round-55 additions (build round 12, wave 11): acting on the span
  * report —
  *
  *  - q429 duplicated-span REMOVAL (the cleaning transform behind
  *    q424's inventory; Lee et al. 2022 keep-one-occurrence): every
  *    duplicated token 8-gram keeps its occurrence in the CANONICAL
  *    owner document (global min doc_id) and is excised everywhere
  *    else; documents are reconstructed from the surviving tokens.
  *    Within-owner repeats are kept (the owner carries the canonical
  *    copy; the contract is deterministic and oracle-replayable).
  *  - q430 audio VAD utterance segmentation: maximal runs of
  *    non-silent frames (q423's frame-energy stream) become
  *    utterances via the lag-islands interval trick — per clip the
  *    utterance count, voiced-frame mass, and longest utterance.
  */
object Round55Queries {

  private val L = 8

  val defs: Seq[(String, QueryDef)] = Seq(

    // Span removal. Shape at scale: gram scan (codegen Generate) →
    // one gram-hash agg (owner election rides the same exchange as the
    // dup count) → join-back → the covered-position expansion is ∝
    // removable occurrences × L → anti-join on (doc, pos) → per-doc
    // reassembly. No driver state, no windows; output ∝ documents.
    "q429_dup_span_removal" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val g = docs
          .select(col("doc_id"), posexplode(ColumnBridge.column(NgramList(
            ColumnBridge.expression(col("text")), L))).as(Seq("p0", "g")))
          .select(col("doc_id"), (col("p0") + 1).as("p"), md5(col("g")).as("h"))
        val own = g.groupBy("h")
          .agg(min("doc_id").as("owner"), count(lit(1)).as("c"))
          .filter(col("c") >= 2).select("h", "owner")
        val cov = g.join(own, "h")
          .filter(col("doc_id") =!= col("owner"))
          .select(col("doc_id"),
            explode(sequence(col("p"), col("p") + lit(L - 1))).as("pos"))
          .distinct()
        val tok = docs
          .select(col("doc_id"), posexplode(TextStats.tokensNonEmpty(col("text"))).as(Seq("pos0", "tok")))
          .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
        tok.join(cov, Seq("doc_id", "pos"), "left_anti")
          .groupBy("doc_id")
          .agg(array_join(expr(
            "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
            " ").as("clean_text"),
            count(lit(1)).as("n_kept"))
      },
      Some(s"""WITH tk AS (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM documents),
             gr AS (SELECT doc_id, p,
                 md5(array_to_string(toks[p:p+${L - 1}], ' ')) AS h
               FROM tk, unnest(range(1, len(toks) - ${L - 2})) t(p)),
             own AS (SELECT h, min(doc_id) AS owner
               FROM gr GROUP BY h HAVING count(*) >= 2),
             rem AS (SELECT g.doc_id, g.p FROM gr g JOIN own o ON g.h = o.h
               WHERE g.doc_id <> o.owner),
             cov AS (SELECT DISTINCT doc_id, p + i AS pos
               FROM rem, unnest(range(0, $L)) t(i)),
             tok AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
                 unnest(toks) AS tok
               FROM tk),
             kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
               WHERE NOT EXISTS (SELECT 1 FROM cov c
                 WHERE c.doc_id = t.doc_id AND c.pos = t.pos))
             SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
               CAST(count(*) AS BIGINT) AS n_kept
             FROM kept GROUP BY 1""")),

    // VAD utterances over q423's frame energies: islands of
    // consecutive non-silent frames. Fully-silent clips (id ≡ 0 mod 4
    // attenuated synth) yield no row — the trim-everything case.
    "q430_audio_vad" -> QueryDef(
      (s, d) => {
        val fr = Round53Queries.stagedFrames(s, d, "q430")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("frame_idx")
        fr.filter(!col("is_silence"))
          .withColumn("f",
            when(lag("frame_idx", 1).over(w).isNull ||
              col("frame_idx") - lag("frame_idx", 1).over(w) > 1, 1)
              .otherwise(0))
          .withColumn("island", sum("f").over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
          .groupBy("doc_id", "island")
          .agg(count(lit(1)).as("len"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_utterances"),
            sum("len").as("voiced_frames"),
            max("len").as("longest_utt"))
      },
      Some(s"""WITH sel AS (SELECT doc_id, 256 + doc_id % 128 AS n
                 FROM documents WHERE doc_id % 5 = 0),
             smp AS (SELECT doc_id, n, unnest(range(n)) AS i FROM sel),
             v AS (SELECT doc_id, i // 64 AS frame_idx,
                 CASE WHEN doc_id % 4 = 0
                   THEN ((7919 * doc_id + 104729 * i) % 65536 - 32768) // 16
                   ELSE (7919 * doc_id + 104729 * i) % 65536 - 32768 END AS s
               FROM smp),
             fr AS (SELECT doc_id, frame_idx, count(*) AS n_samples,
                 CAST(sum(s * s) AS BIGINT) AS sum_sq
               FROM v GROUP BY 1, 2),
             nf AS (SELECT doc_id, frame_idx FROM fr
               WHERE sum_sq >= 100000000 * n_samples),
             brk AS (SELECT doc_id, frame_idx,
                 CASE WHEN lag(frame_idx) OVER (PARTITION BY doc_id
                     ORDER BY frame_idx) IS NULL
                   OR frame_idx - lag(frame_idx) OVER (PARTITION BY doc_id
                     ORDER BY frame_idx) > 1 THEN 1 ELSE 0 END AS f
               FROM nf),
             iid AS (SELECT doc_id, frame_idx,
                 sum(f) OVER (PARTITION BY doc_id ORDER BY frame_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
               FROM brk),
             utt AS (SELECT doc_id, island, count(*) AS len
               FROM iid GROUP BY 1, 2)
             SELECT doc_id, CAST(count(*) AS BIGINT) AS n_utterances,
               CAST(sum(len) AS BIGINT) AS voiced_frames,
               CAST(max(len) AS BIGINT) AS longest_utt
             FROM utt GROUP BY 1"""))
  )
}
