package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.{QueryDef, Tables}
import graft.functions.Num
import graft.io.CsvPandas

/** Round-14 additions: bz2 compressed-CSV round-trip (the reference's
  * `frontend/io.py:124-443` accepts gzip AND bz2 compression — q192
  * gated gzip only).
  */
object Round14Queries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // §2.1 bz2 CSV round-trip, mirror of q192_csv_gzip: write bzip2
    // parts, read back purely by .bz2 extension inference, aggregate;
    // the oracle recomputes from the ORIGINAL parquet so the
    // compressed round-trip itself is under test. (Scale note: bz2 is
    // splittable under Hadoop input formats — unlike gzip, a large
    // .bz2 CSV still parallelizes across executors.)
    "q250_csv_bz2" -> QueryDef(
      (s, d) => {
        val path = graft.tools.Staging.dir("csv_bz2", d)
        val src = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        CsvPandas.write(src, path, header = true, compression = Some("bzip2"))
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType),
          StructField("o_totalprice", DoubleType)))
        CsvPandas.read(s, path,
            CsvPandas.ReadOptions(header = true, schema = Some(schema)))
          .groupBy((col("o_custkey") % 7).as("bucket"))
          .agg(count(lit(1)).as("n"),
            Num.sumMoney(col("o_totalprice")).as("total"))
      },
      Some("""SELECT o_custkey % 7 AS bucket, CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
             FROM orders GROUP BY 1""")),

    // §2.1 CSV dialect robustness (reference tests/io quote-style
    // fixtures, frontend/io.py quotechar/doublequote surface): fields
    // containing the delimiter, the quote char, AND embedded newlines
    // survive a pandas-dialect (RFC4180 doubled-quote) round-trip.
    // multiLine read is required for the newlines — and makes each file
    // one task, which is why the gnarly columns ride MANY part files
    // here (scale note in CsvPandas.ReadOptions).
    // Oracle recomputes from the ORIGINAL parquet: only the round-trip
    // fidelity is under test.
    "q251_csv_quotes" -> QueryDef(
      (s, d) => {
        val path = graft.tools.Staging.dir("csv_quotes", d)
        val gnarly = concat(col("o_orderpriority"), lit("\"x,"),
          lit("\n"), col("o_orderstatus"))
        val src = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"), gnarly.as("g"))
        CsvPandas.write(src, path, header = true)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderstatus",
            org.apache.spark.sql.types.StringType),
          StructField("g", org.apache.spark.sql.types.StringType)))
        CsvPandas.read(s, path, CsvPandas.ReadOptions(
            header = true, schema = Some(schema), multiLine = true))
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n"),
            sum(length(col("g"))).cast("long").as("chars"),
            sum(when(col("g").contains("\"x,"), 1L).otherwise(0L)).as("quoted"))
      },
      Some("""SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(length(o_orderpriority || '"x,' || chr(10) || o_orderstatus)) AS BIGINT) AS chars,
             CAST(count(*) AS BIGINT) AS quoted
             FROM orders GROUP BY 1""")),

    // Fuzzy-dedup VERIFY stage: LSH candidates (recall 1.0 at these SFs
    // vs the exact inverted index — the q55 contract) confirmed by
    // exact character-level Levenshtein ≤ 5. Edit distance runs ONLY on
    // the bounded candidate set after a point-lookup text fetch — never
    // all pairs. Oracle: the q54 exact-pair CTEs + DuckDB's levenshtein
    // (same classic insert/delete/substitute metric as Spark's).
    "q253_editdist_verify" -> QueryDef(
      (s, d) => graft.text.EditVerify.nearDuplicates(
        Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.5, maxEdit = 5),
      Some(s"""WITH ${TextQueries.pairsOracleCtes}
             SELECT p.id1, p.id2, p.jaccard,
               CAST(levenshtein(d1.text, d2.text) AS BIGINT) AS edit
             FROM pairs p
             JOIN documents d1 ON p.id1 = d1.doc_id
             JOIN documents d2 ON p.id2 = d2.doc_id
             WHERE levenshtein(d1.text, d2.text) <= 5""")),

    // §2.10 bounded-state streaming dedup: dropDuplicatesWithinWatermark
    // (key state EVICTED at the watermark — the unbounded-source-safe
    // twin of q68's dropDuplicates). Bounded replay ⇒ equals batch
    // DISTINCT, which the oracle replays.
    "q254_stream_dedup_bounded" -> QueryDef(
      (s, d) => graft.streaming.EventStreams.dedupCountsBounded(s, d),
      Some("""SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique
             FROM events GROUP BY 1""")),

    // §2.10 stream-stream LEFT OUTER interval join (append mode,
    // watermark-bounded state, multi-batch chronological replay with
    // flush sentinels — EventStreams.stageSplitDir): unmatched
    // purchases emit exactly once with a NULL click id after the
    // watermark closes their window. Oracle: the equivalent batch
    // left join.
    "q252_stream_outer_join" -> QueryDef(
      (s, d) => graft.streaming.EventStreams.streamStreamOuterJoin(s, d),
      Some("""SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id
             FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
               ON p.user_id = c.user_id
              AND c.ts >= p.ts - INTERVAL 30 MINUTE
              AND c.ts <= p.ts""")))
}
