package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.{Casts, Num}
import graft.io.CsvPandas

/** Round-7 evidence closers: the remaining strptime directives the
  * reference's datetime parser handles, and a compressed-CSV read
  * round-trip (reference `frontend/io.py` gzip/bz2;
  * `src/io/tasks/read_csv.cc:208` reads compressed splits).
  */
object Round7Queries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // §2.8 to_datetime directive breadth
    // (src/string/tasks/to_datetime.cc:211-246: %y %j %I %p %f beyond
    // the %Y%m%d %H%M%S already covered by q41/q90). Strings are built
    // from table columns identically in both engines, then parsed with
    // the SAME strptime format string on both sides. Two-digit years
    // stay in 00–68 where the POSIX pivot (DuckDB/pandas) and Spark's
    // 2000-based `yy` agree — the divergent 69–99 range is documented
    // in Casts.strptimeToJava.
    "q191_datetime_directives" -> QueryDef(
      (s, d) => {
        val o = Tables.orders(s, d).select(
          col("o_orderkey"),
          lpad((col("o_orderkey") % 69).cast("string"), 2, "0").as("yy"),
          lpad((col("o_orderkey") % 365 + 1).cast("string"), 3, "0").as("jjj"),
          lpad((col("o_custkey") % 28 + 1).cast("string"), 2, "0").as("dd"),
          lpad((col("o_custkey") % 12 + 1).cast("string"), 2, "0").as("hh12"),
          when(col("o_custkey") % 2 === 0, "AM").otherwise("PM").as("ampm"),
          lpad((col("o_orderkey") % 1000000).cast("string"), 6, "0").as("us"))
        o.select(
          col("o_orderkey"),
          Casts.toDatetime(
            concat_ws(" ", col("yy"), col("jjj")), "%y %j")
            .cast("date").as("d_yj"),
          unix_micros(Casts.toDatetime(
            concat(lit("2021-07-"), col("dd"), lit(" "),
              col("hh12"), lit(":30 "), col("ampm")),
            "%Y-%m-%d %I:%M %p")).as("t_ampm_us"),
          unix_micros(Casts.toDatetime(
            concat(lit("2021-03-04 05:06:07."), col("us")),
            "%Y-%m-%d %H:%M:%S.%f")).as("t_frac_us"))
      },
      // DuckDB's strptime parses %j but IGNORES it when resolving the
      // date, so the %y %j expectation is rebuilt arithmetically
      // (Jan 1 of the pivoted year + day-of-year - 1).
      Some("""WITH b AS (SELECT o_orderkey,
               CAST(o_orderkey % 69 AS INTEGER) AS yy,
               CAST(o_orderkey % 365 + 1 AS INTEGER) AS jjj,
               lpad(CAST(o_custkey % 28 + 1 AS VARCHAR), 2, '0') AS dd,
               lpad(CAST(o_custkey % 12 + 1 AS VARCHAR), 2, '0') AS hh12,
               CASE WHEN o_custkey % 2 = 0 THEN 'AM' ELSE 'PM' END AS ampm,
               lpad(CAST(o_orderkey % 1000000 AS VARCHAR), 6, '0') AS us
             FROM orders)
             SELECT o_orderkey,
               make_date(2000 + yy, 1, 1) + (jjj - 1) AS d_yj,
               epoch_us(strptime('2021-07-' || dd || ' ' || hh12 || ':30 ' || ampm,
                 '%Y-%m-%d %I:%M %p')) AS t_ampm_us,
               epoch_us(strptime('2021-03-04 05:06:07.' || us,
                 '%Y-%m-%d %H:%M:%S.%f')) AS t_frac_us
             FROM b""")),

    // §2.1 compressed CSV read: write gzip parts, read them back purely
    // by extension inference (no codec hint on the read side), aggregate;
    // the oracle recomputes from the ORIGINAL parquet table so the
    // compressed round-trip itself is what is under test.
    "q192_csv_gzip" -> QueryDef(
      (s, d) => {
        val path = graft.tools.Staging.dir("csv_gz", d)
        val src = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        CsvPandas.write(src, path, header = true, compression = Some("gzip"))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("o_orderkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("o_custkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("o_totalprice",
            org.apache.spark.sql.types.DoubleType)))
        CsvPandas.read(s, path,
            CsvPandas.ReadOptions(header = true, schema = Some(schema)))
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            Num.sumMoney(col("o_totalprice")).as("total"))
      },
      Some("""SELECT o_custkey % 10 AS bucket, CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
             FROM orders GROUP BY 1""")),

    // §2.1 Arrow IPC export/import (the Spark-native stand-in for the
    // reference's to_pandas Arrow handoff, core/runtime.py:531-758):
    // write an orders slice as .arrows stream parts, read them back,
    // aggregate — the oracle recomputes from the ORIGINAL parquet, so
    // the Arrow round-trip (schema mapping, µs timestamps, string,
    // double, long, nulls in o_comment-free columns) is what's tested.
    "q193_arrow_roundtrip" -> QueryDef(
      (s, d) => {
        val path = graft.tools.Staging.dir("arrow_rt", d)
        val src = Tables.orders(s, d).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
        graft.io.ArrowIpc.write(src, path)
        graft.io.ArrowIpc.read(s, path)
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n"),
            Num.sumMoney(col("o_totalprice")).as("total"),
            // NTZ → TZ cast is identity wall-clock under the UTC session
            max(unix_micros(col("o_orderdate").cast("timestamp"))).as("max_date_us"),
            sum(col("o_orderkey")).as("key_sum"))
      },
      Some("""SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total,
             max(epoch_us(o_orderdate)) AS max_date_us,
             CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             FROM orders GROUP BY 1""")),

    // INCREMENTAL near-dup dedup — the realistic 100 TB curation
    // workflow: the corpus is deduplicated once and its LSH bucket
    // index PERSISTED; each new crawl batch probes the stored index
    // (bucket join on (band, h)) and only candidate corpus docs are
    // re-shingled for the exact verify. The parquet write/read of the
    // index is part of the query, so the persist contract itself is
    // oracle-gated. Recall: same k=64/r=4 banding as q55, whose exact
    // oracle has held recall 1.0 at every SF since round 2; the oracle
    // below is the exact batch×corpus inverted-index SQL.
    "q194_incremental_dedup" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val batch = docs.filter(col("doc_id") % 5 === 0)
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val idxPath = graft.tools.Staging.dir("lsh_index", d)
        graft.text.MinHash.bucketIndex(corpus, "doc_id", "text")
          .write.mode("overwrite").partitionBy("band").parquet(idxPath)
        val index = s.read.parquet(idxPath)
        graft.text.MinHash
          .probeIndex(index, batch, corpus, "doc_id", "text", threshold = 0.5)
          .select(col("new_id"), col("corpus_id"),
            Num.rnd(col("jaccard"), 6).as("jaccard"))
      },
      Some(s"""WITH ${graft.queries.TextQueries.shingleCte},
             sizes AS (SELECT doc_id, len(s) AS n FROM sh),
             inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
             common AS (
               SELECT b.doc_id AS new_id, c.doc_id AS corpus_id, count(*) AS cnt
               FROM inv b JOIN inv c ON b.g = c.g
               WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
               GROUP BY 1, 2)
             SELECT new_id, corpus_id, jaccard FROM (
               SELECT new_id, corpus_id,
                 round(cnt * 1.0 / (s1.n + s2.n - cnt), 6) AS jaccard
               FROM common JOIN sizes s1 ON common.new_id = s1.doc_id
                           JOIN sizes s2 ON common.corpus_id = s2.doc_id)
             WHERE jaccard >= 0.5""")),

    // STREAMING twin of q194: the batch arrives as a microbatched
    // stream and probes the static bucket index; same oracle SQL
    // (the streamed computation must converge to the batch answer).
    "q195_stream_incr_dedup" -> QueryDef(
      (s, d) => graft.streaming.DocStreams.incrementalDedup(s, d)
        .select(col("new_id"), col("corpus_id"),
          Num.rnd(col("jaccard"), 6).as("jaccard")),
      Some(s"""WITH ${graft.queries.TextQueries.shingleCte},
             sizes AS (SELECT doc_id, len(s) AS n FROM sh),
             inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
             common AS (
               SELECT b.doc_id AS new_id, c.doc_id AS corpus_id, count(*) AS cnt
               FROM inv b JOIN inv c ON b.g = c.g
               WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
               GROUP BY 1, 2)
             SELECT new_id, corpus_id, jaccard FROM (
               SELECT new_id, corpus_id,
                 round(cnt * 1.0 / (s1.n + s2.n - cnt), 6) AS jaccard
               FROM common JOIN sizes s1 ON common.new_id = s1.doc_id
                           JOIN sizes s2 ON common.corpus_id = s2.doc_id)
             WHERE jaccard >= 0.5""")),

    // TPC-H Q21 shape (adapted: no l_commitdate/receiptdate, so
    // "late" := returnflag = 'R'): suppliers SOLELY responsible on a
    // multi-supplier order — EXISTS a different supplier on the order
    // AND NOT EXISTS a different supplier also late. The decisive
    // planning test: the same fact table three times, once as a
    // left_semi and once as a left_anti with non-equi residuals —
    // Catalyst keeps both as hash joins on l_orderkey (residual
    // filters the suppkey inequality); no nested loop.
    "q196_tpch_q21" -> QueryDef(
      (s, d) => {
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey").distinct()
        val late = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_suppkey").distinct()
        val sole = late.as("l1")
          .join(li.as("l2"),
            col("l1.l_orderkey") === col("l2.l_orderkey") &&
              col("l1.l_suppkey") =!= col("l2.l_suppkey"), "left_semi")
          .as("l1")
          .join(late.as("l3"),
            col("l1.l_orderkey") === col("l3.l_orderkey") &&
              col("l1.l_suppkey") =!= col("l3.l_suppkey"), "left_anti")
        sole.join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name").agg(count(lit(1)).as("numwait"))
      },
      Some("""WITH late AS (SELECT DISTINCT l_orderkey, l_suppkey
                FROM lineitem WHERE l_returnflag = 'R'),
              alls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
             SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
             FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
             WHERE EXISTS (SELECT 1 FROM alls l2
                     WHERE l2.l_orderkey = l1.l_orderkey
                       AND l2.l_suppkey <> l1.l_suppkey)
               AND NOT EXISTS (SELECT 1 FROM late l3
                     WHERE l3.l_orderkey = l1.l_orderkey
                       AND l3.l_suppkey <> l1.l_suppkey)
             GROUP BY 1""")),

    // TPC-H Q22 shape (adapted: nation-code bucket for the phone
    // prefix): customers in selected codes with above-average positive
    // balance and NO orders. Scalar subquery = single-row broadcast
    // cross join (stays in-plan, no driver round-trip); NOT EXISTS =
    // left_anti against the distinct order custkeys.
    "q197_tpch_q22" -> QueryDef(
      (s, d) => {
        val c = Tables.customer(s, d)
          .withColumn("cc", (col("c_nationkey") % 5).cast("int"))
          .filter(col("cc").isin(0, 1, 2))
        val avgBal = c.filter(col("c_acctbal") > 0.0)
          .agg(avg(col("c_acctbal")).as("ab"))
        c.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("ab"))
          .join(Tables.orders(s, d).select(col("o_custkey").as("c_custkey"))
            .distinct(), Seq("c_custkey"), "left_anti")
          .groupBy("cc")
          .agg(count(lit(1)).as("numcust"),
            Num.sumMoney(col("c_acctbal")).as("totacctbal"))
      },
      Some("""SELECT CAST(c_nationkey % 5 AS INTEGER) AS cc,
               CAST(count(*) AS BIGINT) AS numcust,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS totacctbal
             FROM customer
             WHERE c_nationkey % 5 IN (0, 1, 2)
               AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                                WHERE c_acctbal > 0
                                  AND c_nationkey % 5 IN (0, 1, 2))
               AND NOT EXISTS (SELECT 1 FROM orders
                               WHERE o_custkey = c_custkey)
             GROUP BY 1""")),

    // WINNOW-SAMPLED substring-dup pairs — q169's bounded scale twin
    // (SubstringDup scaladoc): w=8 keeps the per-window min gram
    // (~2/9 of the index) while the MOSS guarantee still catches any
    // shared substring of length ≥ k+w-1 = 27 chars. minShared=5 ≈
    // q169's 25 at the sampling rate. The oracle recomputes the
    // winnowing itself (min over an 8-gram window, q145's construction
    // at k=20) — the sampling is checked, not assumed.
    "q198_substring_dup_winnowed" -> QueryDef(
      (s, d) => graft.text.SubstringDup.pairs(
        Tables.fanout(Tables.documents(s, d), d, "documents"),
        "doc_id", "text", k = 20, w = 8, minShared = 5),
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS n
                 FROM documents WHERE length(text) >= 27),
             pos AS (SELECT doc_id, text, n,
                 unnest(range(1, CAST(n - 18 AS BIGINT))) AS i FROM d),
             g AS (SELECT doc_id, n, i,
                 substr(md5(substr(text, CAST(i AS INT), 20)), 1, 16) AS h
               FROM pos),
             w AS (SELECT doc_id, i, n,
                 min(h) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn
               FROM g),
             f AS (SELECT DISTINCT doc_id, mn FROM w WHERE i <= n - 26),
             sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng
                       FROM f GROUP BY 1),
             common AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                 CAST(count(*) AS BIGINT) AS n_shared
               FROM f a JOIN f b ON a.mn = b.mn AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
             SELECT id1, id2, n_shared,
               round(n_shared * 1.0 / least(s1.ng, s2.ng), 6) AS frac
             FROM common JOIN sizes s1 ON common.id1 = s1.doc_id
                         JOIN sizes s2 ON common.id2 = s2.doc_id
             WHERE n_shared >= 5"""))
  )
}
