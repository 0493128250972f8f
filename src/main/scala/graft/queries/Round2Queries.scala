package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.api.GFrame
import graft.functions.Num
import graft.io.CsvPandas

/** Round-2 surface: index-aligned frame arithmetic, deterministic
  * sampling, groupby(level=), MultiIndex metadata ops, CSV na_rep and
  * multi-file reads.
  */
object Round2Queries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // pandas df.add(other, fill_value=0) — full index alignment via one
    // outer shuffle join (reference accepts the kwarg but raises on
    // unaligned inputs; we implement the pandas contract).
    "q103_aligned_add" -> QueryDef(
      (s, d) => {
        val cust = Tables.customer(s, d)
        val a = GFrame(cust.filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"), col("c_acctbal")), Seq("c_custkey"))
        val b = GFrame(cust.filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey"), col("c_acctbal")), Seq("c_custkey"))
        val sum = a.addFrame(b, fillValue = Some(0.0))
        sum.df.select(col("c_custkey"), Num.rnd(col("c_acctbal"), 2).as("bal2"))
      },
      Some("""SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
             round(CASE WHEN a.c_acctbal IS NULL AND b.c_acctbal IS NULL THEN NULL
                   ELSE COALESCE(a.c_acctbal, 0) + COALESCE(b.c_acctbal, 0) END, 2) AS bal2
             FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 = 0) a
             FULL JOIN (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 2 = 0) b
             ON a.c_custkey = b.c_custkey"""),
      headline = false),

    // deterministic hash sample — restart-stable and engine-portable
    // (lexicographic compare of the md5 hex prefix ≡ uniform 32-bit
    // threshold; pandas' RNG sample can't be reproduced across engines).
    "q104_sample" -> QueryDef(
      (s, d) => GFrame(Tables.orders(s, d), Seq())
        .sample(0.25, on = "o_orderkey", seed = 7)
        .df.select(col("o_orderkey"), col("o_custkey")),
      Some("""SELECT o_orderkey, o_custkey FROM orders
             WHERE substr(md5('7' || CAST(o_orderkey AS VARCHAR)), 1, 8) < '40000000'""")),

    // groupby(level=0) on a 2-level MultiIndex.
    "q105_groupby_level" -> QueryDef(
      (s, d) => GFrame(Tables.customer(s, d)
          .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal")),
          Seq("c_nationkey", "c_mktsegment"))
        .groupbyLevel(0)
        .agg("c_acctbal" -> Seq("min", "max", "count")).df
        .select(col("c_nationkey"),
          Num.rnd(col("c_acctbal_min"), 2).as("c_acctbal_min"),
          Num.rnd(col("c_acctbal_max"), 2).as("c_acctbal_max"),
          col("c_acctbal_count")),
      Some("""SELECT c_nationkey, round(min(c_acctbal), 2) AS c_acctbal_min,
             round(max(c_acctbal), 2) AS c_acctbal_max,
             CAST(count(c_acctbal) AS BIGINT) AS c_acctbal_count
             FROM customer GROUP BY 1""")),

    // grouped shift/diff/pct_change — per-entity lag features, the
    // bread-and-butter of feature pipelines (hash-partitioned window,
    // never a global sort; event_id tiebreaks equal timestamps).
    "q107_group_shift" -> QueryDef(
      (s, d) => {
        val g = GFrame(Tables.events(s, d).filter(col("user_id") < 50))
        g.groupby("user_id").shift("value", Seq("ts", "event_id"))
          .groupby("user_id").diff("value", Seq("ts", "event_id"))
          .df.select(col("event_id"), col("user_id"),
            Num.rnd(col("value"), 6).as("v"),
            Num.rnd(col("value_shift"), 6).as("v_prev"),
            Num.rnd(col("value_diff"), 6).as("v_diff"))
      },
      Some("""SELECT event_id, user_id, round(value, 6) AS v,
             round(lag(value) OVER w, 6) AS v_prev,
             round(value - lag(value) OVER w, 6) AS v_diff
             FROM events WHERE user_id < 50
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""")),

    // clip with null/NaN passthrough (Spark's greatest/least ignore
    // nulls — a naive translation resurrects the bound from a null).
    "q108_clip" -> QueryDef(
      (s, d) => GFrame(Tables.lineitem(s, d))
        .clip(5.0, 40.0, Seq("l_quantity"))
        .df.select(col("l_orderkey"), col("l_linenumber"),
          Num.rnd(col("l_quantity"), 2).as("q_clipped")),
      Some("""SELECT l_orderkey, l_linenumber,
             round(least(greatest(l_quantity, 5.0), 40.0), 2) AS q_clipped
             FROM lineitem""")),

    // pandas df.explode(): tokens to rows, empty docs keep a null row.
    "q109_explode" -> QueryDef(
      (s, d) => GFrame(Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("tok")))
        .explodeCol("tok")
        .df.groupBy("tok").agg(count(lit(1)).as("n")),
      Some("""SELECT tok, CAST(count(*) AS BIGINT) AS n
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                   FROM documents) GROUP BY 1""")),

    // get_dummies one-hot over a known category list.
    "q110_get_dummies" -> QueryDef(
      (s, d) => GFrame(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment")))
        .getDummies("c_mktsegment",
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .df,
      Some("""SELECT c_custkey,
             CAST(c_mktsegment = 'AUTOMOBILE' AS INTEGER) AS c_mktsegment_AUTOMOBILE,
             CAST(c_mktsegment = 'BUILDING' AS INTEGER) AS c_mktsegment_BUILDING,
             CAST(c_mktsegment = 'FURNITURE' AS INTEGER) AS c_mktsegment_FURNITURE,
             CAST(c_mktsegment = 'HOUSEHOLD' AS INTEGER) AS c_mktsegment_HOUSEHOLD,
             CAST(c_mktsegment = 'MACHINERY' AS INTEGER) AS c_mktsegment_MACHINERY
             FROM customer""")),

    // value_counts(normalize=True): proportions via one window sum.
    "q111_value_counts_norm" -> QueryDef(
      (s, d) => GFrame(Tables.orders(s, d))
        .valueCounts("o_orderstatus", normalize = true)
        .df.select(col("o_orderstatus"), Num.rnd(col("proportion"), 6).as("p")),
      Some("""SELECT o_orderstatus,
             round(count(*) * 1.0 / (SELECT count(*) FROM orders), 6) AS p
             FROM orders GROUP BY 1""")),

    // crosstab (nation x segment counts, wide) — pivot on a fixed
    // category list, count aggregate.
    "q112_crosstab" -> QueryDef(
      (s, d) => Tables.customer(s, d)
        .groupBy("c_nationkey")
        .pivot("c_mktsegment",
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .agg(count(lit(1)))
        .na.fill(0L),
      Some("""SELECT c_nationkey,
             CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS "AUTOMOBILE",
             CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS "BUILDING",
             CAST(sum(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS "FURNITURE",
             CAST(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS "HOUSEHOLD",
             CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS "MACHINERY"
             FROM customer GROUP BY 1""")),

    // rank / dense_rank / percent_rank within groups (pandas
    // Series.rank variants) — hash-partitioned windows.
    "q115_rank" -> QueryDef(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, d).filter(col("o_custkey") < 200)
          .select(col("o_orderkey"), col("o_custkey"),
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"),
            Num.rnd(percent_rank().over(w), 6).as("prnk"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             CAST(rank() OVER w AS INTEGER) AS rnk,
             CAST(dense_rank() OVER w AS INTEGER) AS drnk,
             round(percent_rank() OVER w, 6) AS prnk
             FROM orders WHERE o_custkey < 200
             WINDOW w AS (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC)""")),

    // qcut: quantile binning, ntile semantics — computed via the
    // distributed global row number (range shuffle + partition offsets),
    // NOT a single-partition ntile window; the oracle is plain ntile.
    "q116_qcut" -> QueryDef(
      (s, d) => GFrame(Tables.customer(s, d))
        .qcut("c_acctbal", 4, "bal_quartile", tiebreak = Seq("c_custkey"))
        .df.select(col("c_custkey"), col("bal_quartile")),
      Some("""SELECT c_custkey,
             CAST(ntile(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS INTEGER)
               AS bal_quartile
             FROM customer""")),

    // merge_asof(tolerance=): most recent same-user click value within
    // 10 minutes before each purchase; older matches null out.
    "q117_asof_tolerance" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tus"))
        // right side deduped per (user, time) so the matched row is
        // well-defined under timestamp collisions
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), unix_micros(col("ts")).as("ctus"))
          .agg(max(col("value")).as("click_value"))
        graft.operators.AsOfJoin.backward(purchases, clicks, "user_id",
            "tus", "ctus", Seq("click_value"), tolerance = Some(600000000L))
          .select(col("event_id"), col("user_id"),
            Num.rnd(col("click_value"), 6).as("click_value"))
      },
      Some("""WITH clicks AS (
               SELECT user_id, epoch_us(ts) AS ctus, max(value) AS click_value
               FROM events WHERE event_type = 'click' GROUP BY 1, 2)
             SELECT p.event_id, p.user_id,
               round((SELECT c.click_value FROM clicks c
                      WHERE c.user_id = p.user_id
                        AND c.ctus <= epoch_us(p.ts)
                        AND c.ctus >= epoch_us(p.ts) - 600000000
                      ORDER BY c.ctus DESC LIMIT 1), 6) AS click_value
             FROM events p WHERE p.event_type = 'purchase'""")),

    // conversion funnel: first view → first click at-or-after it →
    // first purchase at-or-after that, per user; one row of stage
    // counts. Three keyed aggregations + broadcast-size joins — the
    // canonical event-analytics shape.
    "q134_funnel" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("tus")).as("v_t"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("tus") >= col("v_t"))
          .groupBy("user_id").agg(min(col("tus")).as("c_t"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, "user_id").filter(col("tus") >= col("c_t"))
          .groupBy("user_id").agg(min(col("tus")).as("p_t"))
        v.agg(count(lit(1)).as("n_view")).crossJoin(
          c.agg(count(lit(1)).as("n_click")).crossJoin(
            p.agg(count(lit(1)).as("n_purchase"))))
      },
      Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
             v AS (SELECT user_id, min(tus) AS v_t FROM ev
                   WHERE event_type = 'view' GROUP BY 1),
             c AS (SELECT ev.user_id, min(tus) AS c_t FROM ev
                   JOIN v ON ev.user_id = v.user_id AND tus >= v_t
                   WHERE event_type = 'click' GROUP BY 1),
             p AS (SELECT ev.user_id, min(tus) AS p_t FROM ev
                   JOIN c ON ev.user_id = c.user_id AND tus >= c_t
                   WHERE event_type = 'purchase' GROUP BY 1)
             SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
                    (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click,
                    (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase""")),

    // str accessor breadth: startswith/endswith/len/slice/repeat/
    // reverse/find/count — each mirrored 1:1 in the oracle.
    "q132_str_accessors" -> QueryDef(
      (s, d) => {
        import graft.functions.StringOps
        Tables.customer(s, d).select(
          col("c_custkey"),
          StringOps.startswith(col("c_name"), "Customer#0000001").as("sw"),
          StringOps.endswith(col("c_name"), "5").as("ew"),
          StringOps.len(col("c_name")).as("ln"),
          StringOps.slice(col("c_name"), 9, 13).as("sl"),
          StringOps.repeat(col("c_mktsegment"), 2).as("rep"),
          StringOps.reverse(col("c_mktsegment")).as("rev"),
          StringOps.find(col("c_name"), "9").as("f9"),
          StringOps.countMatches(col("c_name"), "0").as("n0"))
      },
      Some("""SELECT c_custkey,
             starts_with(c_name, 'Customer#0000001') AS sw,
             c_name LIKE '%5' AS ew,
             CAST(length(c_name) AS INTEGER) AS ln,
             substr(c_name, 10, 4) AS sl,
             repeat(c_mktsegment, 2) AS rep,
             reverse(c_mktsegment) AS rev,
             CAST(strpos(c_name, '9') - 1 AS INTEGER) AS f9,
             CAST((length(c_name) - length(replace(c_name, '0', ''))) AS INTEGER) AS n0
             FROM customer""")),

    // mode per group with a deterministic tiebreak (most frequent, then
    // smallest value) — engine mode() functions break ties arbitrarily,
    // so compute it as row_number over the per-value counts.
    "q133_mode" -> QueryDef(
      (s, d) => {
        val counts = Tables.orders(s, d)
          .groupBy("o_custkey", "o_orderstatus")
          .agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy(col("n").desc, col("o_orderstatus").asc)
        counts.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderstatus").as("mode_status"))
      },
      Some("""SELECT o_custkey, o_orderstatus AS mode_status FROM (
               SELECT o_custkey, o_orderstatus, count(*) AS n
               FROM orders GROUP BY 1, 2)
             QUALIFY row_number() OVER (PARTITION BY o_custkey
               ORDER BY n DESC, o_orderstatus ASC) = 1""")),

    // cut(): fixed-width binning, right-closed intervals like pandas.
    "q130_cut" -> QueryDef(
      (s, d) => GFrame(Tables.lineitem(s, d))
        .cut("l_quantity", Seq(0.0, 10.0, 25.0, 40.0, 50.0), "q_bin")
        .df.select(col("l_orderkey"), col("l_linenumber"), col("q_bin")),
      Some("""SELECT l_orderkey, l_linenumber,
             CASE WHEN l_quantity > 0 AND l_quantity <= 10 THEN 1
                  WHEN l_quantity > 10 AND l_quantity <= 25 THEN 2
                  WHEN l_quantity > 25 AND l_quantity <= 40 THEN 3
                  WHEN l_quantity > 40 AND l_quantity <= 50 THEN 4
                  END AS q_bin
             FROM lineitem""")),

    // groupby().transform('mean'): the group statistic broadcast back
    // onto every row — a window aggregate, no join; mean through exact
    // decimal sums so both engines divide identical doubles.
    "q131_group_transform" -> QueryDef(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
        Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          Num.rnd(sum(col("l_quantity").cast("decimal(12,2)")).over(w).cast("double")
            / count(col("l_quantity")).over(w), 6).as("flag_mean"),
          Num.rnd(col("l_quantity") - sum(col("l_quantity").cast("decimal(12,2)")).over(w)
            .cast("double") / count(col("l_quantity")).over(w), 6).as("demeaned"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag,
             round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) OVER w AS DOUBLE)
                   / count(l_quantity) OVER w, 6) AS flag_mean,
             round(l_quantity - CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) OVER w AS DOUBLE)
                   / count(l_quantity) OVER w, 6) AS demeaned
             FROM lineitem
             WINDOW w AS (PARTITION BY l_returnflag)""")),

    // grouped exponentially weighted mean — sequential recurrence per
    // user, one hash shuffle + partition-local pass. The naive SQL form
    // (Σ α(1-α)^(t-i) weights) overflows for long groups; the oracle
    // instead folds the SAME recurrence over per-row prefix lists
    // (list() window + list_reduce), so the float op sequence — and
    // therefore every bit of the result — is identical to the engine's
    // partition-local pass. EwmSpec additionally pins it against a
    // driver-side fold.
    "q129_ewm" -> QueryDef(
      (s, d) => graft.operators.Ewm.ewmMean(
        Tables.events(s, d).filter(col("user_id") < 100)
          .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        Seq("user_id"), Seq("ts", "event_id"), "value", alpha = 0.3, "ewm")
        .select(col("event_id"), col("user_id"),
          Num.rnd(col("ewm"), 6).as("ewm")),
      Some("""WITH w AS (SELECT event_id, user_id, value,
               list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS xs
             FROM events WHERE user_id < 100)
             SELECT event_id, user_id,
               CASE WHEN value IS NULL THEN NULL
                    ELSE round(list_reduce(list_filter(xs, x -> x IS NOT NULL),
                           (acc, x) -> acc * (1 - CAST(0.3 AS DOUBLE))
                                       + CAST(0.3 AS DOUBLE) * x) * 1e6) / 1e6
               END AS ewm
             FROM w""")),

    // real binaryFile ingest: stage every document as its own file,
    // read through Spark's binaryFile source, verify byte-for-byte
    // against the table (md5 of content vs md5 of the encoded text).
    "q128_binary_ingest" -> QueryDef(
      (s, d) => {
        val dir = graft.tools.Staging.dir("binfiles", d)
        val docs = Tables.documents(s, d)
        graft.multimodal.Multimodal.stageBinaryDir(docs, "doc_id", "text", dir)
        val files = graft.multimodal.Multimodal.readBinaryDir(s, dir)
          .select(regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
            .cast("long").as("doc_id"),
            col("length"), col("content"))
        files.join(docs.select(col("doc_id"), col("text")), "doc_id")
          .agg(count(lit(1)).as("n_files"),
            sum(col("length")).as("total_bytes"),
            sum(when(md5(col("content")) === md5(col("text").cast("binary")), 1L)
              .otherwise(0L)).as("n_match"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
             CAST(count(*) AS BIGINT) AS n_match
             FROM documents""")),

    // dt accessor extras: dayofyear / quarter / ISO week.
    "q126_dt_extras" -> QueryDef(
      (s, d) => Tables.events(s, d).select(col("event_id"),
        dayofyear(col("ts")).as("doy"),
        quarter(col("ts")).as("q"),
        weekofyear(col("ts")).as("iso_week")),
      Some("""SELECT event_id,
             CAST(dayofyear(ts) AS INTEGER) AS doy,
             CAST(quarter(ts) AS INTEGER) AS q,
             CAST(weekofyear(ts) AS INTEGER) AS iso_week
             FROM events""")),

    // null-safe merge: pandas joins NaN keys to NaN keys; SQL equality
    // silently drops them (Spark <=> ≡ DuckDB IS NOT DISTINCT FROM).
    "q127_null_safe_join" -> QueryDef(
      (s, d) => {
        val orders = Tables.orders(s, d)
        val l = orders.select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 0, lit(null))
            .otherwise(col("o_custkey")).as("k"))
        val r = orders.select(col("o_orderkey").as("r_orderkey"),
          when(col("o_orderkey") % 20 === 0, lit(null))
            .otherwise(col("o_custkey")).as("rk"))
          .filter(col("r_orderkey") < 1000)
        graft.operators.Joins.mergeNullSafe(l, r, Seq("k"), Seq("rk"), "inner")
          .groupBy("k").agg(count(lit(1)).as("n"))
      },
      Some("""WITH l AS (SELECT o_orderkey,
                 CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_custkey END AS k
               FROM orders),
             r AS (SELECT o_orderkey AS r_orderkey,
                 CASE WHEN o_orderkey % 20 = 0 THEN NULL ELSE o_custkey END AS rk
               FROM orders WHERE o_orderkey < 1000)
             SELECT k, CAST(count(*) AS BIGINT) AS n
             FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.rk
             GROUP BY 1""")),

    // stream-static join: per-microbatch broadcast dimension enrichment.
    "q125_stream_static" -> QueryDef(
      (s, d) => graft.streaming.EventStreams.streamStaticJoin(s, d),
      Some("""SELECT CAST(CASE WHEN user_id < 1000 THEN user_id % 5 END AS INTEGER) AS cohort,
             CAST(count(*) AS BIGINT) AS n
             FROM events WHERE event_type = 'purchase' GROUP BY 1""")),

    // near-dup CLUSTERING: connected components over the exact near-dup
    // pairs — a union-find per edge partition, the partitions' forests
    // merged by one more union-find in one task; each doc maps to its
    // cluster representative min(doc_id). Oracle = recursive CTE over
    // the same pair SQL.
    "q114_dedup_clusters" -> QueryDef(
      (s, d) => graft.operators.Components
        .connected(TextQueries.exactPairs(s, d), "id1", "id2")
        .select(col("id").as("doc_id"), col("rep")),
      Some(s"""WITH RECURSIVE ${TextQueries.pairsOracleCtes},
             edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                       UNION SELECT id2, id1 FROM pairs),
             reach(id, r) AS (
               SELECT DISTINCT a, a FROM edges
               UNION
               SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
             SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS rep
             FROM reach GROUP BY 1""")),

    // pandas replace(dict) + duplicated(keep='first') + nsmallest.
    "q122_replace_dup" -> QueryDef(
      (s, d) => GFrame(Tables.orders(s, d), Seq("o_orderkey"))
        .replaceValues("o_orderstatus",
          Map("O" -> "OPEN", "F" -> "FILLED", "P" -> "PARTIAL"))
        .duplicated(Seq("o_custkey"), "dup")
        .df.select(col("o_orderkey"), col("o_orderstatus"), col("dup")),
      Some("""SELECT o_orderkey,
             CASE o_orderstatus WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FILLED'
                  WHEN 'P' THEN 'PARTIAL' ELSE o_orderstatus END AS o_orderstatus,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) > 1 AS dup
             FROM orders""")),

    // idxmax per group: the orderkey holding each customer's max price
    // (Spark max_by ≡ DuckDB arg_max; o_orderkey tiebreak via struct
    // ordering is avoided by the unique price... prices can tie, so take
    // max over (price, orderkey) pairs — deterministic in both engines).
    "q124_idxmax" -> QueryDef(
      (s, d) => Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"))
        .select(col("o_custkey"), col("m.o_orderkey").as("best_order"),
          Num.rnd(col("m.o_totalprice"), 2).as("best_price")),
      Some("""SELECT o_custkey, o_orderkey AS best_order,
             round(o_totalprice, 2) AS best_price
             FROM orders
             QUALIFY row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey DESC) = 1""")),

    // resample('1H'): event-time bucketing to hourly stats (batch twin
    // of the streaming windowed agg q67).
    "q120_resample" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          Num.rnd(min(col("value")), 6).as("v_min"),
          Num.rnd(max(col("value")), 6).as("v_max")),
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
             CAST(count(*) AS BIGINT) AS n,
             round(min(value), 6) AS v_min,
             round(max(value), 6) AS v_max
             FROM events GROUP BY 1, 2""")),

    // rolling(3).mean per user with pandas min_periods (leading rows
    // null until the window fills — SQL's partial frames don't).
    "q121_rolling" -> QueryDef(
      (s, d) => GFrame(Tables.events(s, d).filter(col("user_id") < 50))
        .groupby("user_id")
        .rolling("value", Seq("ts", "event_id"), window = 3)
        .df.select(col("event_id"), col("user_id"),
          Num.rnd(col("value_roll_mean"), 6).as("roll_mean")),
      Some("""SELECT event_id, user_id,
             round(CASE WHEN count(value) OVER w < 3 THEN NULL
                   ELSE avg(value) OVER w END, 6) AS roll_mean
             FROM events WHERE user_id < 50
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""")),

    // TF-IDF top terms per document — tf × (N/df) rational variant (no
    // log, so the doubles match any engine bit-for-bit), ranked with the
    // custom bounded-heap GroupTopK. The inverted index shuffles (term,
    // doc, tf) longs; idf joins on the term dimension.
    "q118_tfidf" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.count()
        val terms = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
        val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df_ = terms.select("doc_id", "term").distinct()
          .groupBy("term").agg(count(lit(1)).as("df"))
        val scored = tf.join(df_, "term")
          .withColumn("score", Num.rnd(
            col("tf") * (lit(n.toDouble) / col("df")), 6))
        graft.plans.GroupTopK.topKPerKey(
            scored.select("doc_id", "term", "score"),
            Seq("doc_id"), Seq(("score", true), ("term", false)), 3)
          .select("doc_id", "term", "score")
      },
      Some("""WITH terms AS (
               SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
               FROM documents),
             tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
             df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
             n AS (SELECT count(*) AS n FROM documents)
             SELECT doc_id, term,
               round(tf * ((SELECT n FROM n) * 1.0 / df), 6) AS score
             FROM tf JOIN df USING (term)
             QUALIFY row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, term ASC) <= 3"""),
      headline = false),

    // stream-stream interval join (purchases ⋈ same-user clicks within
    // 30 min) — watermarks on both sides bound the state store; the
    // oracle is the equivalent batch interval join.
    "q113_stream_join" -> QueryDef(
      (s, d) => graft.streaming.EventStreams.streamStreamJoin(s, d),
      Some("""SELECT a.event_id AS p_id, b.event_id AS c_id, a.user_id
             FROM events a JOIN events b
             ON a.user_id = b.user_id
             AND a.event_type = 'purchase' AND b.event_type = 'click'
             AND b.ts BETWEEN a.ts - INTERVAL 30 MINUTE AND a.ts""")),

    // to_csv(na_rep) → read_csv(na_values) round-trip: nulls survive a
    // text sink; the oracle recomputes from the original table.
    "q106_csv_narep" -> QueryDef(
      (s, d) => {
        val path = graft.tools.Staging.dir("csv_narep", d)
        val src = Tables.customer(s, d).select(col("c_custkey"),
          when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_custkey") % 100)
            .as("bucket"))
        CsvPandas.write(src, path, naRep = "__NA__")
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("c_custkey", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.LongType)))
        CsvPandas.read(s, path, CsvPandas.ReadOptions(
            naValues = Seq("__NA__"), schema = Some(schema)))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("bucket").isNull.cast("long")).as("n_null"),
            sum(col("bucket")).as("bucket_sum"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             CAST(sum(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey % 100 END) AS BIGINT) AS bucket_sum
             FROM customer"""))
  )
}
