package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.Num

/** Round-29 additions: KMV set-operation estimates, RFM segmentation,
  * linear multi-touch attribution, Benford first-digit audit,
  * streaming A/B monitor, per-user KL-divergence anomaly ranking.
  */
object Round29Queries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // §2.12 KMV set operations across source vocabularies: the k
    // minimum hash values of a UNION are computable relationally —
    // GroupTopK bounded heaps per source pair (partial heaps below
    // the exchange, never a per-pair sort) — so union cardinality
    // ((k−1)/u_k) and Jaccard (share of the k-min set present in both
    // sides, Beyer et al. 2007) estimate in ONE bounded pass, and the
    // intersection estimate is their product.  The sketch is
    // deterministic, so the oracle replays it exactly.
    "q327_kmv_setops" -> QueryDef(
      (s, d) => {
        val k = 64
        val tok = Tables.documents(s, d)
          .select(col("source"),
            explode(graft.text.TextStats.tokensNonEmpty(col("text"))).as("w"))
          .select(col("source"), substring(md5(col("w")), 1, 12).as("h"))
          .distinct()
        val srcs = tok.select(col("source")).distinct()
        val pairs = srcs.as("p").crossJoin(srcs.as("q"))
          .filter(col("p.source") < col("q.source"))
          .select(col("p.source").as("s1"), col("q.source").as("s2"))
        val tp = tok.join(broadcast(pairs),
            col("source") === col("s1") || col("source") === col("s2"))
          .groupBy("s1", "s2", "h").agg(count(lit(1)).as("nsrc"))
        val kmin = graft.plans.GroupTopK.topKPerKey(
          tp, Seq("s1", "s2"), Seq(("h", false)), k)
        val agg = kmin.groupBy("s1", "s2").agg(
          count(lit(1)).as("m"),
          max(col("h")).as("hk"),
          sum(when(col("nsrc") === 2, 1L).otherwise(0L)).as("nb"))
        val uRaw = when(col("m") < k, col("m").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (conv(col("hk"), 16, 10).cast("double") / lit(281474976710656.0)))
        val jRaw = col("nb").cast("double") / col("m").cast("double")
        agg.select(col("s1"), col("s2"),
          Num.rnd(uRaw, 6).as("union_est"),
          Num.rnd(jRaw, 6).as("jacc_est"),
          Num.rnd(uRaw * jRaw, 6).as("inter_est"))
      },
      Some("""WITH tok AS (SELECT DISTINCT source, substr(md5(w), 1, 12) AS h
            FROM (SELECT source, unnest(list_filter(string_split(text, ' '),
                x -> x <> '')) AS w FROM documents)),
          srcs AS (SELECT DISTINCT source FROM tok),
          pairs AS (SELECT p.source AS s1, q.source AS s2
            FROM srcs p, srcs q WHERE p.source < q.source),
          tp AS (SELECT s1, s2, h, CAST(count(*) AS BIGINT) AS nsrc
            FROM tok t JOIN pairs ON t.source = s1 OR t.source = s2
            GROUP BY 1, 2, 3),
          kmin AS (SELECT * FROM tp QUALIFY
            row_number() OVER (PARTITION BY s1, s2 ORDER BY h) <= 64),
          agg AS (SELECT s1, s2, CAST(count(*) AS BIGINT) AS m, max(h) AS hk,
              CAST(sum(CASE WHEN nsrc = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nb
            FROM kmin GROUP BY 1, 2),
          r AS (SELECT s1, s2,
              CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
                ELSE 63.0 / (CAST(CAST('0x' || hk AS BIGINT) AS DOUBLE)
                  / 281474976710656.0) END AS u_raw,
              CAST(nb AS DOUBLE) / CAST(m AS DOUBLE) AS j_raw
            FROM agg)
          SELECT s1, s2, round(u_raw * 1e6) / 1e6 AS union_est,
            round(j_raw * 1e6) / 1e6 AS jacc_est,
            round(u_raw * j_raw * 1e6) / 1e6 AS inter_est
          FROM r""")),

    // RFM customer segmentation: recency/frequency/monetary per
    // customer, each scored into terciles by EXACT percentile cuts
    // (two linear passes + a 1-row broadcast — q285 discipline, never
    // a global ntile window), then segment-level rollup.  Monetary
    // stays DECIMAL end-to-end (money discipline).
    "q328_rfm_segments" -> QueryDef(
      (s, d) => {
        val o = Tables.orders(s, d).select(col("o_custkey").as("ck"),
          expr("unix_micros(cast(o_orderdate as timestamp))").as("tus"),
          Num.dec2(col("o_totalprice")).as("tp"))
        val mx = o.agg(max(col("tus")).as("mz"))
        val cust = o.crossJoin(broadcast(mx)).groupBy("ck").agg(
          min(expr("(mz - tus) div 86400000000")).as("rec"),
          count(lit(1)).as("freq"),
          sum(col("tp")).as("mon"))
        val cuts = cust.agg(
          expr("percentile(rec, 0.3333333333333333)").as("r1"),
          expr("percentile(rec, 0.6666666666666666)").as("r2"),
          expr("percentile(freq, 0.3333333333333333)").as("f1"),
          expr("percentile(freq, 0.6666666666666666)").as("f2"),
          expr("percentile(cast(mon as double), 0.3333333333333333)").as("m1"),
          expr("percentile(cast(mon as double), 0.6666666666666666)").as("m2"))
        cust.crossJoin(broadcast(cuts))
          .select(
            when(col("rec") <= col("r1"), lit(3L))
              .when(col("rec") <= col("r2"), lit(2L)).otherwise(lit(1L)).as("r_score"),
            when(col("freq") <= col("f1"), lit(1L))
              .when(col("freq") <= col("f2"), lit(2L)).otherwise(lit(3L)).as("f_score"),
            when(col("mon").cast("double") <= col("m1"), lit(1L))
              .when(col("mon").cast("double") <= col("m2"), lit(2L))
              .otherwise(lit(3L)).as("m_score"),
            col("mon"))
          .groupBy("r_score", "f_score", "m_score")
          .agg(count(lit(1)).as("n_cust"),
            round(sum(col("mon")), 2).cast("double").as("total_m"))
      },
      Some("""WITH o AS (SELECT o_custkey AS ck, epoch_us(o_orderdate) AS tus,
              CAST(o_totalprice AS DECIMAL(12,2)) AS tp FROM orders),
          mx AS (SELECT max(tus) AS mz FROM o),
          cust AS (SELECT ck, min((mz - tus) // 86400000000) AS rec,
              CAST(count(*) AS BIGINT) AS freq, sum(tp) AS mon
            FROM o, mx GROUP BY 1, mz),
          cuts AS (SELECT
              quantile_cont(rec, 0.3333333333333333) AS r1,
              quantile_cont(rec, 0.6666666666666666) AS r2,
              quantile_cont(freq, 0.3333333333333333) AS f1,
              quantile_cont(freq, 0.6666666666666666) AS f2,
              quantile_cont(CAST(mon AS DOUBLE), 0.3333333333333333) AS m1,
              quantile_cont(CAST(mon AS DOUBLE), 0.6666666666666666) AS m2
            FROM cust)
          SELECT CAST(CASE WHEN rec <= r1 THEN 3 WHEN rec <= r2 THEN 2 ELSE 1 END
              AS BIGINT) AS r_score,
            CAST(CASE WHEN freq <= f1 THEN 1 WHEN freq <= f2 THEN 2 ELSE 3 END
              AS BIGINT) AS f_score,
            CAST(CASE WHEN CAST(mon AS DOUBLE) <= m1 THEN 1
                 WHEN CAST(mon AS DOUBLE) <= m2 THEN 2 ELSE 3 END
              AS BIGINT) AS m_score,
            CAST(count(*) AS BIGINT) AS n_cust,
            CAST(round(sum(mon), 2) AS DOUBLE) AS total_m
          FROM cust, cuts GROUP BY 1, 2, 3""")),

    // Linear multi-touch attribution: each purchase splits one unit of
    // credit equally across the user's click/view/signup touches in
    // the preceding 7 days.  Per-purchase weights are rounded to 6dp
    // THEN summed as decimals (order-independent; the defined
    // semantics), so per-channel credit is exact.  The touch join is
    // user-keyed — per-user event lists are bounded, so no window or
    // cross-join blowup.
    "q329_linear_attribution" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("t"), col("event_id"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("t").as("pt"), col("event_id").as("pid"))
        val touch = ev.filter(col("event_type").isin("click", "view", "signup"))
          .select(col("user_id"), col("event_type").as("channel"), col("t").as("tt"))
        val j = purch.join(touch, Seq("user_id"))
          .filter(col("tt") < col("pt")
            && col("tt") >= col("pt") - lit(7L * 86400000000L))
        val perPc = j.groupBy("pid", "channel").agg(count(lit(1)).as("c"))
        val perP = j.groupBy("pid").agg(count(lit(1)).as("nt"))
        perPc.join(perP, Seq("pid"))
          .select(col("channel"),
            Num.rnd(col("c").cast("double") / col("nt").cast("double"), 6)
              .cast("decimal(18,6)").as("w"))
          .groupBy("channel")
          .agg(count(lit(1)).as("n_purchases"),
            sum(col("w")).cast("double").as("credit"))
      },
      Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
            FROM events),
          purch AS (SELECT user_id, t AS pt, event_id AS pid FROM ev
            WHERE event_type = 'purchase'),
          touch AS (SELECT user_id, event_type AS channel, t AS tt FROM ev
            WHERE event_type IN ('click', 'view', 'signup')),
          j AS (SELECT p.pid, tc.channel FROM purch p
            JOIN touch tc ON p.user_id = tc.user_id
            WHERE tc.tt < p.pt AND tc.tt >= p.pt - 604800000000),
          pc AS (SELECT pid, channel, CAST(count(*) AS BIGINT) AS c
            FROM j GROUP BY 1, 2),
          pp AS (SELECT pid, CAST(count(*) AS BIGINT) AS nt FROM j GROUP BY 1)
          SELECT pc.channel, CAST(count(*) AS BIGINT) AS n_purchases,
            CAST(sum(CAST(round(CAST(pc.c AS DOUBLE) / CAST(pp.nt AS DOUBLE)
              * 1e6) / 1e6 AS DECIMAL(18,6))) AS DOUBLE) AS credit
          FROM pc JOIN pp ON pc.pid = pp.pid GROUP BY 1""")),

    // Benford first-digit audit over order totals (the fraud/data-
    // quality staple): leading digit comes from the DECIMAL string
    // form (identical text on both engines — no log10 flooring at
    // digit boundaries), expected share is log10(1+1/d), and the χ²
    // statistic folds its 9 terms in digit order.
    "q330_benford" -> QueryDef(
      (s, d) => {
        val digs = Tables.orders(s, d)
          .select(substring(Num.dec2(col("o_totalprice")).cast("string"), 1, 1)
            .cast("long").as("dig"))
          .groupBy("dig").agg(count(lit(1)).as("n"))
        val tot = digs.agg(sum(col("n")).as("nn"))
        val cells = digs.crossJoin(broadcast(tot))
          .select(col("dig"), col("n"),
            (col("n").cast("double") / col("nn").cast("double")).as("obs"),
            log10(lit(1.0) + lit(1.0) / col("dig").cast("double")).as("exp"),
            col("nn"))
        val withTerm = cells.withColumn("term",
          col("nn").cast("double") * (col("obs") - col("exp"))
            * (col("obs") - col("exp")) / col("exp"))
        val chi2 = withTerm
          .agg(sort_array(collect_list(struct(col("dig"), col("term")))).as("ts"))
          .select(Num.rnd(aggregate(col("ts"), lit(0.0),
            (a, x) => a + x.getField("term")), 6).as("chi2"))
        withTerm.crossJoin(broadcast(chi2))
          .select(col("dig"), col("n"), Num.rnd(col("obs"), 6).as("obs_share"),
            Num.rnd(col("exp"), 6).as("exp_share"), col("chi2"))
      },
      Some("""WITH digs AS (SELECT CAST(substr(CAST(CAST(o_totalprice
                AS DECIMAL(12,2)) AS VARCHAR), 1, 1) AS BIGINT) AS dig,
              CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY 1),
          tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM digs),
          cells AS (SELECT dig, n,
              CAST(n AS DOUBLE) / CAST(nn AS DOUBLE) AS obs,
              log10(1.0 + 1.0 / CAST(dig AS DOUBLE)) AS "exp", nn
            FROM digs, tot),
          t AS (SELECT dig, n, obs, "exp",
              CAST(nn AS DOUBLE) * (obs - "exp") * (obs - "exp") / "exp" AS term
            FROM cells),
          c AS (SELECT round(list_reduce(list(term ORDER BY dig),
              (a, b) -> a + b) * 1e6) / 1e6 AS chi2 FROM t)
          SELECT dig, n, round(obs * 1e6) / 1e6 AS obs_share,
            round("exp" * 1e6) / 1e6 AS exp_share, c.chi2
          FROM t, c""")),

    // §2.10 STREAMING A/B monitor (q315's twin): one stateful
    // aggregation keeps a (clicked, purchased) flag pair per user —
    // state bounded by the user population — and the z-test runs in
    // batch over the sink.  Same oracle as q315.
    "q331_stream_ab" -> QueryDef(
      (s, d) => graft.streaming.EventStreams.abMonitorStream(s, d),
      Round26Queries.defs.toMap.apply("q315_ab_test").oracle),

    // Per-user KL-divergence anomaly ranking: each user's event-type
    // distribution vs the global one; the ≤5 ln-terms round to 6dp
    // first and fold in type order (q153 transcendental discipline),
    // top-20 via TakeOrderedAndProject — never a global sort.
    "q332_kl_anomaly" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id"), col("event_type"))
        val uc = ev.groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        val un = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
        val gTot = ev.agg(count(lit(1))).scalar()
        val gc = ev.groupBy("event_type").agg(count(lit(1)).as("gc"))
        val terms = uc.join(un, Seq("user_id")).join(broadcast(gc), Seq("event_type"))
          .select(col("user_id"), col("event_type"), col("n"),
            Num.rnd({
              val pu = col("c").cast("double") / col("n").cast("double")
              val pg = col("gc").cast("double") / gTot.cast("double")
              pu * log(pu / pg)
            }, 6).as("term"))
        terms.groupBy("user_id")
          .agg(max(col("n")).as("n_events"),
            sort_array(collect_list(struct(col("event_type"), col("term")))).as("ts"))
          .select(col("user_id"), col("n_events"),
            Num.rnd(aggregate(col("ts"), lit(0.0),
              (a, x) => a + x.getField("term")), 6).as("kl"))
          .orderBy(col("kl").desc, col("user_id"))
          .limit(20)
      },
      Some("""WITH ev AS (SELECT user_id, event_type FROM events),
          uc AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
            FROM ev GROUP BY 1, 2),
          un AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1),
          g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS gc FROM ev GROUP BY 1),
          t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM ev),
          terms AS (SELECT uc.user_id, uc.event_type, un.n,
              round((CAST(uc.c AS DOUBLE) / CAST(un.n AS DOUBLE))
                * ln((CAST(uc.c AS DOUBLE) / CAST(un.n AS DOUBLE))
                  / (CAST(g.gc AS DOUBLE) / CAST(t.tot AS DOUBLE)))
                * 1e6) / 1e6 AS term
            FROM uc JOIN un ON uc.user_id = un.user_id
            JOIN g ON uc.event_type = g.event_type CROSS JOIN t),
          kl AS (SELECT user_id, max(n) AS n_events,
              round(list_reduce(list(term ORDER BY event_type),
                (a, b) -> a + b) * 1e6) / 1e6 AS kl
            FROM terms GROUP BY 1)
          SELECT user_id, CAST(n_events AS BIGINT) AS n_events, kl FROM kl
          QUALIFY row_number() OVER (ORDER BY kl DESC, user_id) <= 20"""))
  )
}
