package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.Num

/** Round-26 additions: percentage ranks and seasonality heatmap. */
object Round26Queries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // pandas rank(pct=True): average rank / n — rides the distributed
    // RankMethods scan (dyadic-half ranks, one exact double division
    // per row).
    "q313_rank_pct" -> QueryDef(
      (s, d) => {
        val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        val n = o.agg(count(lit(1))).scalar()
        graft.operators.RankMethods.rank(o, "o_totalprice", "r")
          .select(col("o_orderkey"), col("o_totalprice"),
            (col("r_avg") / n.cast("double")).as("pct_rank"))
      },
      Some("""WITH c AS (SELECT o_totalprice AS v, CAST(count(*) AS DOUBLE) AS cnt
            FROM orders GROUP BY 1),
          cu AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c),
          r AS (SELECT v, ((cum - cnt + 1.0) + cum) / 2.0 AS r_avg FROM cu),
          n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM orders)
          SELECT o.o_orderkey, o.o_totalprice, r.r_avg / n.n AS pct_rank
          FROM orders o JOIN r ON o.o_totalprice = r.v CROSS JOIN n""")),

    // Seasonality heatmap: mean value by (day-of-week, hour-of-day) —
    // integer-µs day/hour math (Thursday epoch anchor: Jan 1 1970),
    // decimal-exact means.
    "q314_seasonality" -> QueryDef(
      (s, d) => Tables.events(s, d).filter(col("value").isNotNull)
        .select(expr("((unix_micros(ts) div 86400000000) + 4) % 7").as("dow"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hod"),
          Num.rnd(col("value"), 6).cast("decimal(18,6)").as("vr"))
        .groupBy("dow", "hod")
        .agg(count(lit(1)).as("n"),
          Num.rnd(sum(col("vr")).cast("double") / count(lit(1)), 6).as("mean_v")),
      Some("""SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
            (epoch_us(ts) // 3600000000) % 24 AS hod,
            CAST(count(*) AS BIGINT) AS n,
            round(CAST(sum(CAST(round(value * 1e6) / 1e6 AS DECIMAL(18,6))) AS DOUBLE)
              / count(*) * 1e6) / 1e6 AS mean_v
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2""")),

    // A/B experiment analysis: users split by an md5 coin, conversion
    // = clicked user also purchased; the pooled two-proportion z-test
    // with identical double expression shapes — the
    // experimentation-analytics staple.
    "q315_ab_test" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
        val users = ev.filter(col("event_type") === "click")
          .select(col("user_id")).distinct()
          .withColumn("grp",
            when(conv(substring(md5(concat(lit("ab:"), col("user_id"))), 1, 4),
              16, 10).cast("int") % 2 === 0, lit("A")).otherwise(lit("B")))
        val conv_ = ev.filter(col("event_type") === "purchase")
          .select(col("user_id")).distinct().withColumn("converted", lit(1L))
        val g = users.join(conv_, Seq("user_id"), "left")
          .groupBy("grp")
          .agg(count(lit(1)).as("n"),
            sum(coalesce(col("converted"), lit(0L))).as("c"))
        val a = g.filter(col("grp") === "A").select(col("n").as("n1"), col("c").as("c1"))
        val b = g.filter(col("grp") === "B").select(col("n").as("n2"), col("c").as("c2"))
        a.crossJoin(b).select(col("n1"), col("c1"), col("n2"), col("c2"),
          Num.rnd({
            val p1 = col("c1").cast("double") / col("n1").cast("double")
            val p2 = col("c2").cast("double") / col("n2").cast("double")
            val p = (col("c1") + col("c2")).cast("double") /
              (col("n1") + col("n2")).cast("double")
            val se = sqrt(p * (lit(1.0) - p) *
              (lit(1.0) / col("n1").cast("double") + lit(1.0) / col("n2").cast("double")))
            // degenerate pooled rate (p = 0 or 1) → zero variance → z := 0
            when(se === 0.0, lit(0.0)).otherwise((p1 - p2) / se)
          }, 6).as("z"))
      },
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
          g AS (SELECT user_id,
              CASE WHEN CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 4)) AS INT) % 2 = 0
                THEN 'A' ELSE 'B' END AS grp FROM u),
          p AS (SELECT DISTINCT user_id, 1 AS converted FROM events
            WHERE event_type = 'purchase'),
          agg AS (SELECT g.grp, CAST(count(*) AS BIGINT) AS n,
              CAST(coalesce(sum(p.converted), 0) AS BIGINT) AS c
            FROM g LEFT JOIN p ON g.user_id = p.user_id GROUP BY 1),
          a AS (SELECT n AS n1, c AS c1 FROM agg WHERE grp = 'A'),
          b AS (SELECT n AS n2, c AS c2 FROM agg WHERE grp = 'B')
          SELECT n1, c1, n2, c2,
            round(CASE WHEN sqrt((CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                * (1.0 - CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) = 0.0
              THEN 0.0
              ELSE (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
              / sqrt((CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                * (1.0 - CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) END * 1e6) / 1e6 + 0 AS z
          FROM a, b""")),

    // Kaplan-Meier survival of time-to-convert (weekly granularity,
    // right-censored at the corpus horizon): risk sets and event
    // counts per week from one grouped pass; the ≤-weeks-sized
    // survival product folds in week order on both engines (ordered
    // fold over the tiny domain — the q293 discipline for products).
    "q316_kaplan_meier" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
        val horizon = ev.agg(max(expr("unix_micros(ts)")).as("hz"))
        val fs = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(expr("unix_micros(ts)")).as("fs"))
        val fp = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id").agg(min(expr("unix_micros(ts)")).as("fp"))
        val perUser = fs.join(fp, Seq("user_id"), "left")
          .crossJoin(broadcast(horizon))
          .select(
            when(col("fp").isNotNull && col("fp") > col("fs"),
              expr("(fp - fs) div 604800000000")).otherwise(lit(null)).as("ew"),
            expr("(hz - fs) div 604800000000").as("cw"))
          .select(coalesce(col("ew"), col("cw")).as("w"),
            col("ew").isNotNull.as("event"))
        val weeks = perUser.groupBy("w")
          .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
            count(lit(1)).as("exits"))
        // risk set n_w = users still under observation at week w
        val wWin = org.apache.spark.sql.expressions.Window.orderBy(col("w").desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val risk = weeks.withColumn("atrisk", sum(col("exits")).over(wWin))
        // survival = ordered product fold over the tiny week domain
        risk.agg(sort_array(collect_list(struct(col("w"), col("d"), col("atrisk"))))
            .as("ws"))
          .select(explode(expr(
            """aggregate(ws,
                 struct(CAST(1.0 AS DOUBLE) AS s, CAST(array() AS ARRAY<STRUCT<w: BIGINT, surv: DOUBLE>>) AS out),
                 (acc, x) -> struct(
                   acc.s * (CAST(1.0 AS DOUBLE) - CAST(x.d AS DOUBLE) / CAST(x.atrisk AS DOUBLE)) AS s,
                   array_append(acc.out, struct(x.w AS w,
                     round(acc.s * (CAST(1.0 AS DOUBLE) - CAST(x.d AS DOUBLE) / CAST(x.atrisk AS DOUBLE)) * 1e6) / 1e6 AS surv)) AS out),
                 acc -> acc.out)""")).as("r"))
          .select(col("r.w").as("w"), col("r.surv").as("surv"))
      },
      Some("""WITH hz AS (SELECT max(epoch_us(ts)) AS hz FROM events),
          fs AS (SELECT user_id, min(epoch_us(ts)) AS fs FROM events
            WHERE event_type = 'signup' GROUP BY 1),
          fp AS (SELECT user_id, min(epoch_us(ts)) AS fp FROM events
            WHERE event_type = 'purchase' GROUP BY 1),
          pu AS (SELECT
              CASE WHEN fp.fp IS NOT NULL AND fp.fp > fs.fs
                THEN (fp.fp - fs.fs) // 604800000000 END AS ew,
              (hz.hz - fs.fs) // 604800000000 AS cw
            FROM fs LEFT JOIN fp ON fs.user_id = fp.user_id CROSS JOIN hz),
          ex AS (SELECT coalesce(ew, cw) AS w, ew IS NOT NULL AS event FROM pu),
          wk AS (SELECT w, CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
              CAST(count(*) AS BIGINT) AS exits FROM ex GROUP BY 1),
          rk AS (SELECT w, d, sum(exits) OVER (ORDER BY w DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS atrisk FROM wk),
          l AS (SELECT list(struct_pack(w := w, d := d, atrisk := atrisk) ORDER BY w) AS ws
            FROM rk),
          folded AS (SELECT unnest(list_reduce(
              list_transform(ws, x -> [struct_pack(
                w := x.w,
                s := 1.0 - CAST(x.d AS DOUBLE) / CAST(x.atrisk AS DOUBLE),
                surv := 0.0)]),
              (a, b) -> list_append(a, struct_pack(
                w := b[1].w,
                s := a[len(a)].s * b[1].s,
                surv := 0.0)))) AS r FROM l)
          SELECT r.w AS w, round(r.s * 1e6) / 1e6 AS surv FROM folded"""))
  )
}
