package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.{JaroWinklerSim, Num}

/** Round-38 additions: exponentially-decayed counts, trending terms,
  * DAU/MAU stickiness, entity-resolution best-match join, parquet
  * schema-merge read.
  */
object Round38Queries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // Exponentially-decayed event counts (half-life 12h from the
    // corpus horizon — the trending/recency weighting of feed
    // ranking): per-event weights round to 6dp THEN sum as decimals
    // (transcendental discipline), so the aggregate is
    // order-independent and exact.
    "q358_decayed_counts" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), expr("unix_micros(ts)").as("t"))
        val mx = ev.agg(max(col("t")).as("tmax"))
        ev.crossJoin(broadcast(mx))
          .select(col("event_type"),
            Num.rnd(pow(lit(0.5),
              (col("tmax") - col("t")).cast("double") / lit(4.32e10)), 6)
              .cast("decimal(18,6)").as("w"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("w")).cast("double").as("decayed"))
      },
      Some("""WITH ev AS (SELECT event_type, epoch_us(ts) AS t FROM events),
          mx AS (SELECT max(t) AS tmax FROM ev)
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(round(power(0.5,
              CAST(mx.tmax - t AS DOUBLE) / 4.32e10) * 1e6) / 1e6
              AS DECIMAL(18,6))) AS DOUBLE) AS decayed
          FROM ev, mx GROUP BY 1""")),

    // Trending values: last-7-days rate of each event property value
    // vs the prior window, add-one-smoothed lift, min-support 5,
    // top-20 — burst detection over a categorical stream.  All counts
    // exact; one double lift expression.
    "q359_trending_terms" -> QueryDef(
      (s, d) => {
        val tok = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 86400000000").as("day"),
            get_json_object(col("props"), "$.k").as("w"))
          .filter(col("w").isNotNull)
        val mx = tok.agg(max(col("day")).as("md"))
        val tagged = tok.crossJoin(broadcast(mx))
          .select(col("w"), (col("day") > col("md") - 7).as("recent"))
        val counts = tagged.groupBy("w").agg(
          sum(when(col("recent"), 1L).otherwise(0L)).as("r"),
          sum(when(!col("recent"), 1L).otherwise(0L)).as("p"))
        val tot = counts.agg(sum(col("r")).as("nr"), sum(col("p")).as("np"))
        counts.crossJoin(broadcast(tot))
          .filter(col("r") >= 5)
          .select(col("w"), col("r"), col("p"),
            Num.rnd((col("r").cast("double") / col("nr").cast("double"))
              / ((col("p") + 1).cast("double") / col("np").cast("double")), 6)
              .as("lift"))
          .orderBy(col("lift").desc, col("w")).limit(20)
      },
      Some("""WITH tok AS (SELECT epoch_us(ts) // 86400000000 AS day,
              regexp_extract(props, '"k": ([0-9]+)', 1) AS w
            FROM events WHERE regexp_extract(props, '"k": ([0-9]+)', 1) <> ''),
          mx AS (SELECT max(day) AS md FROM tok),
          tagged AS (SELECT w, day > mx.md - 7 AS recent FROM tok, mx),
          counts AS (SELECT w,
              CAST(sum(CASE WHEN recent THEN 1 ELSE 0 END) AS BIGINT) AS r,
              CAST(sum(CASE WHEN NOT recent THEN 1 ELSE 0 END) AS BIGINT) AS p
            FROM tagged GROUP BY 1),
          tot AS (SELECT CAST(sum(r) AS BIGINT) AS nr,
              CAST(sum(p) AS BIGINT) AS np FROM counts),
          l AS (SELECT w, r, p,
              round((CAST(r AS DOUBLE) / CAST(nr AS DOUBLE))
                / (CAST(p + 1 AS DOUBLE) / CAST(np AS DOUBLE)) * 1e6) / 1e6
                AS lift
            FROM counts, tot WHERE r >= 5)
          SELECT w, r, p, lift FROM l
          QUALIFY row_number() OVER (ORDER BY lift DESC, w) <= 20""")),

    // DAU / MAU stickiness per day — the engagement-health ratio:
    // exact per-day distinct users over the corpus-wide (30-day)
    // distinct population.
    "q360_stickiness" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 86400000000").as("day"),
            col("user_id"))
        val mau = ev.agg(countDistinct(col("user_id")).as("mau"))
        ev.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
          .crossJoin(broadcast(mau))
          .select(col("day"), col("dau"), col("mau"),
            Num.rnd(col("dau").cast("double") / col("mau").cast("double"), 6)
              .as("stickiness"))
      },
      Some("""WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id
            FROM events),
          mau AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS mau FROM ev)
          SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau, mau.mau,
            round(CAST(count(DISTINCT user_id) AS DOUBLE)
              / CAST(mau.mau AS DOUBLE) * 1e6) / 1e6 AS stickiness
          FROM ev, mau GROUP BY 1, mau.mau""")),

    // Entity-resolution best-match join: a deterministic "dirty"
    // variant of every part name (last char dropped) resolves back to
    // its best clean match — block on the intact first token, verify
    // with the native Jaro-Winkler, keep the per-dirty-name argmax
    // (bounded block window), accept at ≥ 0.85.  The standard
    // block → score → argmax ER shape.
    "q361_entity_resolution" -> QueryDef(
      (s, d) => {
        val clean = Tables.part(s, d).select("p_name").distinct()
          .select(col("p_name"),
            element_at(split(col("p_name"), " "), 1).as("blk"))
        val dirty = clean.select(
            expr("substring(p_name, 1, length(p_name) - 1)").as("dname"),
            col("blk").as("dblk"))
          .distinct()
        val scored = dirty.join(clean, col("dblk") === col("blk"))
          .select(col("dname"), col("p_name").as("match_name"),
            Num.rnd(JaroWinklerSim(col("dname"), col("p_name")), 6).as("jw"))
        val w = Window.partitionBy("dname")
          .orderBy(col("jw").desc, col("match_name"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .filter(col("jw") >= 0.85)
          .select(col("dname"), col("match_name"), col("jw"))
      },
      Some("""WITH clean AS (SELECT p_name, split_part(p_name, ' ', 1) AS blk
            FROM (SELECT DISTINCT p_name FROM part)),
          dirty AS (SELECT DISTINCT
              substr(p_name, 1, length(p_name) - 1) AS dname, blk AS dblk
            FROM clean),
          scored AS (SELECT d.dname, c.p_name AS match_name,
              round(jaro_winkler_similarity(d.dname, c.p_name) * 1e6) / 1e6 AS jw
            FROM dirty d JOIN clean c ON d.dblk = c.blk),
          best AS (SELECT * FROM scored QUALIFY
            row_number() OVER (PARTITION BY dname
              ORDER BY jw DESC, match_name) = 1)
          SELECT dname, match_name, jw FROM best WHERE jw >= 0.85""")),

    // §2.1 parquet schema evolution: two writers with different
    // schemas land in one dataset; `mergeSchema` reads the union
    // schema with nulls for the missing column — the
    // rolling-deployment reality of a 100 TB lake.  The oracle replays
    // the same split semantics from the source table.
    "q362_parquet_schema_merge" -> QueryDef(
      (s, d) => {
        val out = graft.tools.Staging.dir("schema_merge", d)
        val o = Tables.orders(s, d)
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$out/part=a")
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$out/part=b")
        val merged = s.read.option("mergeSchema", "true").parquet(out)
        merged.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("o_orderpriority").isNotNull, 1L).otherwise(0L))
            .as("n_with_priority"),
          round(sum(Num.dec2(col("o_totalprice"))), 2).cast("double").as("total"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
            CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_with_priority,
            CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
              AS total
          FROM orders"""))
  )
}
