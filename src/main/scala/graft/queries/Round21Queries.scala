package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.Num

/** Round-21 additions: chi-squared independence, HITS, systematic
  * sampling, time-to-convert quantiles.
  */
object Round21Queries {

  /** HITS oracle: `iters` unrolled half-step pairs with the identical
    * integer `//` normalization (a from h_{k-1}, then h from a).
    */
  private def hitsOracleSql(iters: Int): String = {
    val s = graft.operators.Hits.Scale.toString
    val steps = (1 to iters).map { k =>
      val hPrev = if (k == 1) "h0" else s"h${k - 1}"
      s"""a${k}r AS (SELECT e.dst AS id, sum(p.h) AS raw
            FROM e JOIN $hPrev p ON e.src = p.id GROUP BY 1),
          a${k}d AS (SELECT sum(raw) // $s AS d FROM a${k}r),
          a$k AS (SELECT id, raw // greatest(d, 1) AS a FROM a${k}r, a${k}d),
          h${k}r AS (SELECT e.src AS id, sum(p.a) AS raw
            FROM e JOIN a$k p ON e.dst = p.id GROUP BY 1),
          h${k}d AS (SELECT sum(raw) // $s AS d FROM h${k}r),
          h$k AS (SELECT id, raw // greatest(d, 1) AS h FROM h${k}r, h${k}d)"""
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT
            'c' || CAST(o_custkey AS VARCHAR) AS src,
            's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        nh AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n FROM e),
        h0 AS (SELECT DISTINCT src AS id, $s // nh.n AS h FROM e CROSS JOIN nh),
        $steps
        SELECT id, 'hub' AS side, CAST(h AS BIGINT) AS score FROM h$iters
        UNION ALL
        SELECT id, 'auth' AS side, CAST(a AS BIGINT) AS score FROM a$iters"""
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // Chi-squared test of independence on the (source × lang)
    // contingency table — all cells including zeros (the tiny
    // dim-cross grid), expected counts from exact long marginals, and
    // the 50-term sum folded in sorted (src, lg) order on BOTH engines
    // so the float sum is associative-identical.
    "q293_chi2" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val o = docs.groupBy("source", "lang").agg(count(lit(1)).as("o"))
        val r = docs.groupBy("source").agg(count(lit(1)).as("r"))
        val c = docs.groupBy("lang").agg(count(lit(1)).as("c"))
        val n = docs.agg(count(lit(1)).as("n"))
        val cells = r.crossJoin(c).join(o, Seq("source", "lang"), "left")
          .crossJoin(broadcast(n))
          .select(col("source"), col("lang"),
            coalesce(col("o"), lit(0L)).cast("double").as("ob"),
            ((col("r") * col("c")).cast("double") / col("n").cast("double")).as("e"))
          .select(col("source"), col("lang"),
            ((col("ob") - col("e")) * (col("ob") - col("e")) / col("e")).as("term"))
        val nR = r.agg(count(lit(1))).scalar()
        val nC = c.agg(count(lit(1))).scalar()
        cells.agg(sort_array(collect_list(struct(col("source"), col("lang"),
            col("term")))).as("ts"))
          .select(Num.rnd(aggregate(col("ts"), lit(0.0),
            (acc, x) => acc + x.getField("term")), 6).as("chi2"),
            ((nR - 1) * (nC - 1)).as("dof"))
      },
      Some("""WITH o AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
            FROM documents GROUP BY 1, 2),
          r AS (SELECT source, CAST(count(*) AS BIGINT) AS r FROM documents GROUP BY 1),
          c AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY 1),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
          cells AS (SELECT r.source, c.lang,
              CAST(coalesce(o.o, 0) AS DOUBLE) AS ob,
              CAST(r.r * c.c AS DOUBLE) / CAST(n.n AS DOUBLE) AS e
            FROM r CROSS JOIN c LEFT JOIN o
              ON o.source = r.source AND o.lang = c.lang
            CROSS JOIN n),
          t AS (SELECT source, lang, (ob - e) * (ob - e) / e AS term FROM cells),
          l AS (SELECT list(term ORDER BY source, lang) AS ts FROM t),
          dof AS (SELECT CAST(((SELECT count(*) FROM r) - 1)
              * ((SELECT count(*) FROM c) - 1) AS BIGINT) AS dof)
          SELECT round(list_reduce(l.ts, (a, b) -> a + b) * 1e6) / 1e6 AS chi2,
            dof.dof FROM l, dof""")),

    // §2.12 HITS hubs & authorities (Kleinberg 1999) on the directed
    // customer→supplier trade graph — fixed-point integer iterations,
    // same replay discipline as q263's PageRank.
    "q294_hits" -> QueryDef(
      (s, d) => graft.operators.Hits.run(
        graft.operators.PageRank.tradeEdges(s, d), "cust", "supp", iters = 2),
      Some(hitsOracleSql(2))),

    // Systematic sampling: every 50th row in doc_id order via the
    // DISTRIBUTED two-phase global row number (repartitionByRange +
    // per-partition offsets — never a single-partition window).
    "q295_systematic_sample" -> QueryDef(
      (s, d) => graft.operators.Cumulative.globalRowNumber(
          Tables.documents(s, d).select("doc_id", "source"), Seq("doc_id"), "rn")
        .filter(col("rn") % 50 === 1)
        .select("doc_id", "source", "rn"),
      Some("""SELECT doc_id, source, rn FROM (
            SELECT doc_id, source,
              row_number() OVER (ORDER BY doc_id) AS rn FROM documents)
          WHERE rn % 50 = 1""")),

    // Time-to-convert: minutes from first signup to the first LATER
    // purchase per user; exact integer-µs deltas, exact percentiles of
    // the per-user distribution — the survival-analysis summary of the
    // q267 funnel.
    "q296_time_to_convert" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
        val fs = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts")).as("fs"))
        val deltas = ev.filter(col("event_type") === "purchase")
          .join(fs, "user_id")
          .filter(col("ts") > col("fs"))
          .groupBy("user_id", "fs").agg(min(col("ts")).as("fp"))
          .select(expr("(unix_micros(fp) - unix_micros(fs)) div 60000000").as("dm"))
        deltas.agg(count(lit(1)).as("n_converted"),
          expr("percentile(dm, 0.5)").as("p50_min"),
          expr("percentile(dm, 0.9)").as("p90_min"))
      },
      Some("""WITH fs AS (SELECT user_id, min(ts) AS fs FROM events
            WHERE event_type = 'signup' GROUP BY 1),
          fp AS (SELECT e.user_id, fs.fs, min(e.ts) AS fp
            FROM events e JOIN fs ON e.user_id = fs.user_id
            WHERE e.event_type = 'purchase' AND e.ts > fs.fs
            GROUP BY 1, 2),
          dm AS (SELECT (epoch_us(fp) - epoch_us(fs)) // 60000000 AS dm FROM fp)
          SELECT CAST(count(*) AS BIGINT) AS n_converted,
            quantile_cont(dm, 0.5) AS p50_min,
            quantile_cont(dm, 0.9) AS p90_min
          FROM dm"""))
  )
}
