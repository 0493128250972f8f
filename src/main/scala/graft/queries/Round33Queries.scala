package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.Num

/** Round-33 additions: time-constrained window funnel, stopword
  * discovery, duplicate-cluster size histogram.
  */
object Round33Queries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // Time-constrained window funnel (ClickHouse windowFunnel
    // semantics, EXISTS formulation): per user, max reached level of
    // signup → click → purchase where the whole chain fits in 24h
    // from the signup.  User-keyed joins over bounded per-user event
    // lists; level distribution as output.
    "q347_window_funnel" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            expr("unix_micros(ts)").as("t"))
        def typed(t: String, as: String) =
          ev.filter(col("event_type") === t)
            .select(col("user_id"), col("t").as(as))
        val su = typed("signup", "ts1")
        val cl = typed("click", "ts2")
        val pu = typed("purchase", "ts3")
        val win = lit(24L * 3600000000L)
        val l3 = su.join(cl, Seq("user_id"))
          .filter(col("ts2") > col("ts1") && col("ts2") <= col("ts1") + win)
          .join(pu, Seq("user_id"))
          .filter(col("ts3") > col("ts2") && col("ts3") <= col("ts1") + win)
          .select(col("user_id")).distinct().withColumn("lvl", lit(3L))
        val l2 = su.join(cl, Seq("user_id"))
          .filter(col("ts2") > col("ts1") && col("ts2") <= col("ts1") + win)
          .select(col("user_id")).distinct().withColumn("lvl", lit(2L))
        val l1 = su.select(col("user_id")).distinct().withColumn("lvl", lit(1L))
        l1.unionByName(l2).unionByName(l3)
          .groupBy("user_id").agg(max(col("lvl")).as("level"))
          .groupBy("level").agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t
            FROM events),
          su AS (SELECT user_id, t AS ts1 FROM ev WHERE event_type = 'signup'),
          cl AS (SELECT user_id, t AS ts2 FROM ev WHERE event_type = 'click'),
          pu AS (SELECT user_id, t AS ts3 FROM ev WHERE event_type = 'purchase'),
          l3 AS (SELECT DISTINCT su.user_id, 3 AS lvl
            FROM su JOIN cl ON su.user_id = cl.user_id
              AND cl.ts2 > su.ts1 AND cl.ts2 <= su.ts1 + 86400000000
            JOIN pu ON pu.user_id = su.user_id
              AND pu.ts3 > cl.ts2 AND pu.ts3 <= su.ts1 + 86400000000),
          l2 AS (SELECT DISTINCT su.user_id, 2 AS lvl
            FROM su JOIN cl ON su.user_id = cl.user_id
              AND cl.ts2 > su.ts1 AND cl.ts2 <= su.ts1 + 86400000000),
          l1 AS (SELECT DISTINCT user_id, 1 AS lvl FROM su),
          u AS (SELECT user_id, CAST(max(lvl) AS BIGINT) AS level
            FROM (SELECT * FROM l1 UNION ALL SELECT * FROM l2
              UNION ALL SELECT * FROM l3) GROUP BY 1)
          SELECT level, CAST(count(*) AS BIGINT) AS n_users
          FROM u GROUP BY 1""")),

    // Corpus-specific stopword discovery: tokens whose document
    // frequency exceeds half the corpus (plus their token-mass
    // coverage) — the vocabulary-pruning pass in front of an inverted
    // index.  One distinct pass for DF, one count pass for mass.
    "q348_stopword_discovery" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val nDocs = docs.agg(count(lit(1))).scalar()
        val tok = docs.select(col("doc_id"),
          explode(graft.text.TextStats.tokensNonEmpty(col("text"))).as("w"))
        val dfreq = tok.select(col("doc_id"), col("w")).distinct()
          .groupBy("w").agg(count(lit(1)).as("df"))
        val mass = tok.groupBy("w").agg(count(lit(1)).as("tf"))
        val totalTf = tok.agg(count(lit(1))).scalar()
        dfreq.join(mass, Seq("w"))
          .filter(col("df") * 2 > nDocs)
          .select(col("w"), col("df"), col("tf"),
            Num.rnd(col("df").cast("double") / nDocs.cast("double"), 6)
              .as("df_ratio"),
            Num.rnd(col("tf").cast("double") / totalTf.cast("double"), 6)
              .as("mass_share"))
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(list_filter(
              string_split(text, ' '), x -> x <> '')) AS w FROM documents),
          n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM tok),
          dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df
            FROM (SELECT DISTINCT doc_id, w FROM tok) GROUP BY 1),
          mass AS (SELECT w, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1)
          SELECT dfreq.w, dfreq.df, mass.tf,
            round(CAST(dfreq.df AS DOUBLE) / CAST(n.nd AS DOUBLE) * 1e6) / 1e6
              AS df_ratio,
            round(CAST(mass.tf AS DOUBLE) / CAST(tot.tt AS DOUBLE) * 1e6) / 1e6
              AS mass_share
          FROM dfreq JOIN mass ON dfreq.w = mass.w CROSS JOIN n CROSS JOIN tot
          WHERE dfreq.df * 2 > n.nd""")),

    // Duplicate-cluster size histogram: the q114 connected-components
    // dedup clusters rolled up into a size distribution — the
    // "how duplicated is this corpus" report that decides dedup
    // strategy at scale.  Components via union-find (one plan
    // node, no driver loop); histogram is two grouped counts.
    "q349_dup_cluster_histogram" -> QueryDef(
      (s, d) => {
        val comp = graft.operators.Components
          .connected(TextQueries.exactPairs(s, d), "id1", "id2")
        comp.groupBy("rep").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      },
      Some(s"""WITH RECURSIVE ${TextQueries.pairsOracleCtes},
          edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                    UNION SELECT id2, id1 FROM pairs),
          reach(id, r) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
          comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY 1),
          cs AS (SELECT rep, CAST(count(*) AS BIGINT) AS sz
            FROM comp GROUP BY 1)
          SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
          FROM cs GROUP BY 1"""))
  )
}
