package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Round-18 additions: streaming heavy hitters, z-score anomaly
  * detection, corpus snapshot diffing.
  */
object Round18Queries {

  /** Shared by q277 (batch) and q282 (streaming twin). */
  private[queries] val anomalyOracleSql: String =
    """WITH ev AS (SELECT event_id, event_type,
          CAST(round(value * 1e6) / 1e6 AS DECIMAL(18,6)) AS vr
        FROM events WHERE value IS NOT NULL),
        st AS (SELECT event_type,
            CAST(sum(vr) AS DOUBLE) / count(*) AS mean,
            (CAST(sum(vr * vr) AS DOUBLE)
              - CAST(sum(vr) AS DOUBLE) * CAST(sum(vr) AS DOUBLE) / count(*))
              / (count(*) - 1) AS variance
          FROM ev GROUP BY 1),
        z AS (SELECT ev.event_id, ev.event_type,
            (CAST(ev.vr AS DOUBLE) - st.mean) / sqrt(st.variance) AS z
          FROM ev JOIN st ON ev.event_type = st.event_type)
        SELECT event_id, event_type, round(z * 1e6) / 1e6 AS z
        FROM z WHERE z > 2.5 OR z < -2.5"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // §2.10 streaming heavy hitters: bounded MG sketch as stream state
    // + the batch certification pass — exact top-10 most active users.
    "q276_stream_heavy_hitters" -> QueryDef(
      (s, d) => graft.streaming.EventStreams.heavyHittersStream(s, d),
      Some("""SELECT CAST(item AS BIGINT) AS user_id, cnt FROM (
            SELECT CAST(user_id AS VARCHAR) AS item,
              CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1)
          QUALIFY row_number() OVER (ORDER BY cnt DESC, item) <= 10""")),

    // z-score anomaly detection with DECIMAL-exact moments: values are
    // 6dp-rounded into DECIMAL(18,6) (18, not 28: the square must stay
    // inside Spark's 38-digit cap or multiplication silently rescales
    // to 6dp while DuckDB keeps 12), Σv and Σv² partial-aggregate
    // exactly (order-independent), and the mean/var/z expressions are
    // the identical IEEE shapes on both engines — so the |z| > 2.5
    // row SET cannot flip on a shuffle-order ulp (a float sum would).
    // One groupBy + one broadcast join back; flags stream-shaped data
    // at any scale.
    "q277_anomaly_zscore" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"),
            graft.functions.Num.rnd(col("value"), 6)
              .cast("decimal(18,6)").as("vr"))
        val stats = ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("vr")).as("s"),
            sum(col("vr") * col("vr")).as("ss"))
          .select(col("event_type"),
            (col("s").cast("double") / col("n")).as("mean"),
            ((col("ss").cast("double")
              - col("s").cast("double") * col("s").cast("double") / col("n"))
              / (col("n") - 1)).as("variance"))
        ev.join(broadcast(stats), "event_type")
          .select(col("event_id"), col("event_type"),
            ((col("vr").cast("double") - col("mean")) / sqrt(col("variance"))).as("z"))
          .filter(col("z") > 2.5 || col("z") < -2.5)
          .select(col("event_id"), col("event_type"),
            graft.functions.Num.rnd(col("z"), 6).as("z"))
      },
      Some(anomalyOracleSql)),

    // Corpus snapshot diff: the incremental-crawl bookkeeping op —
    // classify every doc id across two snapshots as added / removed /
    // changed (content fingerprint mismatch), via ONE full-outer hash
    // join on doc_id with md5 fingerprints computed in the scan.  The
    // "new" snapshot is derived deterministically from the corpus
    // (drop id%7, edit id%5, add id%11 clones shifted by 10^6).
    "q278_snapshot_diff" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val newSnap = docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" edit")))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        val o = docs.select(col("doc_id"), md5(col("text")).as("fp_old"))
        val n = newSnap.select(col("doc_id"), md5(col("text")).as("fp_new"))
        o.join(n, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            when(col("fp_old").isNull, lit("added"))
              .when(col("fp_new").isNull, lit("removed"))
              .when(col("fp_old") =!= col("fp_new"), lit("changed"))
              .otherwise(lit("unchanged")).as("status"))
          .filter(col("status") =!= "unchanged")
      },
      Some("""WITH docs AS (SELECT doc_id, text FROM documents),
          newsnap AS (
            SELECT doc_id,
              CASE WHEN doc_id % 5 = 0 THEN text || ' edit' ELSE text END AS text
            FROM docs WHERE doc_id % 7 != 0
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM docs WHERE doc_id % 11 = 0),
          o AS (SELECT doc_id, md5(text) AS fp_old FROM docs),
          n AS (SELECT doc_id, md5(text) AS fp_new FROM newsnap),
          j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
              CASE WHEN o.fp_old IS NULL THEN 'added'
                   WHEN n.fp_new IS NULL THEN 'removed'
                   WHEN o.fp_old != n.fp_new THEN 'changed'
                   ELSE 'unchanged' END AS status
            FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
          SELECT doc_id, status FROM j WHERE status != 'unchanged'""")),

    // CDC changelog apply — the write-side twin of q278: apply a
    // derived (DELETE / UPDATE / INSERT) log to the snapshot in ONE
    // left join + one anti filter + one union; emits content
    // fingerprints of the final state.  At 100 TB this is the standard
    // incremental-materialization shape (no row-at-a-time upserts).
    "q279_cdc_apply" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val updates = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), concat(col("text"), lit(" v2")).as("new_text"))
        val inserts = docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        docs.filter(col("doc_id") % 7 =!= 0)
          .join(updates, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("new_text"), col("text")).as("text"))
          .unionByName(inserts)
          .select(col("doc_id"), md5(col("text")).as("fp"))
      },
      Some("""WITH docs AS (SELECT doc_id, text FROM documents),
          applied AS (
            SELECT doc_id,
              CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
            FROM docs WHERE doc_id % 7 != 0
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM docs WHERE doc_id % 11 = 0)
          SELECT doc_id, md5(text) AS fp FROM applied""")),

    // §2.10 STREAMING Markov transitions: O(1) per-user last-event
    // state in flatMapGroupsWithState, pairs emitted incrementally —
    // bounded replay equals q270's exact pair counts.
    "q280_stream_transitions" -> QueryDef(
      (s, d) => graft.streaming.EventStreams.transitionsStreaming(s, d),
      Some("""WITH t AS (SELECT event_type AS src,
            lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
          FROM events)
          SELECT src, dst, CAST(count(*) AS BIGINT) AS n
          FROM t WHERE dst IS NOT NULL GROUP BY 1, 2""")),

    // Survivorship dedup: near-dup clusters (q166's MinHash-LSH →
    // connected components) but the KEPT representative is the
    // highest-QUALITY member (tiebreak min id), not the min id — the
    // real curation policy: among near-duplicates, keep the best one.
    // Selection = one row_number window per cluster over the clustered
    // frame, which is read once: selecting the best member apart and
    // joining it back would plan the pair derivation and the
    // components twice. Quality = the q51 scan-stage score.
    "q281_survivorship" -> QueryDef(
      (s, d) => {
        import graft.functions.Num
        val docs = Tables.documents(s, d)
        val pairs = graft.text.MinHash.nearDuplicates(docs, "doc_id", "text",
          n = 3, threshold = 0.5)
        val comp = graft.operators.Components.connected(pairs, "id1", "id2")
        val byQuality = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
          .orderBy(col("quality").desc, col("doc_id"))
        docs.select(col("doc_id"),
            Num.rnd(graft.text.TextStats.qualityScore(col("text")), 6).as("quality"))
          .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"), col("quality"),
            coalesce(col("rep"), col("doc_id")).as("cluster"))
          .select(col("doc_id"), col("cluster"), col("quality"),
            (row_number().over(byQuality) === 1).as("kept"))
      },
      Some(s"""WITH RECURSIVE ${TextQueries.pairsOracleCtes},
          edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                    UNION SELECT id2, id1 FROM pairs),
          reach(id, r) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
          comp AS (SELECT id, CAST(min(r) AS BIGINT) AS rep
                   FROM reach GROUP BY 1),
          q AS (SELECT doc_id, round(${TextQueries.qualitySql}, 6) AS quality
                FROM documents),
          wc AS (SELECT q.doc_id, q.quality, coalesce(c.rep, q.doc_id) AS cluster
                 FROM q LEFT JOIN comp c ON c.id = q.doc_id),
          best AS (SELECT cluster, doc_id AS keep_id FROM (
                     SELECT cluster, doc_id, row_number() OVER
                       (PARTITION BY cluster ORDER BY quality DESC, doc_id ASC) AS rn
                     FROM wc) WHERE rn = 1)
          SELECT wc.doc_id, wc.cluster, wc.quality,
            wc.doc_id = b.keep_id AS kept
          FROM wc JOIN best b ON wc.cluster = b.cluster""")),

    // §2.10 streaming anomaly monitor: running per-type (n, Σv, Σv²)
    // as three DECIMAL-exact numbers of stream state, batch z-pass
    // against the final stats — equals batch q277 (same oracle).
    "q282_stream_anomaly" -> QueryDef(
      (s, d) => graft.streaming.EventStreams.anomalyStream(s, d),
      Some(anomalyOracleSql)),

    // Winsorization: per-group exact-percentile clamping of the value
    // column to [p05, p95] — outlier mitigation before training-stat
    // aggregation.  Spark `percentile` ≡ DuckDB `quantile_cont`
    // (pinned since q170); clamp + 6dp round are identical IEEE ops.
    "q283_winsorize" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d).filter(col("value").isNotNull)
        val stats = ev.groupBy("event_type")
          .agg(expr("percentile(value, 0.05)").as("lo"),
            expr("percentile(value, 0.95)").as("hi"))
        ev.join(broadcast(stats), "event_type")
          .select(col("event_id"), col("event_type"),
            graft.functions.Num.rnd(
              when(col("value") < col("lo"), col("lo"))
                .when(col("value") > col("hi"), col("hi"))
                .otherwise(col("value")), 6).as("vw"))
      },
      Some("""WITH st AS (SELECT event_type,
            quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
          FROM events WHERE value IS NOT NULL GROUP BY 1)
          SELECT e.event_id, e.event_type,
            round(CASE WHEN e.value < st.lo THEN st.lo
                       WHEN e.value > st.hi THEN st.hi
                       ELSE e.value END * 1e6) / 1e6 AS vw
          FROM events e JOIN st ON e.event_type = st.event_type
          WHERE e.value IS NOT NULL"""))
  )
}
