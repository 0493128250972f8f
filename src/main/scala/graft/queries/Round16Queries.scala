package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.CountMin
import graft.text.{BigramLm, QualityModel}

/** Round-16 additions: hashed bigram-LM fluency scoring, the frozen
  * linear quality classifier, CMS sketch join-size estimation,
  * fixed-point integer PageRank, and JSON property extraction.
  */
object Round16Queries {

  /** Shared by q267 (batch) and q272 (streaming twin). */
  private[queries] val funnelOracleSql: String =
    """WITH u AS (SELECT user_id,
          min(CASE WHEN event_type = 'signup' THEN ts END) AS fs,
          min(CASE WHEN event_type = 'click' THEN ts END) AS fc,
          min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
        FROM events GROUP BY 1)
        SELECT
          CAST(coalesce(sum(CASE WHEN fs IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_signup,
          CAST(coalesce(sum(CASE WHEN fs < fc THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_click,
          CAST(coalesce(sum(CASE WHEN fs < fc AND fc < fp THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_purchase
        FROM u"""

  /** md5 bucket in DuckDB, mirroring [[BigramLm]]/[[QualityModel]]. */
  private def bucketSql(x: String, n: Int): String =
    s"CAST(('0x' || substr(md5($x), 1, 4)) AS INT) % $n"

  /** Oracle for q260: rebuild both smoothed bucket tables from the
    * same md5 buckets, then replay the identical left-associated
    * interpolated fold and mean per document.
    */
  private def bigramOracleSql: String = {
    val bu = BigramLm.UniBuckets
    val bb = BigramLm.BiBuckets
    s"""WITH tok AS (SELECT doc_id,
            list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents),
        bg AS (SELECT doc_id, CASE WHEN len(t) < 2 THEN []
            ELSE list_transform(range(2, len(t) + 1), i -> t[i-1] || ' ' || t[i])
            END AS g FROM tok),
        uc AS (SELECT ${bucketSql("w", bu)} AS b, count(*) AS c
          FROM (SELECT unnest(t) AS w FROM tok) GROUP BY 1),
        bc AS (SELECT ${bucketSql("x", bb)} AS b, count(*) AS c
          FROM (SELECT unnest(g) AS x FROM bg) GROUP BY 1),
        ut AS (SELECT coalesce(sum(c), 0) + $bu.0 AS s FROM uc),
        bt AS (SELECT coalesce(sum(c), 0) + $bb.0 AS s FROM bc),
        pu AS (SELECT g.b, (coalesce(uc.c, 0) + 1.0) / ut.s AS p
          FROM (SELECT unnest(range($bu)) AS b) g CROSS JOIN ut
          LEFT JOIN uc ON uc.b = g.b),
        pb AS (SELECT g.b, (coalesce(bc.c, 0) + 1.0) / bt.s AS p
          FROM (SELECT unnest(range($bb)) AS b) g CROSS JOIN bt
          LEFT JOIN bc ON bc.b = g.b),
        pul AS (SELECT list(p ORDER BY b) AS l FROM pu),
        pbl AS (SELECT list(p ORDER BY b) AS l FROM pb)
        SELECT doc_id, CASE WHEN len(t) < 2 THEN 0.0 ELSE
          list_reduce(list_transform(range(2, len(t) + 1), i ->
            ${BigramLm.WBi} * pbl.l[${bucketSql("t[i-1] || ' ' || t[i]", bb)} + 1]
            + ${BigramLm.WUni} * pul.l[${bucketSql("t[i]", bu)} + 1]),
            (a, b) -> a + b) / (len(t) - 1) END AS fluency
        FROM tok CROSS JOIN pul CROSS JOIN pbl"""
  }

  /** q260's score table, reusable as a nested CTE body (q285). */
  private[queries] def bigramScoreSql: String = bigramOracleSql

  /** Oracle for q262: rebuild both 4×256 grids and take the min of
    * the per-row inner products (the CMS join-size estimator); exact
    * Σ c_u·p_u rides along to make the ≥ overestimate visible.
    */
  private def cmsJoinOracleSql: String = {
    val d = CountMin.D
    val w = CountMin.W
    def bSql(seed: Int) =
      s"CAST('0x' || substr(md5('cms$seed:' || k), 1, 8) AS BIGINT) % $w"
    val hCols = (0 until d).map(r => s"${bSql(r)} AS b$r").mkString(", ")
    def cCtes(side: String) = (0 until d).map(r =>
      s"c$side$r AS (SELECT b$r AS b, CAST(count(*) AS BIGINT) AS n FROM h$side GROUP BY 1)")
      .mkString(", ")
    val iCtes = (0 until d).map(r =>
      s"""i$r AS (SELECT CAST(coalesce(sum(x.n * y.n), 0) AS BIGINT) AS v
           FROM ca$r x JOIN cb$r y ON x.b = y.b)""").mkString(", ")
    val ests = (0 until d).map(r => s"i$r.v").mkString(", ")
    val froms = (0 until d).map(r => s"i$r").mkString(", ")
    s"""WITH a AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
           WHERE event_type = 'click'),
        b AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
           WHERE event_type = 'purchase'),
        ha AS (SELECT k, $hCols FROM a),
        hb AS (SELECT k, $hCols FROM b),
        ${cCtes("a")}, ${cCtes("b")},
        $iCtes,
        ex AS (SELECT CAST(coalesce(sum(c.n * p.n), 0) AS BIGINT) AS exact
          FROM (SELECT k, count(*) AS n FROM a GROUP BY 1) c
          JOIN (SELECT k, count(*) AS n FROM b GROUP BY 1) p ON c.k = p.k)
        SELECT least($ests) AS est, ex.exact FROM $froms, ex"""
  }

  /** Oracle for q263: three unrolled fixed-point iterations with the
    * identical integer `//` arithmetic (DuckDB sums go through
    * HUGEINT — exact — and come back to BIGINT at the end).
    */
  private def pageRankOracleSql: String = {
    val s = PageRankSql
    s"""WITH e0 AS (SELECT DISTINCT
            'c' || CAST(o_custkey AS VARCHAR) AS src,
            's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT src, dst FROM e0
              UNION SELECT dst AS src, src AS dst FROM e0),
        v AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
              FROM e GROUP BY 1),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        p0 AS (SELECT id, deg, ($s // n) AS pr FROM v CROSS JOIN nn),
        ${prIterSql(1, "p0")}, ${prIterSql(2, "p1")}, ${prIterSql(3, "p2")}
        SELECT id, deg, CAST(pr AS BIGINT) AS pr FROM p3"""
  }

  private val PageRankSql = graft.operators.PageRank.Scale.toString

  private def prIterSql(k: Int, prev: String): String = {
    val s = PageRankSql
    s"""m$k AS (SELECT e.dst AS id, sum(p.pr // p.deg) AS mass
          FROM e JOIN $prev p ON e.src = p.id GROUP BY 1),
        p$k AS (SELECT v.id, v.deg,
            ((3 * $s) // (20 * nn.n)) + (85 * coalesce(m$k.mass, 0)) // 100 AS pr
          FROM v CROSS JOIN nn LEFT JOIN m$k ON m$k.id = v.id)"""
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // §2.12 hashed interpolated bigram-LM fluency (text/BigramLm):
    // the CCNet-style LM-filter stage.  Model = two constant bucket
    // tables (one explode+groupBy pass each, driver-collected like a
    // tiny dim); scoring = one scan-stage fold per doc inside codegen
    // — no join, no shuffle on the scoring pass.  Rational-mean
    // variant (no log) so the oracle replays it bit-for-bit.
    "q260_bigram_lm" -> QueryDef(
      (s, d) => {
        // md5-per-position kernel: spread a row-group-capped scan
        // across cores (no-op at scale — see Tables.fanout)
        val docs = Tables.fanout(Tables.documents(s, d), d, "documents")
        val (pu, pb) = BigramLm.tables(docs, "text")
        docs.select(col("doc_id"),
          BigramLm.score(col("text"), pu, pb).as("fluency"))
      },
      Some(bigramOracleSql), headline = true),

    // §2.12 frozen linear quality classifier (text/QualityModel):
    // fastText-style hashed bag-of-words margin, weights as a closure
    // literal, one codegen'd scan — the deployment shape of
    // model-based quality filtering at 100 TB.
    "q261_quality_classifier" -> QueryDef(
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
        QualityModel.margin(col("text")).as("margin"),
        QualityModel.keep(col("text")).as("keep")),
      Some(s"""WITH tok AS (SELECT doc_id,
            list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents)
          SELECT doc_id,
            CASE WHEN len(t) = 0 THEN ${QualityModel.Bias} ELSE
              list_reduce(list_transform(t, w ->
                (${QualityModel.weightsSql})[${bucketSql("w", QualityModel.Buckets)} + 1]),
                (a, b) -> a + b) / len(t) + (${QualityModel.Bias}) END AS margin,
            (CASE WHEN len(t) = 0 THEN ${QualityModel.Bias} ELSE
              list_reduce(list_transform(t, w ->
                (${QualityModel.weightsSql})[${bucketSql("w", QualityModel.Buckets)} + 1]),
                (a, b) -> a + b) / len(t) + (${QualityModel.Bias}) END) > 0.0 AS keep
          FROM tok"""), headline = true),

    // §2.12 CMS join-size estimation (functions/CountMin
    // .joinSizeEstimate): |clicks ⋈ purchases on user| from the two
    // sketches' inner product — the cardinality-estimation use of the
    // q258 summary (what a cost-based planner consults before picking
    // a join strategy).  Sketches are two constant 8 KB grids; the
    // estimate is one one-row crossJoin — the raw tables are never
    // joined.  `exact` rides along to exhibit the ≥ bound.
    "q262_cms_join_size" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
        def side(t: String) = ev.filter(col("event_type") === t)
          .select(col("user_id").cast("string").as("k"))
        val ska = side("click").select(CountMin.buckets(col("k")).as("bs"))
          .agg(CountMin.sketch(col("bs")).as("ska"))
        val skb = side("purchase").select(CountMin.buckets(col("k")).as("bs"))
          .agg(CountMin.sketch(col("bs")).as("skb"))
        val est = ska.crossJoin(skb)
          .select(CountMin.joinSizeEstimate(col("ska"), col("skb")).as("est"))
        val ex = side("click").groupBy("k").agg(count(lit(1)).as("c"))
          .join(side("purchase").groupBy("k").agg(count(lit(1)).as("p")), "k")
          .agg(coalesce(sum(col("c") * col("p")), lit(0L)).as("exact"))
        est.crossJoin(ex)
      },
      Some(cmsJoinOracleSql)),

    // §2.12 PageRank (operators/PageRank): 3 fixed-point integer
    // iterations over the symmetrized customer↔supplier trade graph —
    // one lazy GraphIter node, one message shuffle per iteration inside
    // its exec.  Integer `div` arithmetic makes the per-vertex mass sum
    // order-independent and bit-replayable.
    "q263_pagerank" -> QueryDef(
      (s, d) => {
        // iterate on LONG vertex ids (string hashing dominated the
        // executor profile); decode to "c<k>"/"s<k>" only at the end
        import graft.operators.PageRank
        PageRank.run(PageRank.tradeEdgesLong(s, d), "cust", "supp", iters = 3)
          .select(PageRank.vertexIdString(col("id")).as("id"),
            col("deg"), col("pr"))
      },
      Some(pageRankOracleSql), headline = true),

    // §2.8 JSON property extraction (pandas json_normalize /
    // Series.str JSON access): get_json_object stays in codegen;
    // aggregation is exact longs with one double division for the
    // mean.  The oracle replays the path with a regex extract.
    "q264_json_props" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          (sum("k").cast("double") / count(lit(1))).as("avg_k")),
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
            CAST(sum(k) AS BIGINT) AS sum_k,
            CAST(min(k) AS BIGINT) AS min_k,
            CAST(max(k) AS BIGINT) AS max_k,
            CAST(sum(k) AS DOUBLE) / count(*) AS avg_k
          FROM (SELECT event_type,
            CAST(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) AS k
            FROM events)
          GROUP BY 1""")),

    // §2.10 streaming Count-Min monitor: the q258 sketch maintained
    // incrementally on the stream (constant-size mergeable grid as the
    // whole aggregation state), point-estimates probed from the final
    // grid.  Bounded replay ⇒ identical grid ⇒ same oracle as q258.
    "q265_stream_cms" -> QueryDef(
      (s, d) => graft.streaming.EventStreams.cmsStream(s, d),
      Some(Round15Queries.cmsOracleSql)),

    // §2.12 label-propagation communities (operators/LabelProp):
    // deterministic LPA (majority neighbor label, ties → smallest) —
    // the density-community operator beside q114's connected
    // components.  One vote shuffle and one per-vertex argmax per
    // iteration, inside one GraphIter node.
    "q266_label_prop" -> QueryDef(
      (s, d) => graft.operators.LabelProp.run(
        graft.operators.PageRank.tradeEdges(s, d), "cust", "supp", iters = 2),
      Some("""WITH e0 AS (SELECT DISTINCT
            'c' || CAST(o_custkey AS VARCHAR) AS src,
            's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT src, dst FROM e0
              UNION SELECT dst AS src, src AS dst FROM e0),
        l0 AS (SELECT DISTINCT src AS id FROM e),
        l0l AS (SELECT id, id AS label FROM l0),
        v1 AS (SELECT e.dst AS vid, l.label, count(*) AS n
               FROM e JOIN l0l l ON e.src = l.id GROUP BY 1, 2),
        l1 AS (SELECT vid AS id, label FROM (
                 SELECT vid, label, row_number() OVER
                   (PARTITION BY vid ORDER BY n DESC, label ASC) AS rn
                 FROM v1) WHERE rn = 1),
        v2 AS (SELECT e.dst AS vid, l.label, count(*) AS n
               FROM e JOIN l1 l ON e.src = l.id GROUP BY 1, 2),
        l2 AS (SELECT vid AS id, label FROM (
                 SELECT vid, label, row_number() OVER
                   (PARTITION BY vid ORDER BY n DESC, label ASC) AS rn
                 FROM v2) WHERE rn = 1)
        SELECT id, label FROM l2""")),

    // events funnel: per-user first-touch ordering signup → click →
    // purchase (strict event-time order, exact min-timestamp compare).
    // One groupBy(user) + one global agg — the standard conversion
    // report shape.
    "q267_funnel" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
        def firstTs(t: String) = min(when(col("event_type") === t, col("ts")))
        ev.groupBy("user_id")
          .agg(firstTs("signup").as("fs"), firstTs("click").as("fc"),
            firstTs("purchase").as("fp"))
          .agg(
            sum(when(col("fs").isNotNull, 1L).otherwise(0L)).as("n_signup"),
            sum(when(col("fs") < col("fc"), 1L).otherwise(0L)).as("n_click"),
            sum(when(col("fs") < col("fc") && col("fc") < col("fp"), 1L)
              .otherwise(0L)).as("n_purchase"))
      },
      Some(funnelOracleSql)),

    // §2.12 personalized PageRank (topic-sensitive): teleport mass
    // lands only on an md5-selected 10% "trusted whitelist" of
    // vertices — authority as seen from the whitelist, the
    // source-weighting signal beside the global q263 ranks.
    "q268_ppr" -> QueryDef(
      (s, d) => graft.operators.PageRank.runPersonalized(
        graft.operators.PageRank.tradeEdges(s, d), "cust", "supp", iters = 3,
        id => conv(substring(md5(id), 1, 4), 16, 10).cast("int") % 10 === 0),
      Some(pprOracleSql)))

  private def pprOracleSql: String = {
    val s = PageRankSql
    val seed = "CAST(('0x' || substr(md5(id), 1, 4)) AS INT) % 10 = 0"
    def iter(k: Int, prev: String) =
      s"""m$k AS (SELECT e.dst AS id, sum(p.pr // p.deg) AS mass
            FROM e JOIN $prev p ON e.src = p.id GROUP BY 1),
          p$k AS (SELECT v.id, v.deg, v.seed,
              (CASE WHEN v.seed THEN (3 * $s) // (20 * ns.n) ELSE 0 END)
                + (85 * coalesce(m$k.mass, 0)) // 100 AS pr
            FROM v CROSS JOIN ns LEFT JOIN m$k ON m$k.id = v.id)"""
    s"""WITH e0 AS (SELECT DISTINCT
            'c' || CAST(o_custkey AS VARCHAR) AS src,
            's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT src, dst FROM e0
              UNION SELECT dst AS src, src AS dst FROM e0),
        v0 AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
              FROM e GROUP BY 1),
        v AS (SELECT id, deg, $seed AS seed FROM v0),
        ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v WHERE seed),
        p0 AS (SELECT id, deg, seed,
            CASE WHEN seed THEN $s // ns.n ELSE 0 END AS pr
          FROM v CROSS JOIN ns),
        ${iter(1, "p0")}, ${iter(2, "p1")}, ${iter(3, "p2")}
        SELECT id, deg, CAST(pr AS BIGINT) AS pr FROM p3"""
  }
}
