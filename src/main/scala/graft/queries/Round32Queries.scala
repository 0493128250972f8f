package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.Num

/** Round-32 additions: streaming KMV sketch, exact covariance matrix,
  * categorical mutual information, label-centroid similarity matrix.
  */
object Round32Queries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // §2.10 STREAMING KMV distinct-count sketch: the mergeable typed
    // Aggregator is the stream state itself (≤ 64 sorted hashes per
    // event type), merged associatively across microbatches — the
    // sketch-as-state pattern that bounds streaming-profiling memory
    // at any volume.  The oracle replays the deterministic sketch
    // relationally (q154's formulation).
    "q343_stream_kmv" -> QueryDef(
      (s, d) => graft.streaming.EventStreams.kmvStream(s, d),
      Some("""WITH d AS (SELECT DISTINCT event_type,
              substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 12) AS h
            FROM events),
          r AS (SELECT event_type, h,
              row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM d),
          sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_h, max(h) AS mx
            FROM r WHERE rn <= 64 GROUP BY 1)
          SELECT event_type,
            round((CASE WHEN n_h < 64 THEN CAST(n_h AS DOUBLE)
              ELSE 63.0 / (CAST(CAST('0x' || mx AS BIGINT) AS DOUBLE)
                / power(16, 12)) END) * 1e3) / 1e3 AS est
          FROM sk""")),

    // Exact covariance matrix of the embedding space (upper triangle,
    // 64 dims → 2080 cells): long-form pair join keyed on vec_id with
    // exact decimal moments per (i, j) — the d²-bounded exact shape
    // for moderate dims (for d where pairs explode, `similarity/Pca`'s
    // per-partition Gram accumulation is the scale path; this query
    // gates the exact semantics).
    "q344_cov_matrix" -> QueryDef(
      (s, d) => {
        val ex = Tables.embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .select(col("vec_id"), col("pos").cast("long").as("pos"),
            Num.rnd(col("x").cast("double"), 6).cast("decimal(18,6)").as("xr"))
        val right = ex.select(col("vec_id").as("bid"),
          col("pos").as("bpos"), col("xr").as("bx"))
        val pairs = ex.join(right,
            col("vec_id") === col("bid") && col("pos") <= col("bpos"))
          .groupBy(col("pos").as("i"), col("bpos").as("j"))
          .agg(count(lit(1)).cast("double").as("n"),
            sum(col("xr")).cast("double").as("sx"),
            sum(col("bx")).cast("double").as("sy"),
            sum(col("xr") * col("bx")).cast("double").as("sxy"))
        pairs.select(col("i"), col("j"),
          Num.rnd((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"), 6)
            .as("cov"))
      },
      Some("""WITH ex AS (SELECT vec_id, CAST(gs - 1 AS BIGINT) AS pos,
              CAST(round(CAST(v AS DOUBLE) * 1e6) / 1e6 AS DECIMAL(18,6)) AS xr
            FROM (SELECT vec_id, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) AS gs FROM embeddings)),
          p AS (SELECT a.pos AS i, b.pos AS j,
              CAST(count(*) AS DOUBLE) AS n,
              CAST(sum(a.xr) AS DOUBLE) AS sx,
              CAST(sum(b.xr) AS DOUBLE) AS sy,
              CAST(sum(a.xr * b.xr) AS DOUBLE) AS sxy
            FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos <= b.pos
            GROUP BY 1, 2)
          SELECT i, j, round((sxy - sx * sy / n) / n * 1e6) / 1e6 + 0 AS cov
          FROM p""")),

    // Mutual information between source and lang (categorical
    // association in nats — the information-theoretic companion of
    // q293's χ²): nonzero contingency cells only, 6dp ln-terms folded
    // in (source, lang) order.
    "q345_mutual_information" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val o = docs.groupBy("source", "lang").agg(count(lit(1)).as("o"))
        val r = docs.groupBy("source").agg(count(lit(1)).as("r"))
        val c = docs.groupBy("lang").agg(count(lit(1)).as("c"))
        val nTot = docs.agg(count(lit(1))).scalar().cast("double")
        val cells = o.join(r, Seq("source")).join(broadcast(c), Seq("lang"))
          .select(col("source"), col("lang"),
            Num.rnd({
              val p = col("o").cast("double") / nTot
              p * log(col("o").cast("double") * nTot
                / (col("r").cast("double") * col("c").cast("double")))
            }, 6).as("term"))
        cells.agg(
            count(lit(1)).as("n_cells"),
            sort_array(collect_list(struct(col("source"), col("lang"),
              col("term")))).as("ts"))
          .select(col("n_cells"),
            Num.rnd(aggregate(col("ts"), lit(0.0),
              (a, x) => a + x.getField("term")), 6).as("mi"))
      },
      Some("""WITH o AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
            FROM documents GROUP BY 1, 2),
          r AS (SELECT source, CAST(count(*) AS BIGINT) AS r
            FROM documents GROUP BY 1),
          c AS (SELECT lang, CAST(count(*) AS BIGINT) AS c
            FROM documents GROUP BY 1),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
          t AS (SELECT o.source, o.lang,
              round((CAST(o.o AS DOUBLE) / CAST(n.n AS DOUBLE))
                * ln(CAST(o.o AS DOUBLE) * CAST(n.n AS DOUBLE)
                  / (CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE)))
                * 1e6) / 1e6 AS term
            FROM o JOIN r ON o.source = r.source
            JOIN c ON o.lang = c.lang CROSS JOIN n),
          l AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
              list(term ORDER BY source, lang) AS ts FROM t)
          SELECT n_cells,
            round(list_reduce(ts, (a, b) -> a + b) * 1e6) / 1e6 + 0 AS mi
          FROM l""")),

    // Label-centroid cosine similarity matrix: per-label centroids
    // (q88's posexplode + hash-agg shape, 6dp-rounded means), then the
    // bounded label-pair cosine — how separated the embedding classes
    // are, the cluster-quality report of an ANN corpus.
    "q346_centroid_similarity" -> QueryDef(
      (s, d) => {
        val cent = Tables.embeddings(s, d)
          .select(col("label").cast("long").as("label"),
            posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("label", "pos")
          .agg(Num.rnd(avg(col("v").cast("double")), 6).as("m"))
          .groupBy("label")
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("s"))
          .select(col("label"),
            expr("transform(s, x -> x.m)").as("cv"))
        val right = cent.select(col("label").as("l2"), col("cv").as("cv2"))
        cent.join(broadcast(right), col("label") < col("l2"))
          .select(col("label").as("l1"), col("l2"),
            Num.rnd(graft.similarity.Similarity.dotComposed(col("cv"), col("cv2"))
              / (sqrt(graft.similarity.Similarity.dotComposed(col("cv"), col("cv")))
                * sqrt(graft.similarity.Similarity.dotComposed(col("cv2"), col("cv2")))),
              6).as("cos"))
      },
      Some(s"""WITH ex AS (SELECT CAST(label AS BIGINT) AS label,
              gs - 1 AS pos, CAST(v AS DOUBLE) AS v
            FROM (SELECT label, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) AS gs FROM embeddings)),
          m AS (SELECT label, pos, round(avg(v) * 1e6) / 1e6 AS m
            FROM ex GROUP BY 1, 2),
          cent AS (SELECT label, list(m ORDER BY pos) AS cv FROM m GROUP BY 1)
          SELECT a.label AS l1, b.label AS l2,
            round(${SimilarityQueries.sqlCos("a.cv", "b.cv")} * 1e6) / 1e6 + 0 AS cos
          FROM cent a JOIN cent b ON a.label < b.label"""))
  )
}
