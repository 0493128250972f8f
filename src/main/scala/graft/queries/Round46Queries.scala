package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.Num
import graft.text.{Bm25, TextStats}
import graft.similarity.Similarity

/** Round-46 additions (build round 12, post-worklist wave): the
  * retrieval/curation operators a production pretraining pipeline runs
  * that were not yet first-class gates —
  *
  *  - q399 hybrid retrieval: Reciprocal-Rank-Fusion of BM25 (lexical)
  *    and brute-cosine (semantic) top-k lists;
  *  - q400 per-source quota cap (RefinedWeb-style per-domain dedup
  *    pressure valve) via bounded GroupTopK heaps;
  *  - q401 token-budget greedy selection (highest-quality prefix under
  *    a global token budget) via the two-phase global cumsum;
  *  - q402 language rebalancing to equal target shares with a
  *    deterministic per-language keep rate — counts pass → broadcast
  *    thresholds → scan-stage filter;
  *  - q403 ORC source/sink round-trip (the second columnar format);
  *  - q404 distributed Lloyd KMeans in integer fixed-point — the
  *    online-training twin of the frozen IVFCentroids path.
  *
  * (reference scope note: the reference has no retrieval / curation
  * surface — this family is beyond-parity pipeline tooling, same as
  * q240/q249.)
  */
object Round46Queries {

  // ---- q399 hybrid RRF ----

  private[queries] val rrfTerms = Seq("spark", "join", "window", "hash")
  private[queries] val rrfK1 = 1.2
  private[queries] val rrfB = 0.75
  private val rrfC = 60.0 // the standard RRF dampening constant
  private[queries] val rrfDepth = 20
  private val rrfOut = 10
  private[queries] val rrfQvec = 3L

  /** q240's oracle SQL shape (Round13's generator, one query): BM25
    * rank list with the identical Lucene-idf association order.
    */
  private[queries] def bm25RankCte: String = {
    val dl = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    def tfSql(t: String) =
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS DOUBLE)"
    val dfCols = rrfTerms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN ${tfSql(t)} > 0 THEN 1.0 ELSE 0.0 END) AS df_$i"
    }.mkString(", ")
    val scoreSql = rrfTerms.zipWithIndex.map { case (t, i) =>
      val idf = s"ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5))"
      s"($idf * (${tfSql(t)} * ${rrfK1 + 1.0}) / (${tfSql(t)} + $rrfK1 * (${1.0 - rrfB} + $rrfB * $dl / avgdl)))"
    }.mkString(" + ")
    s"""bmstats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
            avg($dl) AS avgdl, $dfCols FROM documents),
        bmscored AS (SELECT doc_id, round(($scoreSql) * 1e6) / 1e6 AS bm25
            FROM documents, bmstats),
        bm AS (SELECT doc_id, rn FROM (
            SELECT doc_id,
              CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS rn
            FROM bmscored WHERE bm25 > 0) WHERE rn <= $rrfDepth)"""
  }

  /** q58's oracle shape, one query vector, rank list only. */
  private[queries] def annRankCte: String =
    s"""q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = $rrfQvec),
        c AS (SELECT vec_id, embedding FROM embeddings),
        annsims AS (SELECT c.vec_id AS vid,
            round(${SimilarityQueries.sqlCosPub("q.embedding", "c.embedding")} * 1e6) / 1e6 AS sim
          FROM q, c WHERE c.vec_id != q.vec_id),
        ann AS (SELECT vid, rn FROM (
            SELECT vid,
              CAST(row_number() OVER (ORDER BY sim DESC, vid ASC) AS BIGINT) AS rn
            FROM annsims) WHERE rn <= $rrfDepth)"""

  // ---- q404 integer Lloyd ----

  private val kmK = 4
  private val kmIters = 2

  /** Collect a BOUNDED (k × dims) centroid table and rebuild it as a
    * local frame — the frozen-literal discipline between iterations
    * (driver state is k·64 longs, independent of corpus size).
    */
  private def localize(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Distributed Lloyd KMeans in INTEGER fixed-point (components scaled
    * by 1e6 → int64): squared-L2 distances, partial-agg argmin via
    * min(struct), centroid update by truncating integer division — every
    * step order-independent and bit-replayable in SQL, the same
    * discipline as the integer PageRank (q263). Deterministic init:
    * the first k vec_ids. Scale shape: the long format (vec_id, dim, v)
    * is q88's shuffle-friendly layout (partial sums of (cid, dim) cells,
    * never whole vectors); centroids stay driver-bounded literals; the
    * per-iteration cost is one broadcast join + two hash aggregates. At
    * 100 TB the production path persists `base` once per fit — here the
    * corpus rescan per iteration is the honest lazy form.
    */
  private def kmeansLloyd(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "fv")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"),
        round(col("fv") * lit(1e6)).cast("long").as("v"))
    def assignTo(cent: DataFrame): DataFrame =
      base.join(broadcast(cent), "dim")
        .groupBy(col("vec_id"), col("cid"))
        .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("dist"))
        .groupBy("vec_id")
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"))
    var cent = localize(base.filter(col("vec_id") < kmK)
      .select(col("vec_id").as("cid"), col("dim"), col("v").as("c")))
    for (_ <- 1 to kmIters) {
      val assign = assignTo(cent)
      // truncating int division (Spark `div` ≡ DuckDB `//`, both
      // toward zero) keeps the update exactly replayable
      cent = localize(assign.join(base, "vec_id")
        .groupBy("cid", "dim")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .select(col("cid"), col("dim"), expr("sv div n").as("c")))
    }
    val sizes = assignTo(cent).groupBy("cid").agg(count(lit(1)).as("n"))
    cent.join(sizes, "cid").select("cid", "dim", "c", "n")
  }

  private def kmeansOracleSql: String = {
    def iter(i: Int, prevC: String): String =
      s"""d$i AS (SELECT b.vec_id, c.cid, sum((b.v - c.c) * (b.v - c.c)) AS dist
            FROM base b JOIN $prevC c ON b.dim = c.dim GROUP BY 1, 2),
          a$i AS (SELECT vec_id, cid FROM (
              SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
              FROM d$i) WHERE rn = 1),
          c$i AS (SELECT a$i.cid, b.dim,
              CAST(sum(b.v) // count(*) AS BIGINT) AS c
            FROM a$i JOIN base b ON a$i.vec_id = b.vec_id GROUP BY 1, 2)"""
    val iters = (1 to kmIters).map(i => iter(i, s"c${i - 1}")).mkString(",\n")
    s"""WITH base AS (SELECT vec_id,
            CAST(generate_subscripts(embedding, 1) AS INTEGER) AS dim,
            CAST(round(unnest(embedding) * 1e6) AS BIGINT) AS v
          FROM embeddings),
        c0 AS (SELECT vec_id AS cid, dim, v AS c FROM base WHERE vec_id < $kmK),
        $iters,
        dz AS (SELECT b.vec_id, c.cid, sum((b.v - c.c) * (b.v - c.c)) AS dist
            FROM base b JOIN c$kmIters c ON b.dim = c.dim GROUP BY 1, 2),
        az AS (SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
              row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM dz) WHERE rn = 1),
        sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM az GROUP BY 1)
        SELECT c$kmIters.cid, dim, c, n
        FROM c$kmIters JOIN sz USING (cid)"""
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // Hybrid retrieval via Reciprocal Rank Fusion: BM25 top-20 and
    // brute-cosine top-20 fused as Σ 1/(60+rank) — the standard
    // score-free fusion (ranks only, so the lexical and semantic
    // scores never need calibrating against each other). Both rank
    // lists are bounded (≤ depth rows), so the fusion join is a
    // trivially broadcastable k×k full-outer — whatever the corpus
    // size, the expensive parts are the two retrieval ops that are
    // already individually gated (q240, q58).
    "q399_hybrid_rrf" -> QueryDef(
      (s, d) => {
        val bm = Bm25.topK(Tables.documents(s, d), "doc_id", "text",
          rrfTerms, rrfDepth, k1 = rrfK1, b = rrfB)
          .select(col("doc_id").as("id"), col("rn").as("rb"))
        val e = Tables.embeddings(s, d)
        val ann = Similarity.bruteForceTopK(
          e.filter(col("vec_id") === rrfQvec), e, rrfDepth)
          .select(col("vid").as("id"), col("rn").as("ra"))
        val fused = bm.join(ann, Seq("id"), "full_outer")
          .select(col("id"),
            Num.rnd(
              coalesce(lit(1.0) / (lit(rrfC) + col("rb")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(rrfC) + col("ra")), lit(0.0)), 6).as("rrf"),
            col("rb").isNotNull.as("in_bm25"),
            col("ra").isNotNull.as("in_ann"))
        fused.orderBy(col("rrf").desc, col("id").asc).limit(rrfOut)
      },
      Some(s"""WITH $bm25RankCte,
             $annRankCte,
             fused AS (SELECT COALESCE(b.doc_id, a.vid) AS id,
                 round((COALESCE(1.0 / ($rrfC + b.rn), 0.0)
                      + COALESCE(1.0 / ($rrfC + a.rn), 0.0)) * 1e6) / 1e6 AS rrf,
                 b.rn IS NOT NULL AS in_bm25,
                 a.rn IS NOT NULL AS in_ann
               FROM bm b FULL OUTER JOIN ann a ON b.doc_id = a.vid)
             SELECT id, rrf, in_bm25, in_ann FROM (
               SELECT *, row_number() OVER (ORDER BY rrf DESC, id ASC) AS rn2
               FROM fused) WHERE rn2 <= $rrfOut""")),

    // Per-source quota cap: keep at most 10 docs per source, elected by
    // a deterministic hash draw (smallest md5 first) — the per-domain
    // pressure valve every web-scale curation pipeline applies so one
    // crawler-friendly domain can't dominate the mix. GroupTopK bounded
    // heaps: the exchange carries ≤ sources×cap rows however large the
    // corpus (never a per-source window over all rows).
    "q400_source_cap" -> QueryDef(
      (s, d) => {
        val capped = graft.plans.GroupTopK.topKPerKey(
          Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"),
            md5(concat(lit("cap:"), col("doc_id").cast("string"))).as("u")),
          Seq("source"), Seq("u" -> false, "doc_id" -> false), 10)
        capped.select("source", "doc_id", "n_chars")
      },
      Some("""SELECT source, doc_id, n_chars FROM (
             SELECT source, doc_id, n_chars,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
             FROM documents) WHERE rn <= 10""")),

    // Token-budget greedy selection: take documents in quality order
    // (best first) until the global token budget is spent — the data-
    // selection step of a budgeted pretraining run. The running total
    // is the two-phase distributed cumsum (per-partition partials +
    // carry map), never a single-partition window.
    "q401_token_budget" -> QueryDef(
      (s, d) => {
        val scored = Tables.documents(s, d).select(
          col("doc_id"),
          Num.rnd(TextStats.qualityScore(col("text")), 6).as("q"),
          TextStats.nTokens(col("text")).as("tok"))
          .withColumn("negq", -col("q"))
        graft.operators.Cumulative.globalScan(
          scored, Seq("negq", "doc_id"), "tok", "cum",
          graft.operators.Cumulative.SumOp)
          .filter(col("cum") <= 8000.0)
          .select(col("doc_id"), col("q"), col("tok"), col("cum").cast("long").as("cum"))
      },
      Some(s"""WITH t AS (SELECT doc_id, round(${TextQueries.qualitySql}, 6) AS q,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS tok
             FROM documents),
             c AS (SELECT doc_id, q, tok,
               sum(tok) OVER (ORDER BY q DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM t)
             SELECT doc_id, q, tok, CAST(cum AS BIGINT) AS cum
             FROM c WHERE cum <= 8000""")),

    // Language rebalancing to equal target shares: per-language keep
    // rate = min(1, (total/L)/n_lang), applied as a deterministic
    // integer draw threshold — over-represented languages are
    // down-sampled toward the uniform mix, sparse ones pass whole.
    // Counts pass → broadcast per-language thresholds → pure scan-stage
    // filter; nothing here grows with corpus size except the one
    // hash-agg counts pass.
    "q402_lang_rebalance" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cnts = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
        val tot = cnts.agg(sum(col("cnt")).as("total"), count(lit(1)).as("nlang"))
        val thr = cnts.crossJoin(broadcast(tot)).select(col("lang"),
          floor(least(lit(1.0),
            (col("total").cast("double") / col("nlang").cast("double"))
              / col("cnt").cast("double")) * lit(1000000.0)).cast("long").as("t"))
        docs.join(broadcast(thr), "lang")
          .withColumn("keep", (col("doc_id") * lit(2654435761L)) % 1000000 < col("t"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_before"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("sum_chars_kept"))
      },
      Some("""WITH cnts AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt
               FROM documents GROUP BY 1),
             tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS nlang FROM cnts),
             thr AS (SELECT lang,
               CAST(floor(least(1.0,
                 (CAST(total AS DOUBLE) / CAST(nlang AS DOUBLE))
                   / CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT) AS t
               FROM cnts, tot),
             j AS (SELECT d.lang, d.n_chars,
                 (d.doc_id * 2654435761) % 1000000 < t.t AS keep
               FROM documents d JOIN thr t ON d.lang = t.lang)
             SELECT lang, CAST(count(*) AS BIGINT) AS n_before,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT)
                 AS sum_chars_kept
             FROM j GROUP BY 1""")),

    // §2.1 ORC round-trip: the second columnar format, three codecs
    // (zlib/snappy/zstd) — same contract as q363's parquet codecs.
    "q403_orc_roundtrip" -> QueryDef(
      (s, d) => {
        val out = graft.tools.Staging.dir("orc", d)
        val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        val codecs = Seq("zlib", "snappy", "zstd")
        codecs.foreach { c =>
          o.write.mode("overwrite").option("compression", c).orc(s"$out/$c")
        }
        codecs.map { c =>
          s.read.orc(s"$out/$c").agg(
            count(lit(1)).as("n_rows"),
            round(sum(Num.dec2(col("o_totalprice"))), 2).cast("double").as("total"))
            .withColumn("codec", lit(c))
        }.reduce(_.unionByName(_)).select("codec", "n_rows", "total")
      },
      Some("""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
                AS total
            FROM orders)
          SELECT c.codec, a.n_rows, a.total
          FROM a, (VALUES ('zlib'), ('snappy'), ('zstd')) c(codec)""")),

    // Distributed Lloyd KMeans (k=4, 2 iterations, integer fixed-point,
    // first-k init) — the ONLINE clustering twin of the frozen
    // IVFCentroids/PQ codebook paths: this is how those codebooks get
    // (re)trained in-cluster before being frozen for assignment.
    "q404_kmeans_lloyd" -> QueryDef(
      (s, d) => kmeansLloyd(s, d),
      Some(kmeansOracleSql))
  )
}
