package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.Num
import graft.similarity.{IVF, IVFCentroids, PQ, PQCodebooks, Similarity}
import graft.text.Bm25

/** Round-12 surface: product quantization (the billion-scale ANN code
  * path), BM25 retrieval, and single-pass column profiling. Oracles
  * replay the identical frozen literals / formula shapes in DuckDB.
  */
object Round12Queries {

  private val pq = PQ.Model(PQCodebooks.pretrained)
  private val coarse = IVF.Model(IVFCentroids.pretrained)

  // ---- shared SQL fragments (mirror PQ.Model expression shapes) ----

  private def litArr(c: Array[Double]): String =
    c.map(_.toString).mkString("[", ",", "]")

  /** DuckDB slice of subspace s (1-based inclusive ends). */
  private def subSql(vec: String, s: Int): String =
    s"$vec[${s * pq.dsub + 1}:${(s + 1) * pq.dsub}]"

  /** dist2 = u·u − 2·u·c + |c|², same association order as PQ.dist2. */
  private def dist2Sql(sub: String, c: Array[Double]): String = {
    val cn2 = c.map(x => x * x).sum
    s"(${SimilarityQueries.sqlDot(sub, sub)} - 2.0*${SimilarityQueries.sqlDot(sub, litArr(c))} + $cn2)"
  }

  /** argmin_j dist2 over subspace s's codebook (ties → smallest j). */
  private def codeSql(vec: String, s: Int): String = {
    val structs = PQCodebooks.pretrained(s).zipWithIndex
      .map { case (c, j) => s"{'d': ${dist2Sql(subSql(vec, s), c)}, 'j': $j}" }
      .mkString("[", ",", "]")
    s"list_sort($structs)[1].j"
  }

  /** ADC term s: the 16-entry LUT list for the query subvector,
    * indexed by the corpus code (+1: SQL lists are 1-based).
    */
  private def adcTermSql(qvec: String, codeRef: String, s: Int): String = {
    val lut = PQCodebooks.pretrained(s)
      .map(c => dist2Sql(subSql(qvec, s), c)).mkString("[", ",", "]")
    s"($lut)[$codeRef + 1]"
  }

  /** IVF cell structs for probe lists — q91's shapes (d-sorted cells). */
  private def probesSql(vec: String, nprobe: Int): String = {
    val cents = IVFCentroids.pretrained
    val structs = cents.indices.map { j =>
      val c = cents(j)
      val cn2 = c.map(x => x * x).sum
      s"{'d': (${SimilarityQueries.sqlDot(vec, vec)} - 2.0*${SimilarityQueries.sqlDot(vec, litArr(c))} + $cn2), 'j': $j}"
    }.mkString("[", ",", "]")
    s"list_transform(list_sort($structs)[1:$nprobe], s -> s.j)"
  }

  private def cellSql(vec: String): String = {
    val cents = IVFCentroids.pretrained
    val structs = cents.indices.map { j =>
      val c = cents(j)
      val cn2 = c.map(x => x * x).sum
      s"{'d': (${SimilarityQueries.sqlDot(vec, vec)} - 2.0*${SimilarityQueries.sqlDot(vec, litArr(c))} + $cn2), 'j': $j}"
    }.mkString("[", ",", "]")
    s"list_sort($structs)[1].j"
  }

  // ---- BM25 ----

  private val bmTerms = Seq("spark", "join", "window", "hash")
  private val bmK1 = 1.2
  private val bmB = 0.75

  private def bm25OracleSql: String = {
    val dl = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    def tfSql(t: String) =
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS DOUBLE)"
    val dfCols = bmTerms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN ${tfSql(t)} > 0 THEN 1.0 ELSE 0.0 END) AS df_$i"
    }.mkString(", ")
    val terms = bmTerms.zipWithIndex.map { case (t, i) =>
      val idf = s"ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5))"
      s"($idf * (${tfSql(t)} * ${bmK1 + 1.0}) / (${tfSql(t)} + $bmK1 * (${1.0 - bmB} + $bmB * $dl / avgdl)))"
    }.mkString(" + ")
    s"""WITH stats AS (
          SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                 avg($dl) AS avgdl, $dfCols
          FROM documents),
        scored AS (
          SELECT doc_id, round(($terms) * 1e6) / 1e6 AS bm25
          FROM documents, stats)
        SELECT doc_id, bm25,
          CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS rn
        FROM scored WHERE bm25 > 0
        QUALIFY rn <= 20"""
  }

  private def pqEncodeSelectSql: String = {
    val codes = (0 until pq.m)
      .map(sp => s"${codeSql("embedding", sp)} AS code_$sp").mkString(", ")
    s"SELECT vec_id, $codes FROM embeddings"
  }

  private def ivfPqOracleSql: String = {
    val codeCols = (0 until pq.m)
      .map(sp => s"${codeSql("embedding", sp)} AS c_$sp").mkString(", ")
    val adc = (0 until pq.m)
      .map(sp => adcTermSql("q.qv", s"c.c_$sp", sp)).mkString(" + ")
    s"""WITH c AS (SELECT vec_id AS vid, ${cellSql("embedding")} AS cell,
            $codeCols FROM embeddings),
        q AS (SELECT vec_id AS qid, embedding AS qv,
            ${probesSql("embedding", 4)} AS probes
          FROM embeddings WHERE vec_id < 16),
        cand AS (SELECT q.qid, c.vid,
            round(($adc) * 1e6) / 1e6 AS dist
          FROM q JOIN c ON list_contains(q.probes, c.cell) AND c.vid != q.qid)
        SELECT qid, vid, dist, rn FROM (
          SELECT qid, vid, dist,
            CAST(row_number() OVER (PARTITION BY qid
              ORDER BY dist ASC, vid ASC) AS BIGINT) AS rn
          FROM cand) WHERE rn <= 5"""
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // PQ encode: every corpus vector → m=8 sub-codes against the
    // FROZEN per-subspace codebooks (PQCodebooks; offline-trained like
    // IVFCentroids). One codegen'd scan, no shuffle, no join — at
    // 100 TB this is the pass that turns 26 TB of floats into ~2 GB of
    // codes per billion vectors. Oracle replays the identical argmin
    // (d-then-j struct order) from the same literals.
    "q238_pq_encode" -> QueryDef(
      // one native PqEncode kernel projected to the m code columns
      // (r13): the per-subspace pq.code() spelling inlined the full
      // codebook as literals m times — a 44 KB plan whose per-pass
      // planning walk dominated the sub-second query. Runtime CSE
      // dedups the repeated pq_encode node; values are pinned
      // code-for-code by PQSpec's encode≡encodeComposed differential.
      (s, d) => Tables.embeddings(s, d).select(
        col("vec_id") +:
          (0 until pq.m).map(sp =>
            element_at(pq.encode(col("embedding")), sp + 1).as(s"code_$sp")): _*),
      Some(pqEncodeSelectSql), headline = true),

    // IVF-PQ ADC top-k: the full billion-scale ANN layout — coarse
    // cells from the frozen IVF quantizer, candidates scored by the
    // asymmetric-distance table walk over PQ codes (never touching
    // corpus floats), probes joined as a hash equi-join on cell.
    // Oracle recomputes cells, probes, codes, and the EXACT same
    // left-associated 8-term ADC sum from the same literals.
    "q239_ann_ivfpq" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        PQ.ivfPqTopK(e.filter(col("vec_id") < 16), e, coarse, pq, k = 5, nprobe = 4)
      },
      Some(ivfPqOracleSql), headline = true),

    // IVF-PQ with EXACT RERANK — the production refinement: ADC
    // shortlists 20 candidates per query from the code table, then
    // ONLY those rows re-fetch float vectors (point-lookup hash join,
    // |Q|·20 rows) and re-rank by exact L2. Recovers the recall code
    // distortion loses without ever scanning corpus floats.
    "q242_ann_ivfpq_rerank" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        PQ.ivfPqRerankTopK(e.filter(col("vec_id") < 16), e, coarse, pq,
          k = 5, nprobe = 4, shortlist = 20)
      },
      Some {
        val codeCols = (0 until pq.m)
          .map(sp => s"${codeSql("embedding", sp)} AS c_$sp").mkString(", ")
        val adc = (0 until pq.m)
          .map(sp => adcTermSql("q.qv", s"c.c_$sp", sp)).mkString(" + ")
        val exact =
          s"(${SimilarityQueries.sqlDot("cv", "cv")} - 2.0*${SimilarityQueries.sqlDot("qv", "cv")} + ${SimilarityQueries.sqlDot("qv", "qv")})"
        s"""WITH c AS (SELECT vec_id AS vid, ${cellSql("embedding")} AS cell,
                $codeCols FROM embeddings),
            q AS (SELECT vec_id AS qid, embedding AS qv,
                ${probesSql("embedding", 4)} AS probes
              FROM embeddings WHERE vec_id < 16),
            cand AS (SELECT q.qid, c.vid,
                round(($adc) * 1e6) / 1e6 AS dist
              FROM q JOIN c ON list_contains(q.probes, c.cell) AND c.vid != q.qid),
            short AS (SELECT qid, vid FROM (
                SELECT qid, vid, row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vid ASC) AS srn FROM cand) WHERE srn <= 20),
            exact AS (SELECT s.qid, s.vid,
                round($exact * 1e6) / 1e6 AS dist
              FROM short s
              JOIN (SELECT vec_id, embedding AS cv FROM embeddings) e ON s.vid = e.vec_id
              JOIN (SELECT vec_id, embedding AS qv FROM embeddings) qq ON s.qid = qq.vec_id)
            SELECT qid, vid, dist, rn FROM (
              SELECT qid, vid, dist,
                CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vid ASC) AS BIGINT) AS rn
              FROM exact) WHERE rn <= 5"""
      }),

    // BM25 keyword top-k over the documents corpus: one stats pass
    // (N, avgdl, per-term df) broadcast back as a 1-row join, then a
    // pure scan-stage score and a TakeOrdered top-20. The oracle
    // replays the Lucene-idf formula with the identical term order
    // and association.
    "q240_bm25_topk" -> QueryDef(
      (s, d) => Bm25.topK(Tables.documents(s, d), "doc_id", "text",
        bmTerms, k = 20, k1 = bmK1, b = bmB),
      Some(bm25OracleSql)),

    // Single-pass column profiling (describe-style data-quality
    // report): row/null/distinct counts for every column, min/max/mean
    // for numerics — ONE aggregate scan however many columns, then a
    // driver-side unpivot of the 1-row result. Mean restricted to
    // integral-valued numerics here so the double sum is exact in any
    // association order (the money-column path goes through DECIMAL —
    // see Num.sumMoney).
    "q241_profile" -> QueryDef(
      (s, d) => graft.operators.Profile.report(
        Tables.lineitem(s, d),
        Seq("l_orderkey", "l_quantity", "l_linenumber", "l_returnflag", "l_shipdate")),
      Some {
        def row(c: String, numeric: Boolean) =
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
               CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               count(DISTINCT $c) AS n_distinct,
               ${if (numeric) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"} AS min_d,
               ${if (numeric) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"} AS max_d,
               ${if (numeric) s"round(avg(CAST($c AS DOUBLE)) * 1e6) / 1e6" else "CAST(NULL AS DOUBLE)"} AS mean_d
             FROM lineitem"""
        Seq(
          row("l_orderkey", numeric = true),
          row("l_quantity", numeric = true),
          row("l_linenumber", numeric = true),
          row("l_returnflag", numeric = false),
          row("l_shipdate", numeric = false)).mkString(" UNION ALL ")
      }),

    // PERSISTED IVFPQ index: the code table written partitionBy(cell)
    // (the on-disk inverted-list layout), then searched with the
    // probed cells pushed as a PARTITION FILTER — the scan reads only
    // nprobe/k of the index directories however large the corpus.
    // Same result contract as q239, so the same oracle gates it.
    "q243_ivfpq_index" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val path = graft.tools.Staging.dir("pq_index", d)
        PQ.writeCodeIndex(e, coarse, pq, path)
        PQ.searchCodeIndex(s, path, e.filter(col("vec_id") < 16), coarse, pq,
          k = 5, nprobe = 4)
      },
      Some(ivfPqOracleSql)),

    // STREAMING PQ encode (ingest-time vector coding — the vector twin
    // of the BPE stream): stateless scan-stage map, append mode,
    // microbatch-invariant; same output shape and oracle as q238.
    "q244_stream_pq_encode" -> QueryDef(
      (s, d) => graft.streaming.EmbedStreams.pqEncodeStream(s, d),
      Some(pqEncodeSelectSql)),

    // SEMANTIC decontamination: flag corpus vectors whose cosine to ANY
    // eval-set vector clears the threshold (the embedding-space twin of
    // q161's n-gram decontamination). The eval side is small by nature,
    // so the right 100 TB plan is a broadcast of the eval vectors and
    // ONE linear corpus scan (per-row max over the broadcast side) —
    // no LSH needed for exactness, no corpus×corpus blow-up.
    "q246_semantic_decontam" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val eval = e.filter(col("vec_id") % 37 === 0)
          .select(col("vec_id").as("eid"), col("embedding").as("ev"))
        e.filter(col("vec_id") % 37 =!= 0)
          .crossJoin(broadcast(eval))
          .select(col("vec_id"),
            Num.rnd(Similarity.cosine(col("embedding"), col("ev")), 6).as("sim"))
          .groupBy("vec_id").agg(max(col("sim")).as("max_sim"))
          .filter(col("max_sim") >= 0.4)
      },
      Some(s"""WITH ev AS (SELECT vec_id AS eid, embedding AS ev
                 FROM embeddings WHERE vec_id % 37 = 0),
             c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 37 != 0)
             SELECT vec_id, max_sim FROM (
               SELECT c.vec_id,
                 max(round(${SimilarityQueries.sqlCos("c.embedding", "ev.ev")} * 1e6) / 1e6) AS max_sim
               FROM c, ev GROUP BY c.vec_id)
             WHERE max_sim >= 0.4""")),

    // Equi-width histogram (the profiling companion): exact min/max in
    // one aggregate, broadcast back as a 1-row join, bucket assignment
    // as a pure scan expression, counts as a hash aggregate over ≤nb
    // groups — two linear passes at any scale. Bucket arithmetic is
    // the identical IEEE expression on both engines, so boundary ulps
    // can't diverge.
    "q247_histogram" -> QueryDef(
      (s, d) => {
        val nb = 20
        val li = Tables.lineitem(s, d)
        val stats = li.agg(min(col("l_extendedprice")).as("mn"),
          max(col("l_extendedprice")).as("mx"))
        li.crossJoin(broadcast(stats))
          .select(col("l_extendedprice").as("v"), col("mn"),
            ((col("mx") - col("mn")) / lit(nb.toDouble)).as("w"))
          .select(least(floor((col("v") - col("mn")) / col("w")),
            lit(nb - 1L)).as("bucket"), col("mn"), col("w"))
          .groupBy("bucket", "mn", "w")
          .agg(count(lit(1)).as("n"))
          .select(col("bucket"),
            (col("mn") + col("bucket").cast("double") * col("w")).as("lo"),
            (col("mn") + (col("bucket") + lit(1L)).cast("double") * col("w")).as("hi"),
            col("n"))
      },
      Some("""WITH s AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
                FROM lineitem),
            b AS (SELECT CAST(least(floor((l_extendedprice - mn) / ((mx - mn) / 20.0)),
                  19) AS BIGINT) AS bucket,
                mn, (mx - mn) / 20.0 AS w
              FROM lineitem, s)
            SELECT bucket, mn + CAST(bucket AS DOUBLE) * w AS lo,
              mn + CAST(bucket + 1 AS DOUBLE) * w AS hi, count(*) AS n
            FROM b GROUP BY bucket, mn, w""")),

    // STREAMING data-quality monitor: per-event_type running profile
    // (complete mode, one state row per group); decimal discipline
    // makes the result the exact batch answer at any microbatch split.
    "q245_stream_profile" -> QueryDef(
      (s, d) => graft.streaming.EventStreams.profileStream(s, d),
      Some("""SELECT event_type, count(*) AS n_rows,
             CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             CAST(min(CAST(round(value * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS min_v,
             CAST(max(CAST(round(value * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS max_v,
             round(CAST(sum(CAST(round(value * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
               / count(value) * 1e6) / 1e6 AS mean_v
             FROM events GROUP BY event_type"""))
  )
}
