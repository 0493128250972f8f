package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.{Num, UnsignedOps}

/** Round-43 additions: the unsigned-int data-path gates (SURVEY §1.3;
  * reference `legate/pandas/common/types.py:72-104` keeps uint8..uint64 as
  * native dtypes and numpy promotion decides binary-op results).
  *
  * The fixture `fixtures/uint.parquet` (tools/make_uint_fixture.py) carries
  * native parquet UINT_8/16/32/64 annotations; Spark's scan widens them
  * along the Types lattice (uint8→short, uint16→int, uint32→long,
  * uint64→decimal(20,0)), and DuckDB reads the SAME file with native
  * unsigned types — a perfect oracle for both the widening and the
  * wraparound semantics.
  */
object Round43Queries {

  private val fx = s"read_parquet('${Tables.uintFixturePath}')"

  val defs: Seq[(String, QueryDef)] = Seq(

    // Same-dtype binary ops wrap modulo 2^N (numpy uintN ⊕ uintN → uintN)
    // and cross-dtype ops promote (uint16+int16 → int32,
    // uint64+int64 → float64 — no int128).  Second operands are derived
    // in-row by a fixed LCG so sub/mul genuinely wrap.  uint64 results
    // leave as strings: exact at full 2^64 range, no decimal plumbing in
    // the compare.  Scale shape: pure scan-stage expressions, zero
    // exchanges — identical at any corpus size.
    "q371_uint_promotion" -> QueryDef(
      (s, d) => {
        val f = Tables.uintFixture(s)
        val b8 = UnsignedOps.uadd(
          UnsignedOps.umul(col("u8"), lit(3), 8), lit(7), 8)
        val b16 = UnsignedOps.uadd(
          UnsignedOps.umul(col("u16"), lit(5), 16), lit(11), 16)
        val b32 = UnsignedOps.uadd(
          UnsignedOps.umul(col("u32"), lit(2654435761L), 32), lit(101), 32)
        val b64 = UnsignedOps.umul(col("u64"), col("u64"), 64)
        f.select(col("id"),
          UnsignedOps.uadd(col("u8"), b8, 8).as("add8"),
          UnsignedOps.usub(col("u8"), b8, 8).as("sub8"),
          UnsignedOps.umul(col("u16"), b16, 16).as("mul16"),
          UnsignedOps.usub(col("u32"), b32, 32).as("sub32"),
          UnsignedOps.umul(col("u32"), b32, 32).as("mul32"),
          UnsignedOps.uadd(col("u64"), b64, 64).cast("string").as("add64"),
          UnsignedOps.umul(col("u64"), b64, 64).cast("string").as("mul64"),
          (col("u16").cast("int") + col("i16").cast("int")).as("p32"),
          (col("u64").cast("double") + col("i64").cast("double")).as("pf"))
      },
      Some(s"""WITH f AS (SELECT * FROM $fx),
          d AS (SELECT id,
              CAST(u8 AS INT) AS a8,
              (CAST(u8 AS INT) * 3 + 7) % 256 AS b8,
              CAST(u16 AS BIGINT) AS a16,
              (CAST(u16 AS BIGINT) * 5 + 11) % 65536 AS b16,
              CAST(u32 AS BIGINT) AS a32,
              (CAST(u32 AS HUGEINT) * 2654435761 + 101) % 4294967296 AS b32,
              CAST(u64 AS HUGEINT) AS a64, i16, i64, u64
            FROM f),
          m AS (SELECT id, a64 // 4294967296 AS h, a64 % 4294967296 AS l
            FROM d),
          sq AS (SELECT d.id, a64,
              (m.l * m.l + ((2 * m.h * m.l) % 4294967296) * 4294967296)
                % 18446744073709551616 AS b64
            FROM d JOIN m ON d.id = m.id),
          mm AS (SELECT id, b64, b64 // 4294967296 AS bh,
              b64 % 4294967296 AS bl FROM sq),
          full64 AS (SELECT d.id,
              (d.a64 + mm.b64) % 18446744073709551616 AS add64,
              ((d.a64 % 4294967296) * mm.bl
               + (((d.a64 // 4294967296) * mm.bl
                   + (d.a64 % 4294967296) * mm.bh) % 4294967296) * 4294967296)
                % 18446744073709551616 AS mul64
            FROM d JOIN mm ON d.id = mm.id)
          SELECT d.id,
            CAST((d.a8 + d.b8) % 256 AS SMALLINT) AS add8,
            CAST(((d.a8 - d.b8) % 256 + 256) % 256 AS SMALLINT) AS sub8,
            CAST((d.a16 * d.b16) % 65536 AS INT) AS mul16,
            CAST(((d.a32 - d.b32) % 4294967296 + 4294967296) % 4294967296
              AS BIGINT) AS sub32,
            CAST((CAST(d.a32 AS HUGEINT) * d.b32) % 4294967296 AS BIGINT)
              AS mul32,
            CAST(full64.add64 AS VARCHAR) AS add64,
            CAST(full64.mul64 AS VARCHAR) AS mul64,
            CAST(CAST(d.a16 AS INT) + CAST(d.i16 AS INT) AS INT) AS p32,
            CAST(d.u64 AS DOUBLE) + CAST(d.i64 AS DOUBLE) AS pf
          FROM d JOIN full64 ON d.id = full64.id""")),

    // Round-trip: scan the unsigned fixture, write it back through
    // Spark's parquet sink (widened storage types), re-read, and fold to
    // range-sensitive aggregates — uint64 sums/extremes leave as exact
    // strings so the full 2^64 range is pinned, not a double
    // approximation.  The oracle folds the ORIGINAL fixture with native
    // unsigned arithmetic, so the widened round-trip itself is under
    // test.
    "q372_uint_roundtrip" -> QueryDef(
      (s, d) => {
        val path = graft.tools.Staging.dir("uint_rt", d)
        Tables.uintFixture(s).write.mode("overwrite").parquet(path)
        s.read.parquet(path).agg(
          count(lit(1)).as("n"),
          sum(col("u8").cast("long")).as("s8"),
          sum(col("u16").cast("long")).as("s16"),
          sum(col("u32")).as("s32"),
          sum(col("u64")).cast("decimal(38,0)").cast("string").as("s64"),
          min(col("u64")).cast("string").as("min64"),
          max(col("u64")).cast("string").as("max64"))
      },
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(u8 AS BIGINT)) AS BIGINT) AS s8,
            CAST(sum(CAST(u16 AS BIGINT)) AS BIGINT) AS s16,
            CAST(sum(CAST(u32 AS BIGINT)) AS BIGINT) AS s32,
            CAST(sum(CAST(u64 AS HUGEINT)) AS VARCHAR) AS s64,
            CAST(min(u64) AS VARCHAR) AS min64,
            CAST(max(u64) AS VARCHAR) AS max64
          FROM $fx""")),

    // Scale-safe SemDeDup (the path a growing corpus actually runs,
    // closing VERDICT r9 "what's wrong #3"): cells = 32-bit Rademacher
    // sign-signature folded mod C with C = ⌈n/256⌉ DERIVED FROM THE
    // CORPUS COUNT on both engines, so expected cell size is constant at
    // any scale and candidate-pair work is linear (n·256); per-cell
    // candidate cap 1000 bounds the worst case under signature skew.
    // Same min-id dominance election and 6dp threshold contract as
    // q216 (which stays as the frozen-model exact-semantics gate).
    "q373_semdedup_scaled" -> QueryDef(
      (s, d) => graft.similarity.Similarity.semDedupScaled(
        Tables.embeddings(s, d), 0.4),
      Some(s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
          cc AS (SELECT greatest(1, (n + 255) // 256) AS c FROM nn),
          a AS (SELECT vec_id, embedding,
              CAST(${SimilarityQueries.sigSql32("embedding")} % cc.c AS BIGINT)
                AS cell
            FROM embeddings CROSS JOIN cc),
          r AS (SELECT vec_id, embedding, cell,
              row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rk
            FROM a),
          d AS (SELECT DISTINCT x.vec_id
            FROM r x JOIN r y ON x.cell = y.cell AND y.vec_id < x.vec_id
              AND x.rk <= 1000 AND y.rk <= 1000
              AND round(${SimilarityQueries.sqlCosPub("x.embedding", "y.embedding")}
                * 1e6) / 1e6 >= 0.4)
          SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS kept
          FROM a LEFT JOIN d ON a.vec_id = d.vec_id"""),
      headline = true),

    // §2.2 MultiIndex tuple-loc (reference
    // tests/pandas/df_loc_multiindex.py): lineitem indexed by
    // (l_orderkey, l_linenumber) — full-tuple scalar lookup, partial
    // (level-0) prefix lookup, a lexicographic locRange2 slice with
    // level-1 tie-break at both boundaries, and a partial-tuple scatter
    // assignment, unioned with a branch tag. All four filters reach the
    // scan (level-0 bounds pushed); scatter is a scan-stage when().
    "q374_multiindex_loc" -> QueryDef(
      (s, d) => {
        val g = graft.api.GFrame(Tables.lineitem(s, d))
          .setIndex("l_orderkey", "l_linenumber")
        def proj(t: String, f: graft.api.GFrame) = f.df
          .select(lit(t).as("branch"), col("l_orderkey"),
            col("l_linenumber"), col("l_quantity"))
        // partial-key loc DROPS the matched level (pandas contract,
        // r11) — prefix/scatter branches re-materialize it as the
        // literal key so all four branches union on one schema
        def projP(t: String, key: Long, f: graft.api.GFrame) = f.df
          .select(lit(t).as("branch"), lit(key).as("l_orderkey"),
            col("l_linenumber"), col("l_quantity"))
        proj("full", g.loc((100L, 2)))
          .unionByName(projP("prefix", 103L, g.loc(103L)))
          .unionByName(proj("range", g.locRange2((100L, 3), (103L, 2))))
          .unionByName(projP("scatter", 103L,
            g.locSet((103L, 1), "l_quantity", 99.0).loc(103L)))
      },
      Some("""SELECT 'full' AS branch, l_orderkey, l_linenumber, l_quantity
            FROM lineitem WHERE l_orderkey = 100 AND l_linenumber = 2
          UNION ALL
          SELECT 'prefix', l_orderkey, l_linenumber, l_quantity
            FROM lineitem WHERE l_orderkey = 103
          UNION ALL
          SELECT 'range', l_orderkey, l_linenumber, l_quantity
            FROM lineitem
            WHERE l_orderkey BETWEEN 100 AND 103
              AND (l_orderkey > 100 OR l_linenumber >= 3)
              AND (l_orderkey < 103 OR l_linenumber <= 2)
          UNION ALL
          SELECT 'scatter', l_orderkey, l_linenumber,
              CASE WHEN l_linenumber = 1 THEN 99.0 ELSE l_quantity END
            FROM lineitem WHERE l_orderkey = 103""")),

    // Symmetric per-dim int8 embedding quantization (similarity/Int8):
    // the 4× ANN-corpus compression report — per-dim scale, saturation
    // count, and reconstruction MSE. Error² is 12dp-rounded to
    // DECIMAL(28,12) BEFORE summing (the money-sum discipline at
    // quantization-noise magnitudes), so the corpus fold is
    // order-independent on both engines.
    "q375_int8_quantize" -> QueryDef(
      (s, d) => {
        val st = graft.similarity.Int8.scales(Tables.embeddings(s, d))
        val ex = Tables.embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .select(col("pos"),
            Num.rnd(col("v").cast("double"), 6).as("xr"))
          .join(broadcast(st), Seq("pos"))
          .select(col("pos"), col("scale"), col("xr"),
            greatest(lit(-127), least(lit(127),
              round(col("xr") / col("scale")).cast("int"))).as("code"))
        ex.select(col("pos"), col("scale"), col("code"),
            Num.rnd(
              (col("xr") - col("code") * col("scale"))
                * (col("xr") - col("code") * col("scale")), 12)
              .cast("decimal(28,12)").as("e2"))
          .groupBy("pos")
          .agg(count(lit(1)).as("n"),
            sum(when(abs(col("code")) === 127, 1L).otherwise(0L)).as("n_sat"),
            Num.rnd(sum(col("e2")).cast("double")
              / count(lit(1)).cast("double"), 12).as("mse"))
          .join(broadcast(st), Seq("pos"))
          .select(col("pos").cast("long").as("pos"),
            Num.rnd(col("scale"), 9).as("scale"),
            col("n"), col("n_sat"), col("mse"))
      },
      Some("""WITH ex AS (SELECT vec_id, CAST(gs - 1 AS BIGINT) AS pos,
              round(CAST(v AS DOUBLE) * 1e6) / 1e6 AS xr
            FROM (SELECT vec_id, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) AS gs FROM embeddings)),
          st AS (SELECT pos,
              greatest(CAST(max(abs(CAST(xr AS DECIMAL(18,6)))) AS DOUBLE),
                1e-12) / 127.0 AS scale
            FROM ex GROUP BY 1),
          cd AS (SELECT e.pos, s.scale, e.xr,
              greatest(-127, least(127,
                CAST(round(e.xr / s.scale) AS INT))) AS code
            FROM ex e JOIN st s ON e.pos = s.pos),
          er AS (SELECT pos, scale, code,
              CAST(round((xr - code * scale) * (xr - code * scale) * 1e12)
                / 1e12 AS DECIMAL(28,12)) AS e2
            FROM cd)
          SELECT er.pos, round(st.scale * 1e9) / 1e9 AS scale,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN abs(code) = 127 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_sat,
            round(CAST(sum(e2) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1e12)
              / 1e12 AS mse
          FROM er JOIN st ON er.pos = st.pos
          GROUP BY er.pos, st.scale""")),

    // int8 ANN search: INTEGER dot-product ranking over the quantized
    // codes — exact and order-independent (no cross-engine float-fold
    // contract needed in the score), broadcast query side, ties on
    // corpus id. The production shape: quantize once, search at 4×
    // bandwidth; recall vs exact cosine is pinned in Int8Spec.
    "q376_int8_ann" -> QueryDef(
      (s, d) => {
        val codes = graft.similarity.Int8.quantize(Tables.embeddings(s, d))
        graft.similarity.Int8.topK(
          codes.filter(col("vec_id") < 4), codes, k = 5)
          .select(col("qid"), col("vid"), col("iscore"), col("rn"))
      },
      Some("""WITH ex AS (SELECT vec_id, CAST(gs - 1 AS BIGINT) AS pos,
              round(CAST(v AS DOUBLE) * 1e6) / 1e6 AS xr
            FROM (SELECT vec_id, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) AS gs FROM embeddings)),
          st AS (SELECT pos,
              greatest(CAST(max(abs(CAST(xr AS DECIMAL(18,6)))) AS DOUBLE),
                1e-12) / 127.0 AS scale
            FROM ex GROUP BY 1),
          cd AS (SELECT e.vec_id, e.pos,
              CAST(greatest(-127, least(127,
                CAST(round(e.xr / s.scale) AS INT))) AS BIGINT) AS code
            FROM ex e JOIN st s ON e.pos = s.pos),
          codes AS (SELECT vec_id, list(code ORDER BY pos) AS codes
            FROM cd GROUP BY 1),
          sc AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
              CAST(list_reduce(list_transform(list_zip(q.codes, c.codes),
                z -> z[1] * z[2]), (a, b) -> a + b) AS BIGINT) AS iscore
            FROM codes q JOIN codes c ON c.vec_id != q.vec_id
            WHERE q.vec_id < 4)
          SELECT qid, vid, iscore, rn FROM (
            SELECT qid, vid, iscore,
              CAST(row_number() OVER (PARTITION BY qid
                ORDER BY iscore DESC, vid ASC) AS BIGINT) AS rn
            FROM sc) WHERE rn <= 5""")),

    // int8 × IVF: the production ANN combo — pretrained-centroid cell
    // pruning (q91's assignment, one scan-stage argmin) restricts the
    // candidate set to nprobe=4 cells per query, and the surviving
    // candidates score by INTEGER dot product over the int8 codes
    // (q376's exact order-free arithmetic). Candidates ∝ corpus/k per
    // probe; scores carry no float-fold contract.
    "q377_int8_ivf" -> QueryDef(
      (s, d) => {
        val em = Tables.embeddings(s, d)
        val model = graft.similarity.IVF.Model(
          graft.similarity.IVFCentroids.pretrained)
        val codes = graft.similarity.Int8.quantize(em)
        val c = codes
          .join(em.select(col("vec_id"),
            model.cell(col("embedding")).cast("int").as("cell")), Seq("vec_id"))
          .select(col("vec_id").as("vid"), col("codes").as("cc"), col("cell"))
        val q = em.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"),
            explode(model.probeCells(col("embedding"), 4)).as("cell0"))
          .select(col("qid"), col("cell0").cast("int").as("cell"))
          .join(codes.select(col("vec_id").as("qid"), col("codes").as("qc")),
            Seq("qid"))
        val scored = c.join(broadcast(q), Seq("cell"))
          .filter(col("vid") =!= col("qid"))
          .select(col("qid"), col("vid"),
            graft.similarity.Int8.idot(col("qc"), col("cc")).as("iscore"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("iscore").desc, col("vid").asc)
        scored.withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 5)
      },
      Some(s"""WITH ex AS (SELECT vec_id, CAST(gs - 1 AS BIGINT) AS pos,
              round(CAST(v AS DOUBLE) * 1e6) / 1e6 AS xr
            FROM (SELECT vec_id, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) AS gs FROM embeddings)),
          st AS (SELECT pos,
              greatest(CAST(max(abs(CAST(xr AS DECIMAL(18,6)))) AS DOUBLE),
                1e-12) / 127.0 AS scale
            FROM ex GROUP BY 1),
          cd AS (SELECT e.vec_id, e.pos,
              CAST(greatest(-127, least(127,
                CAST(round(e.xr / s.scale) AS INT))) AS BIGINT) AS code
            FROM ex e JOIN st s ON e.pos = s.pos),
          codes AS (SELECT vec_id, list(code ORDER BY pos) AS codes
            FROM cd GROUP BY 1),
          cells AS (SELECT vec_id,
              CAST(${SimilarityQueries.ivfCellSql("embedding")} AS INTEGER)
                AS cell
            FROM embeddings),
          qp AS (SELECT vec_id AS qid,
              unnest(${SimilarityQueries.ivfProbesSql("embedding", 4)}) AS cell
            FROM embeddings WHERE vec_id < 8),
          sc AS (SELECT qp.qid, c.vec_id AS vid,
              CAST(list_reduce(list_transform(
                list_zip(qc.codes, cc.codes), z -> z[1] * z[2]),
                (a, b) -> a + b) AS BIGINT) AS iscore
            FROM qp
            JOIN cells c ON c.cell = qp.cell AND c.vec_id != qp.qid
            JOIN codes qc ON qc.vec_id = qp.qid
            JOIN codes cc ON cc.vec_id = c.vec_id)
          SELECT qid, vid, iscore, rn FROM (
            SELECT qid, vid, iscore,
              CAST(row_number() OVER (PARTITION BY qid
                ORDER BY iscore DESC, vid ASC) AS BIGINT) AS rn
            FROM sc) WHERE rn <= 5""")),

    // LSH OPERATING-POINT evaluation: precision/recall of the
    // sign-signature cell blocking (q373's scheme) against exact-cosine
    // ground truth (q57's metric) at threshold 0.4 — the report that
    // decides a blocking config BEFORE a 100 TB dedup run. Ground truth
    // is corpus-quadratic by nature; at scale this runs on a sample
    // (the ratios are the product, not the pair lists). Candidates are
    // enumerated uncapped here so the ratios describe the raw blocking
    // scheme (q373's cap only strengthens precision).
    "q378_lsh_operating_point" -> QueryDef(
      (s, d) => {
        val em = Tables.embeddings(s, d)
        val truth = graft.similarity.Similarity
          .cosinePairsTiledKernel(em, 0.4)
          .select(col("id1"), col("id2"))
        // q373's cell assignment (count-derived C, same planes)
        val planes = graft.similarity.Similarity.planeLiterals(32, 64, seed = 7L)
        val n = em.count()
        val c = math.max(1L, (n + 255) / 256)
        val assigned = em.select(col("vec_id"),
          pmod(graft.similarity.Similarity.signBits(col("embedding"), planes),
            lit(c)).as("cell"))
        val cand = assigned.as("x").join(
            assigned.select(col("vec_id").as("vid2"), col("cell").as("cell2")),
            col("cell") === col("cell2") && col("vec_id") < col("vid2"))
          .select(col("vec_id").as("id1"), col("vid2").as("id2"))
        val tp = cand.join(truth, Seq("id1", "id2"), "left_semi")
        val row = truth.agg(count(lit(1))).collect()(0).getLong(0)
        cand.agg(count(lit(1)).as("n_cand"))
          .crossJoin(tp.agg(count(lit(1)).as("n_tp")))
          .select(lit(row).as("n_truth"), col("n_cand"), col("n_tp"),
            Num.rnd(col("n_tp").cast("double") / col("n_cand").cast("double"), 6)
              .as("precision"),
            Num.rnd(col("n_tp").cast("double") / lit(row.toDouble), 6)
              .as("recall"))
      },
      Some(s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
          cc AS (SELECT greatest(1, (n + 255) // 256) AS c FROM nn),
          a AS (SELECT vec_id,
              CAST(${SimilarityQueries.sigSql32("embedding")} % cc.c AS BIGINT)
                AS cell
            FROM embeddings CROSS JOIN cc),
          cand AS (SELECT x.vec_id AS id1, y.vec_id AS id2
            FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id),
          e AS (SELECT vec_id, embedding FROM embeddings),
          truth AS (SELECT id1, id2 FROM (
              SELECT a.vec_id AS id1, b.vec_id AS id2,
                round(${SimilarityQueries.sqlCosPub("a.embedding", "b.embedding")}
                  * 1e6) / 1e6 AS sim
              FROM e a, e b WHERE a.vec_id < b.vec_id)
            WHERE sim >= 0.4),
          t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
          cn AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
          tp AS (SELECT CAST(count(*) AS BIGINT) AS n_tp
            FROM cand SEMI JOIN truth
              ON cand.id1 = truth.id1 AND cand.id2 = truth.id2)
          SELECT t.n_truth, cn.n_cand, tp.n_tp,
            round(CAST(tp.n_tp AS DOUBLE) / CAST(cn.n_cand AS DOUBLE) * 1e6)
              / 1e6 AS precision,
            round(CAST(tp.n_tp AS DOUBLE) / CAST(t.n_truth AS DOUBLE) * 1e6)
              / 1e6 AS recall
          FROM t, cn, tp""")),

    // Banded-repetition operating point: the SAME report as q378 over
    // the UNION of R=4 independent sign-signature tables — the
    // measured answer to q378's single-table recall ceiling (miss
    // probability compounds as (1−r₁)^R; candidate volume grows ~R-fold,
    // still linear in n).
    "q379_lsh_banded_point" -> QueryDef(
      (s, d) => {
        val em = Tables.embeddings(s, d)
        val truth = graft.similarity.Similarity
          .cosinePairsTiledKernel(em, 0.4).select(col("id1"), col("id2"))
        val cand = graft.similarity.Similarity
          .bandedCandidatePairs(em.select(col("vec_id"), col("embedding")), 4)
        val tp = cand.join(truth, Seq("id1", "id2"), "left_semi")
        val nTruth = truth.agg(count(lit(1))).collect()(0).getLong(0)
        cand.agg(count(lit(1)).as("n_cand"))
          .crossJoin(tp.agg(count(lit(1)).as("n_tp")))
          .select(lit(nTruth).as("n_truth"), col("n_cand"), col("n_tp"),
            Num.rnd(col("n_tp").cast("double") / col("n_cand").cast("double"), 6)
              .as("precision"),
            Num.rnd(col("n_tp").cast("double") / lit(nTruth.toDouble), 6)
              .as("recall"))
      },
      Some {
        val tables = (0 until 4).map { t =>
          s"""SELECT x.vec_id AS id1, y.vec_id AS id2
             FROM (SELECT vec_id,
                 CAST(${SimilarityQueries.sigSql32At("embedding", 7L + t)} % cc.c
                   AS BIGINT) AS cell
               FROM embeddings CROSS JOIN cc) x
             JOIN (SELECT vec_id,
                 CAST(${SimilarityQueries.sigSql32At("embedding", 7L + t)} % cc.c
                   AS BIGINT) AS cell
               FROM embeddings CROSS JOIN cc) y
               ON x.cell = y.cell AND x.vec_id < y.vec_id"""
        }.mkString(" UNION ")
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
          cc AS (SELECT greatest(1, (n + 255) // 256) AS c FROM nn),
          cand AS ($tables),
          e AS (SELECT vec_id, embedding FROM embeddings),
          truth AS (SELECT id1, id2 FROM (
              SELECT a.vec_id AS id1, b.vec_id AS id2,
                round(${SimilarityQueries.sqlCosPub("a.embedding", "b.embedding")}
                  * 1e6) / 1e6 AS sim
              FROM e a, e b WHERE a.vec_id < b.vec_id)
            WHERE sim >= 0.4),
          t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
          cn AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
          tp AS (SELECT CAST(count(*) AS BIGINT) AS n_tp
            FROM cand SEMI JOIN truth
              ON cand.id1 = truth.id1 AND cand.id2 = truth.id2)
          SELECT t.n_truth, cn.n_cand, tp.n_tp,
            round(CAST(tp.n_tp AS DOUBLE) / CAST(cn.n_cand AS DOUBLE) * 1e6)
              / 1e6 AS precision,
            round(CAST(tp.n_tp AS DOUBLE) / CAST(t.n_truth AS DOUBLE) * 1e6)
              / 1e6 AS recall
          FROM t, cn, tp"""
      }),

    // Banded-repetition SemDeDup kept-flags: q373's election over the
    // 4-table candidate union — the recall-restored dedup whose
    // operating point q379 just measured.
    "q380_semdedup_banded" -> QueryDef(
      (s, d) => graft.similarity.Similarity.semDedupBanded(
        Tables.embeddings(s, d), 0.4),
      Some {
        val tables = (0 until 4).map { t =>
          s"""SELECT x.vec_id AS id1, y.vec_id AS id2
             FROM (SELECT vec_id,
                 CAST(${SimilarityQueries.sigSql32At("embedding", 7L + t)} % cc.c
                   AS BIGINT) AS cell
               FROM embeddings CROSS JOIN cc) x
             JOIN (SELECT vec_id,
                 CAST(${SimilarityQueries.sigSql32At("embedding", 7L + t)} % cc.c
                   AS BIGINT) AS cell
               FROM embeddings CROSS JOIN cc) y
               ON x.cell = y.cell AND x.vec_id < y.vec_id"""
        }.mkString(" UNION ")
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
          cc AS (SELECT greatest(1, (n + 255) // 256) AS c FROM nn),
          cand AS ($tables),
          d AS (SELECT DISTINCT cand.id2 AS vec_id
            FROM cand
            JOIN embeddings a ON a.vec_id = cand.id1
            JOIN embeddings b ON b.vec_id = cand.id2
            WHERE round(${SimilarityQueries.sqlCosPub("a.embedding", "b.embedding")}
              * 1e6) / 1e6 >= 0.4)
          SELECT e.vec_id, (d.vec_id IS NULL) AS kept
          FROM embeddings e LEFT JOIN d ON e.vec_id = d.vec_id"""
      }),

    // §2.10 STREAMING twin of the int8 encode: scales fit once on the
    // reference corpus and frozen into the stream (the production
    // contract — drifting scales make old/new codes incomparable);
    // encode is a stateless scan-stage map so stream ≡ batch
    // row-for-row. Same oracle codes as q376, exploded to scalars.
    "q381_stream_int8_encode" -> QueryDef(
      (s, d) => graft.streaming.EmbedStreams.int8EncodeStream(s, d),
      Some("""WITH ex AS (SELECT vec_id, CAST(gs - 1 AS BIGINT) AS pos,
              round(CAST(v AS DOUBLE) * 1e6) / 1e6 AS xr
            FROM (SELECT vec_id, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) AS gs FROM embeddings)),
          st AS (SELECT pos,
              greatest(CAST(max(abs(CAST(xr AS DECIMAL(18,6)))) AS DOUBLE),
                1e-12) / 127.0 AS scale
            FROM ex GROUP BY 1)
          SELECT e.vec_id, e.pos,
            CAST(greatest(-127, least(127, CAST(round(e.xr / s.scale) AS INT)))
              AS INTEGER) AS code
          FROM ex e JOIN st s ON e.pos = s.pos""")),

    // Incremental embedding dedup against a PERSISTED cell index — the
    // embedding twin of q194/q195's MinHash bucket-index contract: the
    // corpus is indexed once (R sign-signature tables + frozen fold
    // modulus), a "new batch" (vec_id % 97 == 0 here) probes the index,
    // and only candidates pay the exact-cosine verify. At 100 TB the
    // index is R rows/vector of 3 small columns, partitioned by
    // (t, cell); a crawl batch never rescans the corpus.
    "q382_embed_probe_index" -> QueryDef(
      (s, d) => {
        val em = Tables.embeddings(s, d)
        val corpus = em.filter(col("vec_id") % 97 =!= 0)
        val batch = em.filter(col("vec_id") % 97 === 0)
        val idx = graft.similarity.Similarity.embedCellIndex(corpus, tables = 4)
        graft.similarity.Similarity
          .probeEmbedIndex(idx, batch, corpus, 0.4)
      },
      Some {
        val tables = (0 until 4).map { t =>
          s"""SELECT $t AS t, vec_id,
               CAST(${SimilarityQueries.sigSql32At("embedding", 7L + t)} % cc.c
                 AS BIGINT) AS cell
             FROM embeddings CROSS JOIN cc WHERE vec_id % 97 != 0"""
        }.mkString(" UNION ALL ")
        val probes = (0 until 4).map { t =>
          s"""SELECT $t AS t, vec_id AS new_id,
               CAST(${SimilarityQueries.sigSql32At("embedding", 7L + t)} % cc.c
                 AS BIGINT) AS cell
             FROM embeddings CROSS JOIN cc WHERE vec_id % 97 = 0"""
        }.mkString(" UNION ALL ")
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
              WHERE vec_id % 97 != 0),
          cc AS (SELECT greatest(1, (n + 255) // 256) AS c FROM nn),
          idx AS ($tables),
          probes AS ($probes),
          cand AS (SELECT DISTINCT p.new_id, i.vec_id AS corpus_id
            FROM probes p JOIN idx i ON i.t = p.t AND i.cell = p.cell
            WHERE p.new_id != i.vec_id),
          m AS (SELECT cand.new_id, CAST(count(*) AS BIGINT) AS n_matches
            FROM cand
            JOIN embeddings a ON a.vec_id = cand.new_id
            JOIN embeddings b ON b.vec_id = cand.corpus_id
            WHERE round(${SimilarityQueries.sqlCosPub("a.embedding", "b.embedding")}
              * 1e6) / 1e6 >= 0.4
            GROUP BY 1)
          SELECT e.vec_id AS new_id,
            coalesce(m.n_matches, 0) AS n_matches,
            (coalesce(m.n_matches, 0) > 0) AS is_dup
          FROM embeddings e LEFT JOIN m ON e.vec_id = m.new_id
          WHERE e.vec_id % 97 = 0"""
      }),

    // Tokenizer FERTILITY report: chars/token and tokens/word per
    // language — the multilingual-tokenizer health metric (a language
    // whose fertility is 2× the corpus mean pays 2× the context budget;
    // the report that decides vocab retraining). Real BPE counts
    // (q217's frozen-merge kernel); one scan-stage encode + one
    // broadcast-joined doc-meta side + one tiny per-lang hash agg.
    "q383_tokenizer_fertility" -> QueryDef(
      (s, d) => {
        val enc = graft.text.Bpe.encodeKernel(
          Tables.documents(s, d), "doc_id", "text",
          graft.text.Bpe.Model(graft.text.BpeMerges.pretrained))
          .select(col("doc_id"), col("n_tok"))
        val meta = Tables.documents(s, d).select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
        enc.join(meta, Seq("doc_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("nc"),
            sum(col("n_tok")).as("n_tok"),
            sum(col("n_words")).as("nw"))
          .select(col("lang"), col("n_docs"), col("n_tok"),
            Num.rnd(col("nc").cast("double") / col("n_tok").cast("double"), 6)
              .as("chars_per_tok"),
            Num.rnd(col("n_tok").cast("double") / col("nw").cast("double"), 6)
              .as("toks_per_word"))
      },
      Some(s"""WITH e AS (SELECT doc_id, ${Round9Queries.bpeReprSql} AS r,
              length(text) AS nc, len(string_split(text, ' ')) AS nw
            FROM documents),
          t AS (SELECT d.lang, e.nc, e.nw,
              CAST(len(e.r) - len(replace(e.r, '(', '')) AS BIGINT) AS nt
            FROM e JOIN documents d ON e.doc_id = d.doc_id)
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(nt) AS BIGINT) AS n_tok,
            round(CAST(sum(nc) AS DOUBLE) / CAST(sum(nt) AS DOUBLE) * 1e6)
              / 1e6 AS chars_per_tok,
            round(CAST(sum(nt) AS DOUBLE) / CAST(sum(nw) AS DOUBLE) * 1e6)
              / 1e6 AS toks_per_word
          FROM t GROUP BY 1"""))
  )
}
