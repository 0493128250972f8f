package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.Num

/** Round-44 additions (build round 11): the last arcs of the
  * incremental-curation story plus the residual VERDICT r10 items —
  * embedding cell-index MERGE (the probe→accept→append loop, twin of
  * MinHash's q194/q195 contract), the banded-blocking operating-point
  * SWEEP with measured recall/precision per (targetCell, R), unsigned
  * keys through joins and groupbys (reference
  * `legate/pandas/common/types.py:72-104`; `tests/pandas/df_merge*.py`
  * exercise mixed-dtype keys), and the multi-column list-assignment
  * idiom (reference `tests/pandas/df_swap.py:24-28`).
  */
object Round44Queries {

  private val fx = s"read_parquet('${Tables.uintFixturePath}')"

  val defs: Seq[(String, QueryDef)] = Seq(

    // Incremental-curation APPEND: corpus indexed once, batch-1 probed,
    // its non-dups MERGED into the persisted index with the index's OWN
    // frozen modulus (never re-derived from a count — cell assignment
    // must stay stable as the index grows), then batch-2 probes the
    // merged index and must see batch-1's accepted vectors as dup
    // sources. The oracle rebuilds the merged index from scratch with
    // the same frozen modulus — pinning merge ≡ rebuild row for row.
    "q384_embed_index_merge" -> QueryDef(
      (s, d) => {
        val em = Tables.embeddings(s, d)
        val corpus = em.filter(col("vec_id") % 89 >= 2)
        val b1 = em.filter(col("vec_id") % 89 === 0)
        val b2 = em.filter(col("vec_id") % 89 === 1)
        val idx = graft.similarity.Similarity.embedCellIndex(corpus, tables = 4)
        val p1 = graft.similarity.Similarity
          .probeEmbedIndex(idx, b1, corpus, 0.4)
        val acc = b1.join(p1.filter(!col("is_dup"))
          .select(col("new_id").as("vec_id")), Seq("vec_id"), "left_semi")
        val merged = graft.similarity.Similarity.mergeEmbedIndex(idx, acc)
        graft.similarity.Similarity
          .probeEmbedIndex(merged, b2, corpus.unionByName(acc), 0.4)
      },
      Some {
        def idxSql(t: Int, where: String) =
          s"""SELECT $t AS t, vec_id,
               CAST(${SimilarityQueries.sigSql32At("embedding", 7L + t)} % cc.c
                 AS BIGINT) AS cell
             FROM embeddings CROSS JOIN cc WHERE $where"""
        def probeSql(t: Int, where: String) =
          s"""SELECT $t AS t, vec_id AS new_id,
               CAST(${SimilarityQueries.sigSql32At("embedding", 7L + t)} % cc.c
                 AS BIGINT) AS cell
             FROM embeddings CROSS JOIN cc WHERE $where"""
        val idx0 = (0 until 4).map(idxSql(_, "vec_id % 89 >= 2"))
          .mkString(" UNION ALL ")
        val p1 = (0 until 4).map(probeSql(_, "vec_id % 89 = 0"))
          .mkString(" UNION ALL ")
        val idxa = (0 until 4).map(idxSql(_,
          "vec_id % 89 = 0 AND vec_id NOT IN (SELECT new_id FROM dup1)"))
          .mkString(" UNION ALL ")
        val p2 = (0 until 4).map(probeSql(_, "vec_id % 89 = 1"))
          .mkString(" UNION ALL ")
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
              WHERE vec_id % 89 >= 2),
          cc AS (SELECT greatest(1, (n + 255) // 256) AS c FROM nn),
          idx0 AS ($idx0),
          p1 AS ($p1),
          cand1 AS (SELECT DISTINCT p.new_id, i.vec_id AS corpus_id
            FROM p1 p JOIN idx0 i ON i.t = p.t AND i.cell = p.cell
            WHERE p.new_id != i.vec_id),
          dup1 AS (SELECT cand1.new_id
            FROM cand1
            JOIN embeddings a ON a.vec_id = cand1.new_id
            JOIN embeddings b ON b.vec_id = cand1.corpus_id
            WHERE round(${SimilarityQueries.sqlCosPub("a.embedding", "b.embedding")}
              * 1e6) / 1e6 >= 0.4
            GROUP BY 1),
          idx1 AS (SELECT * FROM idx0 UNION ALL $idxa),
          p2 AS ($p2),
          cand2 AS (SELECT DISTINCT p.new_id, i.vec_id AS corpus_id
            FROM p2 p JOIN idx1 i ON i.t = p.t AND i.cell = p.cell
            WHERE p.new_id != i.vec_id),
          m2 AS (SELECT cand2.new_id, CAST(count(*) AS BIGINT) AS n_matches
            FROM cand2
            JOIN embeddings a ON a.vec_id = cand2.new_id
            JOIN embeddings b ON b.vec_id = cand2.corpus_id
            WHERE round(${SimilarityQueries.sqlCosPub("a.embedding", "b.embedding")}
              * 1e6) / 1e6 >= 0.4
            GROUP BY 1)
          SELECT e.vec_id AS new_id,
            coalesce(m2.n_matches, 0) AS n_matches,
            (coalesce(m2.n_matches, 0) > 0) AS is_dup
          FROM embeddings e LEFT JOIN m2 ON e.vec_id = m2.new_id
          WHERE e.vec_id % 89 = 1"""
      }),

    // Banded-blocking operating-point SWEEP: (targetCell × R) grid with
    // measured n_cand/precision/recall against exact ground truth — the
    // knob table a 100 TB run reads before paying candidate volume
    // (q378/q379 measured two points; this pins the curve). Truth is
    // computed once; per targetCell each pair carries min(first
    // colliding table) so the whole R axis is a filter, not a re-join.
    "q388_banded_sweep" -> QueryDef(
      (s, d) => graft.similarity.Similarity.bandedSweep(
        Tables.embeddings(s, d), 0.4, rs = Seq(1, 2, 4, 8),
        cells = Seq(128, 256, 512)),
      Some {
        val sigs = (0 until 8).map { t =>
          s"""SELECT vec_id, $t AS t,
               CAST(${SimilarityQueries.sigSql32At("embedding", 7L + t)}
                 AS BIGINT) AS sg
             FROM embeddings"""
        }.mkString(" UNION ALL ")
        def cellBlock(targetCell: Int) =
          s"""SELECT $targetCell AS target_cell, rr.r,
              CAST(count(*) AS BIGINT) AS n_cand,
              CAST(sum(CASE WHEN tr.id1 IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tp
            FROM (SELECT x.vec_id AS id1, y.vec_id AS id2, min(x.t) AS mt
                FROM (SELECT vec_id, t, sg % c_$targetCell.c AS cell
                    FROM sig CROSS JOIN c_$targetCell) x
                JOIN (SELECT vec_id, t, sg % c_$targetCell.c AS cell
                    FROM sig CROSS JOIN c_$targetCell) y
                  ON x.t = y.t AND x.cell = y.cell AND x.vec_id < y.vec_id
                GROUP BY 1, 2) f
            CROSS JOIN (VALUES (1), (2), (4), (8)) rr(r)
            LEFT JOIN truth tr ON f.id1 = tr.id1 AND f.id2 = tr.id2
            WHERE f.mt < rr.r
            GROUP BY 1, 2"""
        val cBlocks = Seq(128, 256, 512).map(tc =>
          s"c_$tc AS (SELECT greatest(1, (n + ${tc - 1}) // $tc) AS c FROM nn)")
          .mkString(",\n          ")
        val res = Seq(128, 256, 512).map(cellBlock).mkString(" UNION ALL ")
        // grid completion ≡ the Spark side (r11): every (targetCell, R)
        // point appears, zero-candidate points carry 0s and NULL ratios
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
          $cBlocks,
          sig AS ($sigs),
          e AS (SELECT vec_id, embedding FROM embeddings),
          truth AS (SELECT id1, id2 FROM (
              SELECT a.vec_id AS id1, b.vec_id AS id2,
                round(${SimilarityQueries.sqlCosPub("a.embedding", "b.embedding")}
                  * 1e6) / 1e6 AS sim
              FROM e a, e b WHERE a.vec_id < b.vec_id)
            WHERE sim >= 0.4),
          t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
          res AS ($res),
          grid AS (SELECT c.c AS target_cell, r.r
            FROM (VALUES (128), (256), (512)) c(c)
            CROSS JOIN (VALUES (1), (2), (4), (8)) r(r))
          SELECT g.target_cell, g.r, t.n_truth,
            coalesce(res.n_cand, 0) AS n_cand,
            coalesce(res.n_tp, 0) AS n_tp,
            CASE WHEN coalesce(res.n_cand, 0) > 0 THEN
              round(CAST(coalesce(res.n_tp, 0) AS DOUBLE)
                / CAST(res.n_cand AS DOUBLE) * 1e6) / 1e6 END AS precision,
            CASE WHEN t.n_truth > 0 THEN
              round(CAST(coalesce(res.n_tp, 0) AS DOUBLE)
                / CAST(t.n_truth AS DOUBLE) * 1e6) / 1e6 END AS recall
          FROM grid g
          LEFT JOIN res ON res.target_cell = g.target_cell AND res.r = g.r
          CROSS JOIN t"""
      }),

    // STREAMING incremental embedding dedup: the q382/q384 persisted
    // cell index probed by STREAMING batches (stream-static bucket join
    // + candidates-only exact verify; one stateful agg collapsing
    // per-table repeats) — the embedding twin of q195's MinHash
    // incremental-dedup stream. Emits the verified dup-pair feed.
    "q390_stream_embed_probe" -> QueryDef(
      (s, d) => graft.streaming.EmbedStreams.probeIndexStream(s, d),
      Some {
        def idxSql(t: Int) =
          s"""SELECT $t AS t, vec_id,
               CAST(${SimilarityQueries.sigSql32At("embedding", 7L + t)} % cc.c
                 AS BIGINT) AS cell
             FROM embeddings CROSS JOIN cc WHERE vec_id % 97 != 0"""
        def probeSql(t: Int) =
          s"""SELECT $t AS t, vec_id AS new_id,
               CAST(${SimilarityQueries.sigSql32At("embedding", 7L + t)} % cc.c
                 AS BIGINT) AS cell
             FROM embeddings CROSS JOIN cc WHERE vec_id % 97 = 0"""
        val idx = (0 until 4).map(idxSql).mkString(" UNION ALL ")
        val probes = (0 until 4).map(probeSql).mkString(" UNION ALL ")
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
              WHERE vec_id % 97 != 0),
          cc AS (SELECT greatest(1, (n + 255) // 256) AS c FROM nn),
          idx AS ($idx),
          probes AS ($probes),
          cand AS (SELECT DISTINCT p.new_id, i.vec_id AS corpus_id
            FROM probes p JOIN idx i ON i.t = p.t AND i.cell = p.cell
            WHERE p.new_id != i.vec_id)
          SELECT c.new_id, c.corpus_id,
            round(${SimilarityQueries.sqlCosPub("a.embedding", "b.embedding")}
              * 1e6) / 1e6 AS sim
          FROM cand c
          JOIN embeddings a ON a.vec_id = c.new_id
          JOIN embeddings b ON b.vec_id = c.corpus_id
          WHERE round(${SimilarityQueries.sqlCosPub("a.embedding", "b.embedding")}
            * 1e6) / 1e6 >= 0.4"""
      }),

    // Join ON a uint64 key: Spark's widened decimal(20,0) key vs
    // DuckDB's native uint64 on the SAME parquet — hash-join equality
    // must agree across the full 2^64 range (keys near 2^64-1 are in
    // the fixture). Self-join keyed by u64; values leave as exact
    // strings. Scale shape: an equi-join on a fixed-width key, same
    // exchange as any bigint join.
    "q385_uint_join" -> QueryDef(
      (s, d) => {
        val f = Tables.uintFixture(s)
        val dim = f.select(col("u64"), col("u32").as("r32"))
        f.select(col("id"), col("u64"), col("u16"))
          .join(dim, Seq("u64"))
          .select(col("id"), col("u64").cast("string").as("k64"),
            col("u16").cast("int").as("u16v"), col("r32"))
      },
      Some(s"""SELECT a.id, CAST(a.u64 AS VARCHAR) AS k64,
            CAST(a.u16 AS INT) AS u16v, CAST(b.u32 AS BIGINT) AS r32
          FROM $fx a JOIN $fx b ON a.u64 = b.u64""")),

    // ORDER BY a uint64 key: DECIMAL(20,0) ordering must agree with
    // native unsigned ordering across the full 2^64 range (values near
    // 2^64-1 sort ABOVE everything — a signed-long reinterpretation
    // would order them negative-first). TakeOrdered top-k, id tiebreak.
    "q394_uint_topk" -> QueryDef(
      (s, d) => graft.operators.Sorts.topK(
          Tables.uintFixture(s).select(col("id"), col("u64")),
          Seq("u64", "id"), Seq(false, true), 100)
        .select(col("id"), col("u64").cast("string").as("u64s")),
      Some(s"""SELECT id, CAST(u64 AS VARCHAR) AS u64s FROM $fx
          ORDER BY u64 DESC, id LIMIT 100""")),

    // Group BY a uint32 key (widened to BIGINT on the Spark side,
    // native uint32 in DuckDB): grouping hashes and group identities
    // must agree; uint64 extremes inside the groups leave as exact
    // strings.
    "q386_uint_groupby" -> QueryDef(
      (s, d) => Tables.uintFixture(s)
        .groupBy(col("u32"))
        .agg(count(lit(1)).as("n"),
          sum(col("u8").cast("long")).as("s8"),
          max(col("u64")).cast("string").as("mx64"))
        .select(col("u32").as("k32"), col("n"), col("s8"), col("mx64")),
      Some(s"""SELECT CAST(u32 AS BIGINT) AS k32,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(u8 AS BIGINT)) AS BIGINT) AS s8,
            CAST(max(u64) AS VARCHAR) AS mx64
          FROM $fx GROUP BY 1""")),

    // Amortized heavy hitters: the MG(512) sketch is FIT ONCE and
    // PERSISTED as a one-row parquet table, then the top-k call pays
    // only the candidate-verify scan (the full-corpus MG pass is gone —
    // per-call jobs 3 → 2; the VERDICT r10 "eager sketch rebuild" weak
    // mark). Certification re-proves exactness from exact counts every
    // call, so a stale-superset sketch can never return a wrong answer.
    // Same oracle as q232: sketch-reuse ≡ refit, pinned against DuckDB.
    "q389_heavy_hitters_prefit" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val path = graft.tools.Staging.dir("mg_sketch", d)
        // r12: fused text paths — fit and verify each tokenize once,
        // with no explode stage (MgTextExpr scaladoc).
        graft.functions.MisraGries.fitSketchText(docs, "text", 512)
          .write.mode("overwrite").parquet(path)
        graft.functions.MisraGries.topKFrequentPrefitText(
          docs, "text", 10, s.read.parquet(path))
      },
      Some("""WITH w AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
                FROM documents)
              SELECT word, cnt FROM (
                SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1)
              QUALIFY row_number() OVER (ORDER BY cnt DESC, word) <= 10""")),

    // Frame⊕frame binary with UNALIGNED COLUMNS (reference
    // tests/pandas/df_binary_unaligned_column.py: add/…/floordiv/mod
    // with fill_value over frames whose column sets differ): the
    // result's columns are the union; a column present on one side
    // combines against fill_value (or stays null without one); rows
    // align on the index simultaneously (f2 carries half the keys).
    // One full-outer shuffle join — GFrame.alignedOp.
    "q391_frame_align_cols" -> QueryDef(
      (s, d) => {
        val base = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
          .agg(Num.sumMoney(col("l_quantity")).as("s1"),
            Num.sumMoney(col("l_extendedprice")).as("s2"))
        val f1 = graft.api.GFrame(base.select(col("l_orderkey"),
          col("s1").as("a"), col("s2").as("b"))).setIndex("l_orderkey")
        val f2 = graft.api.GFrame(base.filter(col("l_orderkey") % 2 === 0)
          .select(col("l_orderkey"), col("s2").as("b"), col("s1").as("c")))
          .setIndex("l_orderkey")
        def proj(t: String, g: graft.api.GFrame) = g.df.select(
          lit(t).as("op"), col("l_orderkey"),
          Num.rnd(col("a"), 6).as("a"), Num.rnd(col("b"), 6).as("b"),
          Num.rnd(col("c"), 6).as("c"))
        proj("add", f1.addFrame(f2, Some(1.0)))
          .unionByName(proj("floordiv", f1.floordivFrame(f2)))
          .unionByName(proj("mod", f1.modFrame(f2, Some(2.0))))
      },
      Some("""WITH base AS (SELECT l_orderkey,
            CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS s1,
            CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS s2
          FROM lineitem GROUP BY 1),
        f1 AS (SELECT l_orderkey, s1 AS a, s2 AS b FROM base),
        f2 AS (SELECT l_orderkey, s2 AS b, s1 AS c FROM base
               WHERE l_orderkey % 2 = 0),
        j AS (SELECT coalesce(f1.l_orderkey, f2.l_orderkey) AS k,
            f1.a AS la, f1.b AS lb, f2.b AS rb, f2.c AS rc
          FROM f1 FULL JOIN f2 ON f1.l_orderkey = f2.l_orderkey)
        SELECT 'add' AS op, k AS l_orderkey,
          round((CASE WHEN la IS NULL THEN NULL ELSE la + 1.0 END) * 1e6) / 1e6 AS a,
          round((CASE WHEN lb IS NULL AND rb IS NULL THEN NULL
            ELSE coalesce(lb, 1.0) + coalesce(rb, 1.0) END) * 1e6) / 1e6 AS b,
          round((CASE WHEN rc IS NULL THEN NULL ELSE 1.0 + rc END) * 1e6) / 1e6 AS c
        FROM j
        UNION ALL
        SELECT 'floordiv', k,
          CAST(NULL AS DOUBLE) AS a,
          round(floor(lb / rb) * 1e6) / 1e6 AS b,
          CAST(NULL AS DOUBLE) AS c
        FROM j
        UNION ALL
        SELECT 'mod', k,
          round((CASE WHEN la IS NULL THEN NULL
            ELSE ((la % 2.0) + 2.0) % 2.0 END) * 1e6) / 1e6 AS a,
          round((CASE WHEN lb IS NULL AND rb IS NULL THEN NULL
            ELSE ((coalesce(lb, 2.0) % coalesce(rb, 2.0)) + coalesce(rb, 2.0))
              % coalesce(rb, 2.0) END) * 1e6) / 1e6 AS b,
          round((CASE WHEN rc IS NULL THEN NULL
            ELSE ((2.0 % rc) + rc) % rc END) * 1e6) / 1e6 AS c
        FROM j""")),

    // concat(axis=0) with MISALIGNED columns (pandas outer-union
    // default: a frame missing a column contributes nulls there —
    // previously the engine threw, which pandas reserves for
    // join="inner"). Two disjoint-ish projections of orders unioned;
    // oracle = UNION ALL with explicit NULL columns.
    "q393_concat_misaligned" -> QueryDef(
      (s, d) => {
        val o = Tables.orders(s, d)
        val a = graft.api.GFrame(o.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), col("o_custkey")))
        val b = graft.api.GFrame(o.filter(col("o_orderkey") % 3 === 1)
          .select(col("o_orderkey"), col("o_totalprice").cast("double")
            .as("price")))
        graft.api.GFrame.concat(Seq(a, b)).df
      },
      Some("""SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS price
            FROM orders WHERE o_orderkey % 3 = 0
          UNION ALL
          SELECT o_orderkey, CAST(NULL AS BIGINT) AS o_custkey,
            CAST(o_totalprice AS DOUBLE) AS price
            FROM orders WHERE o_orderkey % 3 = 1""")),

    // read_csv with index_col (reference tests/io/read_csv_index.py:
    // positions or names, in the GIVEN order — index_col=[1,0] makes
    // column 1 the outer level) + the dtype-dict path (every name
    // covered, every dtype a known numpy name — read_csv_errors.py's
    // contract, negative paths spec'd in Round32Spec). Data round-trips
    // through headerless CSV; the GFrame carries the (line, okey)
    // MultiIndex.
    "q392_csv_index_col" -> QueryDef(
      (s, d) => {
        val path = graft.tools.Staging.dir("csv_idx", d)
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("double"), col("l_extendedprice").cast("double"))
          .write.mode("overwrite").option("header", "false").csv(path)
        val names = Seq("okey", "line", "qty", "price")
        val g = graft.io.CsvPandas.readIndexed(s, path,
          graft.io.CsvPandas.ReadOptions(header = false, names = names,
            schema = Some(graft.io.CsvPandas.dtypeSchema(names, Map(
              "okey" -> "int64", "line" -> "int32",
              "qty" -> "float64", "price" -> "float64")))),
          indexCol = Seq(1, 0))
        g.df.select((g.index.map(col) ++
          g.df.columns.filterNot(g.index.contains).map(col)): _*)
      },
      Some("""SELECT CAST(l_linenumber AS INTEGER) AS line,
            l_orderkey AS okey,
            CAST(l_quantity AS DOUBLE) AS qty,
            CAST(l_extendedprice AS DOUBLE) AS price
          FROM lineitem""")),

    // Multi-column list assignment (reference tests/pandas/df_swap.py:
    // `ldf[["col2","col1"]] = ldf[["col1","col2"]]`): positional
    // pairing, all RHS read from the PRE-assignment frame (the swap is
    // simultaneous), column order preserved, new targets appended —
    // GFrame.setItems. Pure projection; zero exchanges.
    "q387_multicol_swap" -> QueryDef(
      (s, d) => graft.api.GFrame(Tables.lineitem(s, d))
        .setItems(
          Seq("l_extendedprice", "l_quantity", "qty_copy"),
          Seq("l_quantity", "l_extendedprice", "l_quantity"))
        .df.select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("qty_copy")),
      Some("""SELECT l_orderkey, l_linenumber,
            l_extendedprice AS l_quantity,
            l_quantity AS l_extendedprice,
            l_quantity AS qty_copy
          FROM lineitem"""))
  )
}
