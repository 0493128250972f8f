#!/usr/bin/env python3
"""Time each headline query's oracle SQL in DuckDB (single process) at a
given SF dir — the absolute yardstick BENCH_r{N}.json is compared to.

Usage: python3 tools/bench_duckdb.py [sfDir] [oracle_sql.json] [heavy]
(oracle_sql.json comes from a graft.Verify run: target/verify_out/.
Pass "heavy" as the 3rd arg to time the heavy-operator set instead —
the paired table recorded in BASELINE.md; Spark side via
SPARK_GRAFT_BENCH_NAMES=<same list> graft.Bench.)
"""
import json, os, sys, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# headline set — keep in sync with SparkEntry.benchNames
HEADLINE = ["q01_agg_sum", "q06_join_inner", "q12_star_broadcast", "q14_topk",
            "q46_cumsum_global", "q50_text_stats", "q54_ngram_jaccard",
            "q55_minhash_lsh", "q57_cosine_pairs", "q58_ann_brute",
            "q70_gframe_pipeline", "q97_group_topk", "q87_etl_pipeline",
            "q88_embed_centroid", "q102_curation_pipeline",
            "q166_minhash_dedup", "q203_tpch_q9", "q213_chunk_dedup",
            "q216_semdedup", "q217_bpe_tokenize", "q221_decontaminate",
            "q230_rank_methods", "q232_heavy_hitters",
            "q238_pq_encode", "q239_ann_ivfpq", "q249_bm25_batch",
            "q260_bigram_lm", "q261_quality_classifier", "q263_pagerank",
            "q373_semdedup_scaled"]
# heavy non-headline operators whose scale evidence lives in BASELINE.md
HEAVY = ["q57_cosine_pairs", "q114_dedup_clusters", "q163_rolling_global",
         "q166_minhash_dedup", "q167_range_join", "q169_substring_dup"]

def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    oracle_path = sys.argv[2] if len(sys.argv) > 2 else "target/verify_out/oracle_sql.json"
    if len(sys.argv) > 3:
        # "heavy" or an explicit comma-separated query list
        names = HEAVY if sys.argv[3] == "heavy" else sys.argv[3].split(",")
    else:
        names = HEADLINE
    with open(oracle_path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        # StageSf-staged dirs (<staging root>/sf<mult>x) are Spark
        # directory-parquet and omit events; glob dirs, skip absentees
        path = f"{sf}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        elif not os.path.exists(f"{sf}/{t}.parquet"):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    results, total = {}, 0.0
    for name in names:
        sql = oracle.get(name)
        if sql is None:
            results[name] = None  # not SQL-expressible (e.g. xxhash sketches)
            continue
        con.execute(sql).fetchall()          # warm (buffer pool, casts)
        t0 = time.time()
        con.execute(sql).fetchall()
        dt = time.time() - t0
        results[name] = round(dt, 3)
        total += dt
    print(json.dumps({"metric": "duckdb_total", "value": round(total, 3),
                      "unit": "sec", "queries": results, "sf": sf}))

if __name__ == "__main__":
    main()
