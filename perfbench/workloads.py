"""The benchmark's workloads: which registry queries each one calls, in
which order, and the input recipe it derives from the sf0.1 corpus (see
gen.py for the recipe keys).

Each workload is a closed loop with one client: one JVM with at most four
task slots issues the queries below in this order, rebuilding every query
on every call. After the check pass and one untimed settle pass it runs a
window of `passes` timed passes (more only if `--seconds` outlasts them).
Input sizes, query lists and pass counts are set so that one run (JVM
start, set-up, the window and the output check) takes about a minute on a
4-core machine; README.md records the sizes, the passes and why each
workload was chosen.
"""

WORKLOADS = {
    # Construction fires no jobs: scan, shuffle, join and kernel execution
    # do the work. The pandas-surface relational core (operators/,
    # functions/, plans/GroupTopK, api/GFrame) plus the execution-bound text
    # and similarity kernels (text/, similarity/).
    "relational": {
        # 7 passes of 11 calls: the tail (the 11th slowest call) is then
        # about the median q87 call, below the seven q203 calls, rather
        # than an order statistic at the edge of a cluster
        "passes": 7,
        "queries": [
            "q01_agg_sum", "q06_join_inner", "q14_topk", "q70_gframe_pipeline",
            "q87_etl_pipeline", "q97_group_topk", "q203_tpch_q9",
            "q50_text_stats", "q57_cosine_pairs", "q217_bpe_tokenize",
            "q261_quality_classifier",
        ],
        "recipe": {
            "lineitem": {"fraction": 0.1, "sample": "orders.o_orderkey"},
            "orders": {"fraction": 0.1},
            "customer": {}, "supplier": {}, "part": {}, "nation": {}, "region": {},
            "documents": {"fraction": 0.05, "copies": 2, "salt": True},
            "embeddings": {"fraction": 0.25},
        },
    },
    # Construction runs Spark jobs before a Dataset exists: MinHash
    # near-duplicate pairs feeding a connected-components graph loop, a
    # global-scan carry (cumsum), a driver-side model fit (bigram LM) and a
    # gram index written through tools/Staging and read back.
    "eager": {
        # 6 passes of 4 calls: the tail (the 11th slowest call) falls inside
        # the q46/q431 latency cluster, below the six q166 calls
        "passes": 6,
        "queries": [
            "q166_minhash_dedup", "q46_cumsum_global", "q260_bigram_lm",
            "q431_gram_index_probe",
        ],
        "recipe": {
            "lineitem": {"fraction": 0.05, "sample": "orders.o_orderkey"},
            "documents": {"fraction": 0.1},
        },
    },
}
