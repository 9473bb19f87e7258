"""The benchmark's frozen operation lists, one per workload.

A list never grows with the query registry; the harness fails the run if
a name here is missing from `SparkEntry.queries`, so a rename cannot
silently shrink a workload. Query names are registry keys; `gp_*` names
are the harness's own GP operations.
"""

WORKLOADS = {
    # short scan-shaped queries, each opening 1-8 tables (q, e; l03 writes
    # parquet and reads it back), and two corpus queries' native
    # expressions and shuffles over the documents (d, t)
    "olap": [
        "q05_local_supplier", "q08_market_share", "e01_event_funnel", "l03_ann_layout",
        "d03_minhash_pairs", "t20_bpe_tokens",
    ],
    # many small jobs and micro-batches: graph relaxation rounds,
    # streaming harnesses, and the GP fits' L-BFGS-B evaluations (one
    # treeAggregate job each), beside the GP model's scoring pass
    "iterative": [
        "x08_weighted_paths", "st09_stream_late_data", "st33_stream_outer_join",
        "gp_fit_reg", "gp_fit_clf", "gp_predict",
    ],
}

# Shape of the gp workload's generated inputs.
GP = {"n_train": 4000, "n_classify": 500, "n_test": 500, "n_predict": 50000,
      "dim": 3, "noise": 0.05, "max_iter": 10, "rmse_bound": 0.2}
