"""The benchmark's workloads: which SparkEntry queries each one issues, and
the engine module whose operator each query calls (the per-module wall-time
layer). Every query's output is checked against its DuckDB twin at sf0.1.

Each workload is a closed loop with one client: a pass issues every query of
the list once, in an order drawn from the seed, each as soon as the previous
one has finished. README.md gives the reason for every list.
"""

# Reference-parity surface: SQL front door, anti join, correlated subquery,
# window, rollup (the injected PreAggGroupingSets rule) and a TPC-H join.
RELATIONAL = {q: "operators" for q in [
    "q_sql", "q_join_anti", "q_subquery_exists", "q_window_rank", "q_rollup",
    "q_tpch_q14",
]}

# Pipeline operators and their writes: SimHash dedup, a driver-sequenced
# graph loop, native text and vector kernels, a sink round trip and a
# checkpointed stream.
PIPELINE = {
    "q_dedup_simhash": "dedup", "q_sssp": "graph", "q_text_stats": "functions",
    "q_ann_topk": "similarity", "q_json_roundtrip": "operators",
    "q_stream_dedup": "streaming",
}

WORKLOADS = {"relational": RELATIONAL, "pipeline": PIPELINE}
