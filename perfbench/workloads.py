"""Workload definitions shared by the orchestrator and the worker.

Each workload is a closed loop with one client on ``local[nproc]``.

``etl_incremental`` — the reference's weekly cron: the target is
preloaded with a dirty base history, then each op merges one daily
delta with ``run_etl(incremental=True)``. Loads the high-watermark
probe, the clean chain on a small batch, the anti-join against a
growing small-file target, and Spark's fixed per-job overhead.

``query_mix`` — a fixed, family-spanning slice of the query registry
(relational and analytics plans plus one corpus operator per family),
each op one query materialised through the ``noop`` sink. Bypasses
clean and merge.
"""

from __future__ import annotations

# NYPD ETL input sizes (rows). Deltas are generated well past what one
# run can consume so the loop never runs dry.
ETL_BASE_ROWS = 40_000
ETL_DELTA_ROWS = 1_000
ETL_DELTAS = 48
# Untimed deltas before the timed loop. Latency still falls after them
# (measured on 4 vCPUs: about 2.2 s over the next five ops, 1.9 s over
# the five after), but more warm ops would not fit a run's time budget.
ETL_WARM_OPS = 4

# Star-schema scale factor for the query workload (lineitem = 6M * sf rows).
QUERY_SF = 0.01

# A slice rather than the whole registry: a query's first (cold) run
# costs seconds, and one run of the benchmark has to stay near a minute.
# For the same reason the timed ops are each query's second run; a third
# run is faster still (about a quarter on the median, measured on 4
# vCPUs), but one more untimed pass costs about 15 s a run.
# plans.queries (RELATIONAL) and plans.analytics_queries (ANALYTICS)
PLAN_QUERIES = (
    "pricing_summary",
    "shipping_priority",
    "rolling_distinct_users",
)

# one corpus operator per operator family
CORPUS_QUERIES = {
    "dedup_jaccard_pairs": "dedup",
    "similarity_topk": "similarity",
    "text_tfidf_topk": "text",
    "sample_stratified": "sampling",
    "graph_kcore": "graph",
    "web_robots": "web",
    "probe_linear_fit": "probe",
    "multimodal_frames": "multimodal",
    "text_bpe_tokens": "bpe",
}

WORKLOADS = ("etl_incremental", "query_mix")
