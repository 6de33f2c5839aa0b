"""Benchmark workloads: which registry entries run, and what they read.

Each workload is a closed loop with one client: the next entry starts
only when the previous one has finished. ``tables`` lists the input
tables each entry scans once per execution; the rows of those tables
summed over a pass are the ``rows_per_pass`` behind ``rows_per_s``.
"""

from __future__ import annotations

from perfbench.gen import rows

WORKLOADS: dict[str, dict[str, tuple[str, ...]]] = {
    # JVM only: scans, joins, aggregates, windows, AQE and codegen. No
    # Python worker, no state store, no artifact writes.
    "analytics": {
        "tpch_q1_pricing_summary": ("lineitem",),
        "tpch_q3_shipping_priority": ("customer", "orders", "lineitem"),
        "tpch_q5_local_supplier_volume": (
            "customer", "orders", "lineitem", "supplier", "nation", "region",
        ),
        "q19_window_topk_per_group": ("orders",),
        "q89_active_users": ("events",),
    },
    # The LLM-data and model path: exact-Jaccard pairs through an Arrow
    # kernel and connected components, a persisted LSH index written then
    # queried, distributed training with Arrow inference, a model save
    # and load, and a stateful micro-batch aggregation.
    "pipeline": {
        "d_near_dedup_keep": ("documents",),
        "d_lsh_index_md5_query": ("documents",),
        "m01_train_predict": ("embeddings",),
        "m03_persistence_roundtrip": ("embeddings",),
        "st_tumbling_hour_counts": ("events",),
    },
}

# Whether a warm-up window of --seconds precedes the steady passes. On
# analytics (passes of about 2 s) the passes after the cold one kept
# getting faster for about four passes (JIT), so without a warm-up of
# the same length the number of passes that fit the window, which
# depends on speed, moved rows_per_s by a fifth from run to run. A
# pipeline pass (6-12 s) outlasts the window, so every run measures the
# same passes after the cold one, and the time a warm-up pass would take
# buys a second measured pass instead.
WARM_UP = {"analytics": True, "pipeline": False}
# Steady passes continue until --seconds have passed and at least this
# many have run.
MIN_STEADY_PASSES = {"analytics": 1, "pipeline": 2}


def rows_per_pass(workload: str) -> int:
    return sum(rows(t) for tables in WORKLOADS[workload].values() for t in tables)
