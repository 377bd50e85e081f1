"""Metric declarations shared by the runner, the docs and the tests.

``BENCHMARK.json`` at the repository root must declare exactly
``END_TO_END`` and ``PER_LAYER`` (``perfbench/tests`` checks it).
``elt_batch`` is not a declared workload (README.md says why); its
traced run prints ``ELT_LAYER`` instead.
"""

from __future__ import annotations

WORKLOADS = ("elt_batch", "incremental_load", "query_mix")

# Every workload reports these (--trace 0), in CPU seconds. What an
# "op" is differs by workload; see README.md. Wall-clock latencies are
# on the report line.
END_TO_END = {
    "setup_s": "s",
    "cpu_per_op_s": "s",
}

# The workload's own named end-to-end metrics, printed on the
# ``report`` line before the result line (name -> unit).
REPORT = {
    "elt_batch": {
        "setup_wall_s": "s",
        "error_rate": "failed/attempted",
        "elt_rows_per_s": "rows/s",
    },
    "incremental_load": {
        "setup_wall_s": "s",
        "error_rate": "failed/attempted",
        "batch_p50_s": "s",
        "batch_tail_s": "s",
        "cdc_lag_p50_s": "s",
        "read_p50_s": "s",
        "read_tail_s": "s",
        "write_amp": "bytes/bytes",
        "space_amp": "bytes/bytes",
    },
    "query_mix": {
        "setup_wall_s": "s",
        "error_rate": "failed/attempted",
        "query_p50_s": "s",
        "query_tail_s": "s",
        "queries_per_min": "1/min",
    },
}

QUERY_MIX = (
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "p_compound_filter", "j_left_join_dim", "j_anti_unloaded",
    "u_distinct_master", "w_topk_global", "w_first_per_group",
    "e_sessionize", "d_dedup_exact", "d_bm25_search",
    "d_simhash_exact_pairs", "v_cosine_topk",
)


def _per_layer() -> dict[str, str]:
    m = {
        "session.get_spark.busy_s": "s",
        "session.warmup.busy_s": "s",
        "session.peak_rss_mb": "MB",
    }
    for f in ("run_bulk_import", "run_derivations", "run_incremental_docs"):
        for c, u in (("busy_s", "s"), ("jobs", "count"), ("exec_run_s", "s"),
                     ("exec_wait_s", "s"), ("shuffle_mb", "MB"), ("driver_only_s", "s")):
            m[f"fec.{f}.{c}"] = u
    for c, u in (("busy_s", "s"), ("jobs", "count"), ("exec_wait_s", "s"),
                 ("driver_only_s", "s"), ("store_rows_read_ratio", "ratio")):
        m[f"pipelines.run_batch.{c}"] = u
    for f in ("pagerank", "hits", "triangle_count", "connected_components"):
        for c, u in (("busy_s", "s"), ("jobs", "count"), ("exec_wait_s", "s"),
                     ("driver_only_s", "s")):
            m[f"graph.{f}.{c}"] = u
    for c, u in (("busy_s", "s"), ("jobs", "count"), ("driver_only_s", "s"),
                 ("jobs_max", "count")):
        m[f"io.merge_versioned.{c}"] = u
    for c, u in (("busy_s", "s"), ("cycles", "count"), ("rewrite_mb", "MB")):
        m[f"io.maintain_versioned.{c}"] = u
    m["io.vacuum_versions.busy_s"] = "s"
    for c, u in (("busy_s", "s"), ("jobs", "count"), ("files_kept_ratio", "ratio")):
        m[f"io.read_versioned.{c}"] = u
    for c, u in (("busy_s", "s"), ("jobs", "count"), ("driver_only_s", "s")):
        m[f"sources.versioned_table.drain.{c}"] = u
    for q in QUERY_MIX:
        for c, u in (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                     ("jobs", "count"), ("exec_wait_s", "s")):
            m[f"queries.{q}.{c}"] = u
    m["trace.overhead_s"] = "s"
    m["trace.coverage"] = "ratio"
    return m


_ALL_LAYERS = _per_layer()
_ELT_ONLY = ("fec.", "pipelines.", "graph.")
PER_LAYER = {k: u for k, u in _ALL_LAYERS.items() if not k.startswith(_ELT_ONLY)}
ELT_LAYER = {k: u for k, u in _ALL_LAYERS.items()
             if not k.startswith(("io.", "sources.", "queries."))}


def layer_metrics(workload: str) -> dict[str, str]:
    """The per-layer metrics a ``--trace 1`` run of ``workload`` prints."""
    return ELT_LAYER if workload == "elt_batch" else PER_LAYER
