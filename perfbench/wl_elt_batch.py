"""``elt_batch``: the bulk loader, run as a batch job.

A unit is one pass of the reference's bulk path over the landed FEC
files, into a fresh output directory:

1. ``fec.pipeline.run_bulk_import``
2. ``fec.pipeline.run_derivations``
3. ``fec.pipeline.run_incremental_docs`` with a fixed batch size
4. ``RUN_BATCHES`` ``pipelines.incremental_e2e.run_batch`` calls over
   the filing-memo docs
5. ``graph.algorithms`` ``pagerank``, ``connected_components``,
   ``triangle_count`` and ``hits`` on the ``graph_edges`` just built,
   each result written next to the other outputs.

Each call is one op. It never touches the versioned store.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

from perfbench.envelope import tree_cpu_s
from perfbench.workloads import per_call

INPUT_KIND = "fec"
DOC_BATCH = 4_000
RUN_BATCHES = 2
PAGERANK_ITERATIONS = 10
HITS_ITERATIONS = 3
GRAPH = ("pagerank", "connected_components", "triangle_count", "hits")


def prepare(ctx) -> None:
    with open(os.path.join(ctx.inputs, "expected.json")) as f:
        ctx.state["expected"] = json.load(f)
    ctx.state["passes"] = []


def _edges(spark, out: str):
    from pyspark.sql import functions as F  # noqa: PLC0415

    e = spark.read.parquet(os.path.join(out, "graph_edges"))
    return e.select(
        F.concat_ws(":", "src_label", "src_key").alias("src"),
        F.concat_ws(":", "dst_label", "dst_key").alias("dst"),
    )


def run_unit(ctx) -> None:
    from data_spark.fec.pipeline import (  # noqa: PLC0415
        run_bulk_import,
        run_derivations,
        run_incremental_docs,
    )
    from data_spark.graph import algorithms  # noqa: PLC0415
    from data_spark.pipelines.incremental_e2e import run_batch  # noqa: PLC0415

    spark, tr = ctx.spark, ctx.tracer
    n = len(ctx.state["passes"])
    out = os.path.join(ctx.run_dir, f"out-{n}")
    result: dict = {"out": out}
    ctx.state["passes"].append(result)
    tr.set_op(f"pass{n}")
    t_pass = time.perf_counter()

    def op(name: str, fn):
        ctx.attempted += 1
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tr.span(name):
            value = fn()
        ctx.record("step", time.perf_counter() - t0)
        ctx.record("step_cpu", tree_cpu_s() - c0)
        return value

    result["bulk"] = op("fec.run_bulk_import", lambda: run_bulk_import(spark, ctx.inputs, out))
    result["derived"] = op("fec.run_derivations", lambda: run_derivations(spark, out))
    result["docs"] = op(
        "fec.run_incremental_docs", lambda: run_incremental_docs(spark, out, batch_size=DOC_BATCH)
    )
    memo = spark.read.parquet(os.path.join(ctx.inputs, "memo_docs.parquet"))
    limit = -(-ctx.state["expected"]["memo_docs"] // RUN_BATCHES)
    result["run_batch"] = [
        op("pipelines.run_batch",
           lambda: run_batch(spark, memo, os.path.join(out, "memo_pipeline"), batch_limit=limit))
        for _ in range(RUN_BATCHES)
    ]
    edges = _edges(spark, out)
    calls = {
        "pagerank": lambda: algorithms.pagerank(edges, iterations=PAGERANK_ITERATIONS),
        "connected_components": lambda: algorithms.connected_components(edges),
        "triangle_count": lambda: algorithms.triangle_count(edges),
        "hits": lambda: algorithms.hits(edges, iterations=HITS_ITERATIONS),
    }
    for name, fn in calls.items():
        op(f"graph.{name}",
           lambda fn=fn, name=name: fn().write.mode("overwrite").parquet(os.path.join(out, f"g_{name}")))
    ctx.record("pass", time.perf_counter() - t_pass)


# ---------------------------------------------------------------------------
# output checks (pure Python over the written files)
# ---------------------------------------------------------------------------


def _read_rows(path: str, cols: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq  # noqa: PLC0415

    t = pq.read_table(path, columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def _graph_reference(edges: list[tuple[str, str]]) -> dict:
    """Python mirrors of the four algorithms' documented semantics."""
    verts = sorted({v for e in edges for v in e})
    # pagerank: uniform start, teleport (1-d)/n, dangling mass dropped
    n, d = len(verts), 0.85
    out_deg: dict[str, int] = defaultdict(int)
    for s, _ in edges:
        out_deg[s] += 1
    rank = {v: 1.0 / n for v in verts}
    for _ in range(PAGERANK_ITERATIONS):
        inflow: dict[str, float] = defaultdict(float)
        for s, t in edges:
            inflow[t] += rank[s] / out_deg[s]
        rank = {v: (1 - d) / n + d * inflow.get(v, 0.0) for v in verts}
    # connected components: component = smallest member id
    parent = {v: v for v in verts}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for s, t in edges:
        a, b = find(s), find(t)
        if a != b:
            parent[max(a, b)] = min(a, b)
    members: dict[str, list] = defaultdict(list)
    for v in verts:
        members[find(v)].append(v)
    comp = {v: min(ms) for ms in members.values() for v in ms}
    # triangles of the undirected simple graph, degree-ordered
    und = {(min(s, t), max(s, t)) for s, t in edges if s != t}
    adj: dict[str, set] = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)

    def order(v):
        return (len(adj[v]), v)

    fwd = {v: {w for w in adj[v] if order(w) > order(v)} for v in adj}
    tri = sum(len(fwd[a] & fwd[b]) for a in fwd for b in fwd[a])
    return {"rank": rank, "component": comp, "triangles": tri, "n": n}


def check(ctx) -> list[str]:
    exp = ctx.state["expected"]
    failures = []
    for i, res in enumerate(ctx.state["passes"]):
        tag = f"elt_batch pass {i}"
        if res.get("bulk") != exp["rows"]:
            failures.append(f"{tag}: bulk import counts {res.get('bulk')} != generated {exp['rows']}")
        derived = res.get("derived", {})
        for k in ("contributions_master", "contributions_elastic", "pas_master",
                  "expenditures_master", "candidate_docs", "committee_docs"):
            if derived.get(k) != exp[k]:
                failures.append(f"{tag}: {k} {derived.get(k)} != predicted {exp[k]}")
        out = res["out"]
        ids = [r[0] for r in _read_rows(os.path.join(out, "contribution_docs"), ["_id"])]
        if res.get("docs") != exp["contributions_elastic"] or len(ids) != len(set(ids)) \
                or len(ids) != exp["contributions_elastic"]:
            failures.append(f"{tag}: doc drain {res.get('docs')} docs / {len(set(ids))} distinct "
                            f"!= once per sub_id ({exp['contributions_elastic']})")
        rb = res.get("run_batch", [])
        remaining = exp["memo_docs"]
        merged = 0
        limit = -(-exp["memo_docs"] // RUN_BATCHES)
        for j, m in enumerate(rb):
            want = min(limit, remaining)
            remaining -= want
            merged += m["merged_rows"]
            if m["delta_rows"] != want or m["merged_rows"] + m["near_dups_dropped"] != want \
                    or m["store_rows_total"] != merged:
                failures.append(f"{tag}: run_batch {j} metrics {m} inconsistent (delta {want})")
        if not rb or sum(m["near_dups_dropped"] for m in rb) == 0:
            failures.append(f"{tag}: the near-duplicate gate dropped nothing")
        edges = _read_rows(os.path.join(out, "graph_edges"), ["src_label", "src_key", "dst_label", "dst_key"])
        ref = _graph_reference([(f"{a}:{b}", f"{c}:{d}") for a, b, c, d in edges])
        pr = dict(_read_rows(os.path.join(out, "g_pagerank"), ["id", "rank"]))
        if set(pr) != set(ref["rank"]) or any(abs(pr[v] - ref["rank"][v]) > 1e-9 for v in pr):
            failures.append(f"{tag}: pagerank differs from the reference")
        cc = dict(_read_rows(os.path.join(out, "g_connected_components"), ["id", "component"]))
        if cc != ref["component"]:
            failures.append(f"{tag}: connected components differ from union-find")
        tri = _read_rows(os.path.join(out, "g_triangle_count"), ["triangles"])
        if tri != [(ref["triangles"],)]:
            failures.append(f"{tag}: triangles {tri} != {ref['triangles']}")
        hits = _read_rows(os.path.join(out, "g_hits"), ["id", "hub", "auth"])
        hub, auth = sum(h for _, h, _ in hits), sum(a for _, _, a in hits)
        if len(hits) != ref["n"] or abs(hub - 1) > 1e-6 or abs(auth - 1) > 1e-6:
            failures.append(f"{tag}: hits not L1-normalized over all {ref['n']} vertices")
    return failures


def report(ctx) -> dict:
    rows = ctx.state["expected"]["landed_rows"]
    return {"elt_rows_per_s": rows * len(ctx.samples["pass"]) / sum(ctx.samples["pass"])}


def end_to_end(ctx) -> dict:
    return ctx.cpu_metrics("step")


def layer_metrics(ctx, busy: dict) -> dict:
    tr = ctx.tracer
    out = {}
    for f in ("run_bulk_import", "run_derivations", "run_incremental_docs"):
        m = per_call(tr, busy, f"fec.{f}")
        for k in ("busy_s", "jobs", "exec_run_s", "exec_wait_s", "shuffle_mb", "driver_only_s"):
            out[f"fec.{f}.{k}"] = m[k]
    m = per_call(tr, busy, "pipelines.run_batch")
    for k in ("busy_s", "jobs", "exec_wait_s", "driver_only_s"):
        out[f"pipelines.run_batch.{k}"] = m[k]
    reads = [r for res in ctx.state["passes"] for r in res.get("run_batch", [])]
    total = sum(r["store_rows_total"] for r in reads)
    out["pipelines.run_batch.store_rows_read_ratio"] = (
        sum(r["store_rows_read"] for r in reads) / total if total else 0.0
    )
    for g in GRAPH:
        m = per_call(tr, busy, f"graph.{g}")
        for k in ("busy_s", "jobs", "exec_wait_s", "driver_only_s"):
            out[f"graph.{g}.{k}"] = m[k]
    return out
