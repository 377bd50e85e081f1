"""``query_mix``: the analyst and search client.

Each unit is ``PASSES`` passes over the interactive registry queries,
each in an order drawn from the seed; every query runs to the ``noop`` sink so
every column is computed. One untimed pass before the timed window
warms the plans and collects each result, which is checked against the
query's DuckDB ``ORACLE`` SQL over the same tables. The tables are the
repository's fixed read-only test data, shipped under
``perfbench/testdata``; the seed only picks the query order.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import time

from perfbench.envelope import tree_cpu_s
from perfbench.spec import QUERY_MIX
from perfbench.workloads import per_call

INPUT_KIND = None
SCALE = {"tiny": "sf0.001", "bench": "sf0.01"}
# passes per unit: the first timed pass still pays for JIT compilation
# (about a third more CPU than the second), so a unit of two keeps the
# mix of first and later passes the same in every run
PASSES = 2
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def result_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash: columns sorted by name, rows canonicalized
    and sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("|".join(cols[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return f"{len(lines)}:{h.hexdigest()[:16]}"


def input_dir(size: str) -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", SCALE[size])


def prepare(ctx) -> None:
    from data_spark.queries import QUERIES  # noqa: PLC0415

    ctx.state["hashes"] = {}
    for name in QUERY_MIX:
        tbl = QUERIES[name](ctx.spark, ctx.inputs).toArrow()
        rows = list(zip(*(c.to_pylist() for c in tbl.columns)))
        ctx.state["hashes"][name] = result_hash(tbl.column_names, rows)
    ctx.state["rng"] = random.Random(ctx.seed)
    ctx.state["plan_s"] = {}


def run_unit(ctx) -> None:
    from data_spark.queries import QUERIES  # noqa: PLC0415

    order = []
    for _ in range(PASSES):
        one_pass = list(QUERY_MIX)
        ctx.state["rng"].shuffle(one_pass)
        order += one_pass
    tr = ctx.tracer
    for name in order:
        ctx.attempted += 1
        tr.set_op(f"{name}#{ctx.attempted}")
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tr.span(f"queries.{name}.build"):
                df = QUERIES[name](ctx.spark, ctx.inputs)
            with tr.span(f"queries.{name}.exec"):
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
            ctx.failed += 1
            ctx.state.setdefault("errors", []).append(f"{name}: {type(e).__name__}: {e}")
            continue
        ctx.record("query", time.perf_counter() - t0)
        ctx.record("query_cpu", tree_cpu_s() - c0)
        if tr.enabled:
            with tr.measuring():
                # the write's planning phases land on the frame's tracker
                it = df._jdf.queryExecution().tracker().phases().values().iterator()
                plan_ms = 0
                while it.hasNext():
                    plan_ms += it.next().durationMs()
            ctx.state["plan_s"][name] = ctx.state["plan_s"].get(name, 0.0) + plan_ms / 1e3


def check(ctx) -> list[str]:
    import duckdb  # noqa: PLC0415
    from data_spark.queries import ORACLE  # noqa: PLC0415

    failures = list(ctx.state.get("errors", []))
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(ctx.inputs, t)}.parquet')")
        for name in QUERY_MIX:
            rel = con.sql(ORACLE[name])
            want = result_hash(list(rel.columns), rel.fetchall())
            got = ctx.state["hashes"][name]
            if got != want:
                failures.append(f"query_mix {name}: spark {got} != duckdb {want}")
    finally:
        con.close()
    return failures


def report(ctx) -> dict:
    measured = sum(ctx.samples["query"])
    return {
        "query_p50_s": ctx.p50("query"),
        "query_tail_s": ctx.tail("query"),
        "queries_per_min": 60.0 * len(ctx.samples["query"]) / measured,
    }


def end_to_end(ctx) -> dict:
    return ctx.cpu_metrics("query")


def layer_metrics(ctx, busy: dict) -> dict:
    """Per query, means per call of the build (the registry function,
    including any eager jobs it runs) and exec (the noop write) spans."""
    out = {}
    for name in QUERY_MIX:
        b = per_call(ctx.tracer, busy, f"queries.{name}.build")
        e = per_call(ctx.tracer, busy, f"queries.{name}.exec")
        calls = max(1.0, ctx.tracer.counters[f"queries.{name}.exec"]["calls"])
        out[f"queries.{name}.build_s"] = b["busy_s"]
        out[f"queries.{name}.exec_s"] = e["busy_s"]
        out[f"queries.{name}.plan_s"] = ctx.state["plan_s"].get(name, 0.0) / calls
        out[f"queries.{name}.jobs"] = b["jobs"] + e["jobs"]
        out[f"queries.{name}.exec_wait_s"] = b["exec_wait_s"] + e["exec_wait_s"]
    return out
