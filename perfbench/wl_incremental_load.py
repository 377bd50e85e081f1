"""``incremental_load``: writes beside reads on one versioned store.

Each batch: a seeded delta is merged with ``io.merge_versioned``
(change feed on); ``io.maintain_versioned`` runs, and
``io.vacuum_versions`` once per maintenance cycle; a downstream
consumer drains the change feed (``versioned_table`` stream source,
``read_changes=true``, ``availableNow``, ``foreachBatch`` merge into a
downstream table); then point lookups (key bloom) and range reads
(min/max stats) run through ``io.read_versioned(where=...)``.

A unit is one whole maintenance cycle, so every run passes through the
same state sequence: ``MAX_DELETE_ENTRIES + 1`` merges, the last of
which makes ``maintain_versioned`` purge the tombstones.
"""

from __future__ import annotations

import os
import random
import time

from perfbench.envelope import tree_cpu_s
from perfbench.workloads import per_call

INPUT_KIND = "versioned"
KEY = "k"
COLS = ("k", "status", "price", "note")
# maintain_versioned threshold: a purge every MAX_DELETE_ENTRIES + 1
# merges. The store's default (8) makes a 9-merge cycle, longer than a
# run can afford on a 4-core host; the policy is otherwise the default.
# At most one tombstone entry is ever live, so the regime where reads
# and merges slow down as tombstones pile up is not measured here.
MAX_DELETE_ENTRIES = 1
HISTORY_VERSIONS = 2
POINT_READS = 1
RANGE_READS = 1
RANGE_WIDTH = 40


def _walk_sizes(root: str) -> dict[str, int]:
    out = {}
    for dp, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dp, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _note_new_files(ctx) -> int:
    """Bytes of upstream files that appeared since the last call, added
    to ``created_bytes``."""
    seen = ctx.state["seen_files"]
    now = _walk_sizes(ctx.state["up"])
    new = sum(sz for p, sz in now.items() if p not in seen)
    seen.update(now)
    ctx.state["created_bytes"] += new
    return new


def _fold(ctx):
    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_spark.io import merge_versioned  # noqa: PLC0415

    def fold(batch_df, _batch_id: int) -> None:
        # one engine batch may span several commit versions: apply them in
        # order so a key's upsert/delete sequence replays faithfully
        batch_df = batch_df.localCheckpoint(eager=False)
        versions = sorted(r[0] for r in batch_df.select("_commit_version").distinct().collect())
        for v in versions:
            b = batch_df.filter(
                (F.col("_commit_version") == v)
                & F.col("_change_type").isin("insert", "update_postimage", "delete")
            )
            src = b.withColumn("is_del", F.col("_change_type") == "delete").drop(
                "_change_type", "_commit_version"
            )
            with ctx.tracer.span("io.merge_versioned.downstream"):
                merge_versioned(src, ctx.state["down"], keys=[KEY], delete_col="is_del")

    return fold


def _drain(ctx) -> None:
    q = (
        ctx.spark.readStream.format("versioned_table")
        .option("path", ctx.state["up"])
        .option("read_changes", "true")
        .option("starting_version", str(ctx.state["v0"]))
        .option("skip_change_commits", "true")
        .load()
        .writeStream.foreachBatch(_fold(ctx))
        .option("checkpointLocation", ctx.state["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("change-feed drain did not finish in 120 s")


def _rows(table) -> list[tuple]:
    """Rows of an Arrow table as ``COLS`` tuples."""
    return list(zip(*(table.column(c).to_pylist() for c in COLS)))


def _warm_store_paths(ctx, base) -> None:
    """Run every store call once on a throwaway table, so the timed
    cycle measures warm code paths rather than first-call costs."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from data_spark.io import (  # noqa: PLC0415
        branch_head,
        maintain_versioned,
        merge_versioned,
        read_versioned,
        vacuum_versions,
        write_versioned,
    )

    warm = os.path.join(ctx.run_dir, "warm")
    write_versioned(base.filter(F.col(KEY) % 10 == 0), warm, stats_cols=[KEY], bloom_cols=[KEY])
    merge_versioned(
        ctx.spark.read.parquet(os.path.join(ctx.inputs, "delta-000.parquet")), warm,
        keys=[KEY], delete_col="is_del", change_feed=True,
    )
    maintain_versioned(ctx.spark, warm, max_delete_entries=0)
    vacuum_versions(warm, keep_from=branch_head(warm) - HISTORY_VERSIONS)
    read_versioned(ctx.spark, warm, where=f"{KEY} = 10").collect()
    read_versioned(ctx.spark, warm, where=f"{KEY} BETWEEN 100 AND 139").collect()


def prepare(ctx) -> None:
    import pyarrow.parquet as pq  # noqa: PLC0415

    from data_spark.io import write_versioned  # noqa: PLC0415
    from data_spark.sources.versioned_datasource import register  # noqa: PLC0415

    st = ctx.state
    st.update(
        up=os.path.join(ctx.run_dir, "up"),
        down=os.path.join(ctx.run_dir, "down"),
        ckpt=os.path.join(ctx.run_dir, "ckpt"),
        batch=0, created_bytes=0, rewrite_bytes=0, delta_bytes=0,
        seen_files={}, expected={}, merge_jobs=[], maint=[],
        rng=random.Random(ctx.seed), files_kept=[],
    )
    base = ctx.spark.read.parquet(os.path.join(ctx.inputs, "base.parquet"))
    _warm_store_paths(ctx, base)
    st["v0"] = write_versioned(base, st["up"], stats_cols=[KEY], bloom_cols=[KEY])
    write_versioned(base.limit(0), st["down"])
    register(ctx.spark)
    _drain(ctx)  # the consumer's bootstrap: the base snapshot as inserts
    _note_new_files(ctx)
    st["created_bytes"] = 0
    st["expected"] = {r[0]: r for r in _rows(pq.read_table(os.path.join(ctx.inputs, "base.parquet")))}
    st["max_key"] = max(st["expected"])


def _apply_expected(ctx, delta_path: str) -> None:
    import pyarrow.parquet as pq  # noqa: PLC0415

    exp = ctx.state["expected"]
    delta = pq.read_table(delta_path)
    for row, is_del in zip(_rows(delta), delta.column("is_del").to_pylist()):
        if is_del:
            exp.pop(row[0], None)
        else:
            exp[row[0]] = row
        ctx.state["max_key"] = max(ctx.state["max_key"], row[0])


def _batch(ctx) -> None:
    from data_spark.io import (  # noqa: PLC0415
        branch_head,
        maintain_versioned,
        merge_versioned,
        read_versioned,
        vacuum_versions,
    )

    st, tr = ctx.state, ctx.tracer
    b = st["batch"]
    st["batch"] += 1
    delta_path = os.path.join(ctx.inputs, f"delta-{b:03d}.parquet")
    if not os.path.exists(delta_path):
        raise RuntimeError(f"the inputs hold {b} delta batches; run fewer --seconds")
    st["delta_bytes"] += os.path.getsize(delta_path)
    tr.set_op(f"batch{b}")
    ctx.attempted += 1
    c_iter = tree_cpu_s()
    t_iter = time.perf_counter()
    bookkeeping = 0.0
    t0 = time.perf_counter()
    with tr.span("io.merge_versioned") as span:
        merge_versioned(
            ctx.spark.read.parquet(delta_path), st["up"], keys=[KEY],
            delete_col="is_del", change_feed=True,
        )
    t_commit = time.perf_counter()
    if span is not None:
        st["merge_jobs"].append(span.get("jobs", 0))
    _note_new_files(ctx)
    t1 = time.perf_counter()
    with tr.span("io.maintain_versioned"):
        rep = maintain_versioned(ctx.spark, st["up"], max_delete_entries=MAX_DELETE_ENTRIES)
    t2 = time.perf_counter()
    rewrote = _note_new_files(ctx)
    st["rewrite_bytes"] += rewrote
    st["maint"].append(rep)
    t3 = time.perf_counter()
    if rep["purged"] is not None or rep["collapsed"] is not None:
        with tr.span("io.vacuum_versions"):
            vacuum_versions(st["up"], keep_from=branch_head(st["up"]) - HISTORY_VERSIONS)
    t4 = time.perf_counter()
    # the file walks between the calls are bookkeeping, not batch time
    ctx.record("batch", (t_commit - t0) + (t2 - t1) + (t4 - t3))
    _apply_expected(ctx, delta_path)
    t5 = time.perf_counter()
    bookkeeping += (t1 - t_commit) + (t3 - t2) + (t5 - t4)
    with tr.span("sources.versioned_table.drain"):
        _drain(ctx)
    # commit return -> downstream visible: maintenance, vacuum and the drain
    ctx.record("cdc_lag", (t2 - t1) + (t4 - t3) + (time.perf_counter() - t5))

    rng = st["rng"]
    keys = sorted(st["expected"])
    for i in range(POINT_READS + RANGE_READS):
        if i < POINT_READS:
            k = keys[rng.randrange(len(keys))] if rng.random() < 0.8 else st["max_key"] + 1
            where, lo, hi = f"{KEY} = {k}", k, k
        else:
            lo = rng.randrange(st["max_key"])
            hi = lo + RANGE_WIDTH - 1
            where = f"{KEY} BETWEEN {lo} AND {hi}"
        ctx.attempted += 1
        t0 = time.perf_counter()
        with tr.span("io.read_versioned"):
            df = read_versioned(ctx.spark, st["up"], where=where)
            rows = df.collect()
        t_read = time.perf_counter()
        ctx.record("read", t_read - t0)
        got = sorted(tuple(r[c] for c in COLS) for r in rows)
        want = sorted(v for kk, v in st["expected"].items() if lo <= kk <= hi)
        if got != want:
            ctx.failed += 1
            st.setdefault("errors", []).append(f"read {where!r} after batch {b}: {len(got)} rows != {len(want)} expected")
        if tr.enabled:
            with tr.measuring():
                live = len(read_versioned(ctx.spark, st["up"]).inputFiles())
                st["files_kept"].append(len(df.inputFiles()) / max(1, live))
        bookkeeping += time.perf_counter() - t_read
    # one client iteration: the delta submitted, maintained, consumed
    # downstream and read back
    ctx.record("iteration", time.perf_counter() - t_iter - bookkeeping)
    ctx.record("iteration_cpu", tree_cpu_s() - c_iter)


def run_unit(ctx) -> None:
    for _ in range(MAX_DELETE_ENTRIES + 1):
        _batch(ctx)


def _table_rows(ctx, path: str) -> list[tuple]:
    from data_spark.io import read_versioned  # noqa: PLC0415

    return sorted(_rows(read_versioned(ctx.spark, path).select(*COLS).toArrow()))


def check(ctx) -> list[str]:
    from data_spark.io import read_versioned  # noqa: PLC0415

    st = ctx.state
    failures = list(st.get("errors", []))
    want = sorted(st["expected"].values())
    up = _table_rows(ctx, st["up"])
    if up != want:
        failures.append(f"incremental_load: upstream head ({len(up)} rows) != last-writer-wins fold of the deltas ({len(want)} rows)")
    down = _table_rows(ctx, st["down"])
    if down != up:
        failures.append(f"incremental_load: downstream ({len(down)} rows) != upstream head ({len(up)} rows)")
    purges = [i for i, r in enumerate(st["maint"]) if r["purged"] is not None]
    if not purges:
        failures.append("incremental_load: no maintenance purge ran")
    # space amplification: the upstream table on disk against its head
    # written once as plain parquet
    plain = os.path.join(ctx.run_dir, "head_plain")
    read_versioned(ctx.spark, st["up"]).write.mode("overwrite").parquet(plain)
    st["space_amp"] = sum(_walk_sizes(st["up"]).values()) / max(1, sum(
        sz for p, sz in _walk_sizes(plain).items() if p.endswith(".parquet")
    ))
    return failures


def report(ctx) -> dict:
    st = ctx.state
    return {
        "batch_p50_s": ctx.p50("batch"),
        "batch_tail_s": ctx.tail("batch"),
        "cdc_lag_p50_s": ctx.p50("cdc_lag"),
        "read_p50_s": ctx.p50("read"),
        "read_tail_s": ctx.tail("read"),
        "write_amp": st["created_bytes"] / max(1, st["delta_bytes"]),
        "space_amp": st["space_amp"],
    }


def end_to_end(ctx) -> dict:
    return ctx.cpu_metrics("iteration")


def layer_metrics(ctx, busy: dict) -> dict:
    st, tr = ctx.state, ctx.tracer
    out = {}
    m = per_call(tr, busy, "io.merge_versioned")
    out.update({f"io.merge_versioned.{k}": m[k] for k in ("busy_s", "jobs", "driver_only_s")})
    out["io.merge_versioned.jobs_max"] = max(st["merge_jobs"] or [0])
    mt = per_call(tr, busy, "io.maintain_versioned")
    out["io.maintain_versioned.busy_s"] = mt["busy_s"]
    out["io.maintain_versioned.cycles"] = sum(
        1 for r in st["maint"] if r["purged"] is not None or r["collapsed"] is not None
    )
    out["io.maintain_versioned.rewrite_mb"] = st["rewrite_bytes"] / 1e6
    out["io.vacuum_versions.busy_s"] = per_call(tr, busy, "io.vacuum_versions")["busy_s"]
    rd = per_call(tr, busy, "io.read_versioned")
    out["io.read_versioned.busy_s"] = rd["busy_s"]
    out["io.read_versioned.jobs"] = rd["jobs"]
    out["io.read_versioned.files_kept_ratio"] = (
        sum(st["files_kept"]) / len(st["files_kept"]) if st["files_kept"] else 0.0
    )
    dr = per_call(tr, busy, "sources.versioned_table.drain")
    out.update({f"sources.versioned_table.drain.{k}": dr[k] for k in ("busy_s", "jobs", "driver_only_s")})
    return out
