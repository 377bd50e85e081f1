"""Spans and Spark counters recorded around the benchmark's calls into
the engine's layers.

A span has a name, start, end, parent span and op id. Spans are kept in
memory and written out when the run ends. ``self_times`` subtracts the
part of each span its children cover.

With a Spark session attached, every span boundary snapshots Spark's
status store: the jobs that started since the previous boundary, their
stages' executor metrics, and the wall time no job covered, are
credited to the innermost span open at the time ("self" counters).
Jobs get dense global ids, so the new jobs are the ones above the last
id seen, whichever thread or job group started them.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = (
    "calls", "busy_s", "jobs", "stages", "exec_run_s", "exec_cpu_s",
    "exec_wait_s", "shuffle_mb", "input_mb", "spill_mb", "driver_only_s",
    "failed_tasks",
)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span) minus the tracer's own probe time inside it
    (``probe_s``)."""
    children: dict[int | None, list[dict]] = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], [])
        ]
        covered = _union(kids)
        out[s["id"]] = (s["end"] - s["start"]) - covered - s.get("probe_s", 0.0)
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(lo, hi)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SparkProbe:
    """Reads new jobs and their stages from the status store (works with
    the UI disabled)."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._last_job = self._max_job_id()
        self._seen_stages: set[int] = set()

    def _max_job_id(self) -> int:
        self._bus.waitUntilEmpty(10_000)
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def collect(self, lo_ms: float, hi_ms: float, excluded_ms: float = 0.0) -> dict:
        """Counters of the jobs started since the previous call; the
        interval [lo_ms, hi_ms] is the wall window they are credited to,
        of which ``excluded_ms`` was tracer bookkeeping."""
        self._bus.waitUntilEmpty(10_000)
        jobs = self._store.jobsList(None)  # newest first
        c = dict.fromkeys(COUNTERS, 0.0)
        intervals = []
        newest = self._last_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            c["jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            start = sub.get().getTime() if sub.isDefined() else lo_ms
            end = done.get().getTime() if done.isDefined() else hi_ms
            intervals.append((max(lo_ms, start), min(hi_ms, end)))
            sids = j.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                st = self._store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["exec_run_s"] += st.executorRunTime() / 1e3
                c["exec_cpu_s"] += st.executorCpuTime() / 1e9
                c["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
                c["input_mb"] += st.inputBytes() / 1e6
                c["spill_mb"] += st.diskBytesSpilled() / 1e6
                c["failed_tasks"] += st.numFailedTasks()
        self._last_job = newest
        covered = _union(intervals)
        c["driver_only_s"] = max(0.0, (hi_ms - lo_ms - excluded_ms) - covered) / 1e3
        c["exec_wait_s"] = max(0.0, c["exec_run_s"] - c["exec_cpu_s"])
        return c


class Tracer:
    """Span recorder. Disabled, ``span`` yields ``None`` and records
    nothing, so the untraced run pays only a context manager per call.
    One stack serves every thread: a ``foreachBatch`` callback runs on
    another thread while the caller waits inside its span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._lock = threading.RLock()
        self._probe: SparkProbe | None = None
        self._mark_ms = 0.0
        self._excluded_ms = 0.0
        self._op = None

    def attach(self, spark) -> None:
        if self.enabled:
            self._probe = SparkProbe(spark)
            self._mark_ms = time.time() * 1e3

    def detach(self) -> None:
        self._probe = None

    def set_op(self, op_id) -> None:
        self._op = op_id

    def _credit(self) -> float:
        """Credit the counters since the last boundary to the innermost
        open layer span (benchmark glue spans are not credited); returns
        the probe's own time."""
        if self._probe is None:
            return 0.0
        t0 = time.perf_counter()
        c = self._probe.collect(self._mark_ms, time.time() * 1e3, self._excluded_ms)
        target = next((s for s in reversed(self._stack) if s["layer"]), None)
        if target is not None:
            target["jobs"] = target.get("jobs", 0) + int(c["jobs"])
            dst = self.counters[target["name"]]
            for k in COUNTERS:
                if k not in ("calls", "busy_s"):
                    dst[k] += c[k]
        dt = time.perf_counter() - t0
        self.overhead_s += dt
        # the probe's own time is excluded from the next window
        self._mark_ms = time.time() * 1e3
        self._excluded_ms = 0.0
        return dt

    @contextmanager
    def span(self, name: str, layer: bool = True):
        """Record one call; ``layer=False`` marks benchmark glue (an op
        or a phase), whose time is not a layer's."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            dt = self._credit()
            if self._stack:  # the probe ran inside the parent span
                self._stack[-1]["probe_s"] += dt
            rec = {
                "id": len(self.spans), "name": name, "layer": layer,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "op": self._op, "start": time.perf_counter(), "end": None,
                "probe_s": 0.0,
            }
            self.spans.append(rec)
            self._stack.append(rec)
        try:
            yield rec
        finally:
            with self._lock:
                rec["end"] = time.perf_counter()
                dt = self._credit()
                self._stack.pop()
                if self._stack:
                    self._stack[-1]["probe_s"] += dt
                if layer:
                    self.counters[name]["calls"] += 1

    @contextmanager
    def measuring(self):
        """Bookkeeping the traced run does and the untraced run does not
        (reading counters off the engine): charged like probe time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            with self._lock:
                self.overhead_s += dt
                if self._stack:
                    self._stack[-1]["probe_s"] += dt
                self._excluded_ms += dt * 1e3

    def layer_self_times(self) -> dict[str, float]:
        """Layer name -> summed self time (``busy_s``)."""
        st = self_times(self.spans)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["layer"]:
                out[s["name"]] += st[s["id"]]
        return out

    def coverage(self) -> float:
        """Share of the root spans' wall time, less the probe's own
        time, that layer self time covers."""
        wall = sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)
        probe = sum(s["probe_s"] for s in self.spans)
        busy = sum(self.layer_self_times().values())
        return busy / max(1e-9, wall - probe)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)
