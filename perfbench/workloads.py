"""The three workloads. Each has one client in a closed loop: it sends
its next operation only when the previous one has returned.

A workload module exposes ``INPUT_KIND`` (a ``gen.py`` kind, or None
with an ``input_dir(size)`` of fixed tables) and ``prepare``,
``run_unit``, ``check``, ``report``, ``end_to_end`` and
``layer_metrics``, all taking the shared :class:`Context`. Only
``run_unit`` is timed.
"""

from __future__ import annotations

import importlib
import statistics
from collections import defaultdict
from dataclasses import dataclass, field


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def tail(values: list[float]) -> tuple[float, str]:
    """The highest of p99/p95/p90/p75/p50 with at least 10 samples above
    it, else the maximum; returns the value and which it is."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return percentile(values, p), f"p{p}"
    return max(values), "max"


@dataclass
class Context:
    spark: object
    tracer: object
    inputs: str
    run_dir: str
    seed: int
    attempted: int = 0
    failed: int = 0
    samples: dict = field(default_factory=lambda: defaultdict(list))
    state: dict = field(default_factory=dict)
    tail_labels: dict = field(default_factory=dict)

    def record(self, kind: str, seconds: float) -> None:
        self.samples[kind].append(seconds)

    def sample_counts(self) -> dict:
        return {k: len(v) for k, v in self.samples.items()}

    def p50(self, kind: str) -> float:
        return statistics.median(self.samples[kind])

    def mean(self, kind: str) -> float:
        return statistics.fmean(self.samples[kind])

    def cpu_metrics(self, kind: str) -> dict:
        """The end-to-end CPU metric over the ``<kind>_cpu`` samples."""
        return {"cpu_per_op_s": self.mean(f"{kind}_cpu")}

    def tail(self, kind: str) -> float:
        value, label = tail(self.samples[kind])
        self.tail_labels[kind] = f"{label} of {len(self.samples[kind])}"
        return value


def per_call(tracer, busy: dict, name: str) -> dict:
    """A layer function's counters as means per call, with ``busy_s``
    (its summed self time) alongside."""
    c = tracer.counters[name]
    calls = max(1.0, c["calls"])
    out = {k: v / calls for k, v in c.items() if k != "calls"}
    out["busy_s"] = busy.get(name, 0.0) / calls
    out["calls"] = c["calls"]
    return out


_MODULES = {
    "elt_batch": "perfbench.wl_elt_batch",
    "incremental_load": "perfbench.wl_incremental_load",
    "query_mix": "perfbench.wl_query_mix",
}


def get(name: str):
    return importlib.import_module(_MODULES[name])
