"""Host throughput probe: measures delivered parallel CPU (sha256 hashing, GIL-free).

Prints units/s for 1 thread and N threads, N being the engine's core count
(``SPARK_GRAFT_CPUS``, else the cores this process may run on). Delivered cores
well below N mean other tenants are using the host (see OPTIMIZATION_r12.md).
Records made before the default followed the CPU affinity (OPTIMIZATION_r12/r13,
SCALE_PROBE_r13.json, VERDICT.md) ran 32 threads; set ``SPARK_GRAFT_CPUS=32`` to
compare with them.
"""
from __future__ import annotations

import hashlib
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor


def unit() -> None:
    h = hashlib.sha256()
    b = b"x" * 65536
    for _ in range(400):
        h.update(b)


def rate(threads: int, units: int) -> float:
    t0 = time.time()
    with ThreadPoolExecutor(max_workers=threads) as ex:
        list(ex.map(lambda _: unit(), range(units)))
    return units / (time.time() - t0)


if __name__ == "__main__":
    # imported here: data_spark.session loads pyspark, which the hashing
    # itself does not need
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from data_spark.session import local_cpus

    n = local_cpus()
    r1 = rate(1, 4)
    rn = rate(n, max(64, 2 * n))
    print(f"single-thread: {r1:.1f} units/s; {n}-thread: {rn:.1f} units/s "
          f"(ideal ~{r1 * n:.0f}); delivered-cores ~{rn / r1:.1f}/{n}")
