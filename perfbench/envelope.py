"""Run envelope: what ran, on what, and how loaded the host was."""

from __future__ import annotations

import hashlib
import os
import subprocess
import time
from concurrent.futures import ThreadPoolExecutor


def _hash_unit() -> None:
    # hashlib releases the GIL on large buffers, so threads run in parallel
    h = hashlib.sha256()
    b = b"x" * 65536
    for _ in range(200):
        h.update(b)


def delivered_cores(threads: int, seconds: float = 0.25) -> float:
    """Parallel sha256 throughput over single-thread throughput: about
    ``threads`` on an idle host, less under contention."""

    def rate(n: int) -> float:
        done, t0 = 0, time.perf_counter()
        with ThreadPoolExecutor(max_workers=n) as ex:
            while time.perf_counter() - t0 < seconds:
                list(ex.map(lambda _: _hash_unit(), range(n)))
                done += n
        return done / (time.perf_counter() - t0)

    return rate(threads) / rate(1)


def git_commit(root: str) -> str:
    """The checkout's commit: ``git rev-parse`` where it is a git
    repository, else ``unknown``."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def envelope(spark, root: str, nproc: int) -> dict:
    import pyspark  # noqa: PLC0415

    sc = spark.sparkContext
    jvm = sc._jvm
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "nproc": nproc,
        "delivered_cores": round(delivered_cores(nproc), 2),
        "loadavg_start": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "commit": git_commit(root),
    }


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water resident set of this process plus the driver JVM."""

    def hwm(pid) -> float:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    return hwm("self") + (hwm(jvm_pid) if jvm_pid else 0.0)


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime + stime + cutime + cstime in clock ticks)."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[1] is ppid; utime, stime, cutime, cstime are 11..14
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return procs


def descendants(root: int, procs: dict | None = None) -> list[int]:
    """Live descendants of ``root``."""
    procs = _proc_table() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant: live processes' own time plus what their reaped children
    left in ``cutime``/``cstime``. Time the hypervisor stole is not in
    it, so it moves with the work done rather than with host load."""
    procs = _proc_table()
    me = os.getpid()
    ticks = sum(procs[p][1] for p in [me, *descendants(me, procs)] if p in procs)
    return ticks / os.sysconf("SC_CLK_TCK")
