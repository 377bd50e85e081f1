"""Engine benchmark: one seeded, single-client, closed-loop workload per run.

Usage::

    python3 perfbench/run.py --workload {elt_batch,incremental_load,query_mix}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed``
before any timed region and cached under ``.perfbench/``, where every
file the run writes also lives; ``query_mix`` reads the fixed tables
under ``perfbench/testdata`` and takes only its query order from the
seed. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (spans are written to ``.perfbench/trace-<workload>-s<seed>.json``).
Lines before it carry the run envelope and the workload's named
metrics. Exits non-zero when an output check fails, and without a
result line when the engine package is missing. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SHUFFLE_PARTITIONS = 16
WARMUP_REPS = 3


def _emit(tag: str, obj) -> None:
    print(f"{tag} {json.dumps(obj, sort_keys=True)}", flush=True)


def _pin_environment(nproc: int) -> None:
    """Keep every file the engine writes inside the checkout, and pin the
    core count the way the repository's test lane does."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    # a small driver heap: the host is shared and the inputs are small
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    ).strip()
    # Python workers (UDFs, Python data sources) import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


def stop_engine(spark) -> None:
    """Stop the session, then the JVM it launched and the Python workers
    under it, and wait for all of them."""
    from pyspark import SparkContext  # noqa: PLC0415

    from perfbench.envelope import descendants  # noqa: PLC0415

    # (pid, start time): a pid reused after its process exited is not ours
    children = [(p, _start_time(p)) for p in descendants(os.getpid())]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin reaches EOF
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # the JVM's Python workers exit once it is gone; give them 30 s
    alive = _wait_gone(children, 30.0)
    for pid, _ in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(alive, 10.0)


def _start_time(pid: int) -> str | None:
    """Start time (clock ticks after boot) of a running ``pid``, or None
    once it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields[19]


def _wait_gone(procs: list[tuple[int, str | None]], timeout_s: float) -> list:
    """Poll until none of ``procs`` runs; returns those still running."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [(p, t) for p, t in procs if t is not None and _start_time(p) == t]
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)


def warmup(spark, path: str) -> None:
    """Small fixed engine warm-up: a shuffle aggregate, a parquet round
    trip and the noop sink the timed queries use."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    df = spark.range(0, 20_000, numPartitions=4).select("id", (F.col("id") % 97).alias("g"))
    df.groupBy("g").agg(F.sum("id")).collect()
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).filter(F.col("g") == 3).write.format("noop").mode("overwrite").save()


def main(argv: list[str] | None = None) -> int:
    from perfbench.spec import END_TO_END, REPORT, WORKLOADS, layer_metrics  # noqa: PLC0415

    ap = argparse.ArgumentParser(description="engine benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("tiny", "bench"), default="bench",
                    help="input size; tiny is for the smoke test")
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    _pin_environment(nproc)
    try:
        import data_spark  # noqa: F401, PLC0415
        from data_spark.session import get_spark  # noqa: PLC0415
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import gen, workloads  # noqa: PLC0415
    from perfbench.envelope import envelope, peak_rss_mb, tree_cpu_s  # noqa: PLC0415
    from perfbench.spans import Tracer  # noqa: PLC0415

    wl = workloads.get(args.workload)
    if wl.INPUT_KIND is None:
        # fixed read-only tables shipped with the benchmark
        inputs, gen_s = wl.input_dir(args.size), 0.0
    else:
        inputs, gen_s = gen.ensure(os.path.join(WORK, "inputs"), wl.INPUT_KIND, args.seed, args.size)
    print(f"generate_s {gen_s:.3f}", flush=True)

    run_dir = os.path.join(WORK, f"run-{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        c_setup = tree_cpu_s()
        t_setup = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench", shuffle_partitions=SHUFFLE_PARTITIONS)
        start_s = time.perf_counter() - t_setup
        spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(spark)
        warm = []
        for i in range(WARMUP_REPS):
            with tracer.span("session.warmup"):
                t0 = time.perf_counter()
                warmup(spark, os.path.join(run_dir, f"warmup-{i}"))
                warm.append(time.perf_counter() - t0)
        # CPU seconds of the session start and warm-ups: JVM start-up work
        # (class loading, JIT, the first jobs' code generation) without the
        # time a shared host's other tenants take from it
        setup_s = tree_cpu_s() - c_setup
        setup_wall_s = time.perf_counter() - t_setup
        env = envelope(spark, ROOT, nproc)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

        ctx = workloads.Context(
            spark=spark, tracer=tracer, inputs=inputs, run_dir=run_dir, seed=args.seed,
        )
        t0 = time.perf_counter()
        wl.prepare(ctx)
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        unit_cpu_s = []
        while not unit_cpu_s or time.perf_counter() - t0 < args.seconds:
            c0 = tree_cpu_s()
            with tracer.span(f"bench.{args.workload}.unit", layer=False):
                wl.run_unit(ctx)
            unit_cpu_s.append(round(tree_cpu_s() - c0, 2))
        measured_s = time.perf_counter() - t0
        failures = wl.check(ctx)
        report = wl.report(ctx)
        e2e = wl.end_to_end(ctx)
        attempted, failed = ctx.attempted, ctx.failed + len(failures)
        report["setup_wall_s"] = setup_wall_s
        report["error_rate"] = failed / max(1, attempted)

        env["loadavg_end"] = os.getloadavg()
        env.update(
            workload=args.workload, seed=args.seed, trace=args.trace, unit_cpu_s=unit_cpu_s,
            measured_s=round(measured_s, 3), prepare_s=round(prepare_s, 3),
            get_spark_s=round(start_s, 3), warmup_s=[round(w, 3) for w in warm],
            samples=ctx.sample_counts(), tails=ctx.tail_labels,
        )
        _emit("envelope", env)
        for msg in failures:
            print(f"CHECK FAILED: {msg}", file=sys.stderr)
        _emit("report", {k: {"value": report[k], "unit": u} for k, u in REPORT[args.workload].items()})

        if args.trace:
            busy = tracer.layer_self_times()
            values = wl.layer_metrics(ctx, busy)
            values["session.get_spark.busy_s"] = busy.get("session.get_spark", 0.0)
            values["session.warmup.busy_s"] = busy.get("session.warmup", 0.0) / WARMUP_REPS
            values["session.peak_rss_mb"] = peak_rss_mb(jvm_pid)
            values["trace.overhead_s"] = tracer.overhead_s
            values["trace.coverage"] = tracer.coverage()
            tracer.dump(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"))
            metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
                       for k, u in layer_metrics(args.workload).items()}
        else:
            e2e["setup_s"] = setup_s
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        result = {"correct": not failures and ctx.failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
    finally:
        tracer.detach()
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
