"""Interleaved A/B between two code trees: registry queries or perfbench.

    python tools/ab_interleaved.py --a /tmp/wt_r13_base --b /root/repo \
        [--sf DIR] [--reps N] [--rounds K] query [query ...]

Alternates A and B subprocess runs of ``tools/profile_query.py`` (each a
fresh JVM) inside the same host window, so host drift hits both sides
equally (the r12 discipline; README "Bench environment variance").
Reports per side: min of the per-round min-warm values, plus every raw
round, and the first round's jobs/run. Output JSON on stdout.

    python tools/ab_interleaved.py --a PARENT --b CHANGE \
        --perfbench query_mix,incremental_load --seeds 701-710 [--seconds 5] \
        [--fresh-archive]

Perfbench mode: for each seed and workload, one ``perfbench/run.py
--trace 0`` run in each checkout, A first on the even-indexed seeds
(the first, third, ...) and B first on the others (A is the parent).
Prints a markdown table per workload: for every end-to-end and report
metric, each side's median and quartiles, how many of all the pairs run
B won (higher is better for a rate, a unit ``1/...``, lower for every
other metric; ties count for neither side, and so does a pair in which
either run printed no result) and whether the gap between the medians
exceeds A's interquartile range, then every run and the pairs that
produced no result. ``--fresh-archive`` deletes B's class-data-sharing
archives (perfbench's ``.perfbench/tmp/data_spark-cds``) before each of
B's runs, so every B run is one that builds the archive.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

LINE = re.compile(
    r"^(\S+)\s+cold=\s*([0-9.]+)\s+warm_min=\s*([0-9.]+)\s+"
    r"warm_med=\s*([0-9.]+)\s+jobs/run~(\d+)", re.M
)


def run_side(root: str, sf: str | None, reps: int, names: list[str]) -> dict:
    sf_args = ["--sf", sf] if sf else []  # profile_query.py's own default otherwise
    out = subprocess.run(
        [sys.executable, "tools/profile_query.py", *sf_args, "--reps", str(reps)]
        + names,
        cwd=root, capture_output=True, text=True, timeout=3600,
    )
    res = {}
    for m in LINE.finditer(out.stdout):
        res[m.group(1)] = {
            "cold": float(m.group(2)), "warm_min": float(m.group(3)),
            "warm_med": float(m.group(4)), "jobs": int(m.group(5)),
        }
    if not res:
        print(out.stdout[-2000:], file=sys.stderr)
        print(out.stderr[-2000:], file=sys.stderr)
    return res


def query_ab(a_root: str, b_root: str, sf: str | None, reps: int, rounds: int, names: list[str]) -> None:
    rounds_out = {"a": [], "b": []}
    for r in range(rounds):
        for side, root in (("a", a_root), ("b", b_root)):
            res = run_side(root, sf, reps, names)
            rounds_out[side].append(res)
            print(
                f"round {r} side {side}: "
                + " ".join(f"{n}={res.get(n, {}).get('warm_min')}" for n in names),
                file=sys.stderr,
            )
    summary = {}
    for n in names:
        s = {}
        for side in ("a", "b"):
            vals = [rr[n]["warm_min"] for rr in rounds_out[side] if n in rr]
            colds = [rr[n]["cold"] for rr in rounds_out[side] if n in rr]
            jobs = [rr[n]["jobs"] for rr in rounds_out[side] if n in rr]
            s[side] = {
                "warm_min": min(vals) if vals else None,
                "cold_min": min(colds) if colds else None,
                "jobs": jobs[0] if jobs else None,
                "raw": vals,
            }
        if s["a"]["warm_min"] and s["b"]["warm_min"]:
            s["speedup_warm"] = round(s["a"]["warm_min"] / s["b"]["warm_min"], 3)
        summary[n] = s
    print(json.dumps(summary, indent=1))


def perfbench_run(root: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py`` run in ``root``: its end-to-end and report
    metrics by name, the names of those that are rates, and whether its
    checks passed."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True, timeout=3600,
    )
    lines = out.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        print(out.stdout[-2000:] + out.stderr[-2000:], file=sys.stderr)
        return {"ok": False, "metrics": {}, "rates": []}
    found = dict(result["metrics"])
    for line in lines:
        if line.startswith("report "):
            found.update(json.loads(line[len("report "):]))
    return {"ok": result["correct"] and result["failed"] == 0,
            "metrics": {k: v["value"] for k, v in found.items()},
            "rates": [k for k, v in found.items() if v["unit"].startswith("1/")]}


def _quartiles(v: list[float]) -> list[float]:
    """q1, median, q3 (one value is its own quartiles)."""
    return statistics.quantiles(v, n=4, method="inclusive") if len(v) > 1 else v * 3


def perfbench_table(workload: str, pairs: list[dict]) -> str:
    """Markdown summary and per-run rows of one workload's pairs. Medians
    and quartiles come from the pairs in which both runs printed a result;
    wins and passed checks are counted out of every pair run."""
    run = len(pairs)
    passed = {s: sum(p[s]["ok"] for p in pairs) for s in "ab"}
    dropped = [p for p in pairs if not (p["a"]["metrics"] and p["b"]["metrics"])]
    pairs = [p for p in pairs if p not in dropped]
    if not pairs:
        return f"**{workload}**: no pair of {run} produced metrics on both sides"
    names = [n for n in pairs[0]["a"]["metrics"] if n != "error_rate"]
    rows = [
        f"**{workload}** ({run} pairs, {len(dropped)} without a result; A = parent, "
        f"B = change; checks passed A {passed['a']}/{run}, B {passed['b']}/{run})",
        "",
        "| metric | A median [q1, q3] | B median [q1, q3] | B/A | B wins | gap > A IQR |",
        "|---|---|---|---|---|---|",
    ]
    for n in names:
        a = [p["a"]["metrics"][n] for p in pairs]
        b = [p["b"]["metrics"][n] for p in pairs]
        a1, am, a3 = _quartiles(a)
        b1, bm, b3 = _quartiles(b)
        sign = -1 if n in pairs[0]["a"]["rates"] else 1
        wins = sum(sign * (y - x) < 0 for x, y in zip(a, b))
        ratio = f"{bm / am:.3f}" if am else "-"
        rows.append(
            f"| `{n}` | {am:.4g} [{a1:.4g}, {a3:.4g}] | {bm:.4g} [{b1:.4g}, {b3:.4g}] "
            f"| {ratio} | {wins}/{run} | {'yes' if abs(bm - am) > a3 - a1 else 'no'} |"
        )
    rows += ["", "| seed | order | " + " | ".join(f"`{n}` A / B" for n in names) + " |",
             "|---|---|" + "---|" * len(names)]
    for p in pairs:
        cells = [f"{p['a']['metrics'][n]:.4g} / {p['b']['metrics'][n]:.4g}" for n in names]
        rows.append(f"| {p['seed']} | {p['order']} | " + " | ".join(cells) + " |")
    for p in dropped:
        sides = ", ".join(s.upper() for s in "ab" if not p[s]["metrics"])
        rows.append(f"| {p['seed']} | {p['order']} | no result from {sides} |")
    return "\n".join(rows)


def perfbench_ab(a_root: str, b_root: str, workloads: list[str], seeds: list[int],
                 seconds: float, fresh_archive: bool = False) -> None:
    roots = {"a": a_root, "b": b_root}
    pairs: dict[str, list[dict]] = {w: [] for w in workloads}
    for i, seed in enumerate(seeds):
        order = "ab" if i % 2 == 0 else "ba"
        for w in workloads:
            pair = {"seed": seed, "order": order.upper()}
            for side in order:
                if side == "b" and fresh_archive:
                    shutil.rmtree(os.path.join(b_root, ".perfbench", "tmp", "data_spark-cds"),
                                  ignore_errors=True)
                pair[side] = run = perfbench_run(roots[side], w, seed, seconds)
                print(f"{w} seed {seed} {side}: ok={run['ok']} "
                      + " ".join(f"{k}={v:.4g}" for k, v in run["metrics"].items()),
                      file=sys.stderr, flush=True)
            pairs[w].append(pair)
    for w in workloads:
        print(perfbench_table(w, pairs[w]), end="\n\n")


def _seeds(spec: str) -> list[int]:
    """``701-710`` or ``1,5,9``."""
    if "-" in spec:
        lo, hi = map(int, spec.split("-"))
        return list(range(lo, hi + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description="interleaved A/B between two checkouts")
    ap.add_argument("--a", required=True, help="checkout A (the parent)")
    ap.add_argument("--b", required=True, help="checkout B (the change)")
    ap.add_argument("--sf", help="query mode: the data dir (default: profile_query.py's)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--perfbench", help="comma-separated perfbench workloads")
    ap.add_argument("--seeds", default="701-710")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--fresh-archive", action="store_true",
                    help="perfbench mode: delete B's class-data-sharing archives before each B run")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.perfbench:
        perfbench_ab(args.a, args.b, args.perfbench.split(","), _seeds(args.seeds),
                     args.seconds, args.fresh_archive)
    else:
        if not args.queries:
            ap.error("name at least one query, or use --perfbench")
        query_ab(args.a, args.b, args.sf, args.reps, args.rounds, args.queries)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
