#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs.

    python3 tools/bench_pairs.py <parent-dir> <change-dir> --workload W --pairs N
        [--seed-base S] [--seconds 10] [--out pairs.json]

Runs `python3 perfbench/run.py --workload W --seed S+i --seconds ... --trace 0`
in both checkouts for pair i = 0..N-1, both sides on the same seed, and
alternates which side runs first (the parent on even pairs). Each run builds
its checkout on first use (perfbench/run.py caches the build in the
checkout's .bench_build/), so the first pair also pays the builds, outside
the timed metrics. Run nothing else on the host meanwhile.

Prints, for each end-to-end metric named in the change's BENCHMARK.json: the
per-pair values, each side's median and quartiles, the median change, the
fraction of pairs the change wins (direction from the metric's "better"),
and the parent's interquartile range. Every run's `correct` and `failed` are
reported too; the script exits 1 if any run was not correct or failed an
operation.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """One untraced perfbench run; returns its final JSON object."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.exit(f"{checkout}: seed {seed} failed (exit {p.returncode}):\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs):
    """(q1, median, q3) with the inclusive method (exact for small n)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", type=pathlib.Path)
    ap.add_argument("change", type=pathlib.Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out", type=pathlib.Path, help="write every run's result as JSON")
    a = ap.parse_args()

    spec = json.loads((a.change / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed_base + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(getattr(a, side), a.workload, seed, a.seconds)
            runs[side].append(r)
            vals = " ".join(f"{k}={r['metrics'][k]['value']:.4g}" for k in metrics)
            print(f"pair {i} seed {seed} {side:6s} correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)
    if a.out:
        a.out.write_text(json.dumps({"workload": a.workload, "seed_base": a.seed_base,
                                     "runs": runs}, indent=1))

    print(f"\n{a.workload}: {a.pairs} pairs, seeds {a.seed_base}..{a.seed_base + a.pairs - 1}")
    print(f"{'metric':12s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} "
          f"{'median change':>14s} {'wins':>6s} {'parent IQR':>14s}")
    for name, m in metrics.items():
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        lower = m["better"] == "lower"
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        pq, cq = quartiles(p), quartiles(c)
        iqr = pq[2] - pq[0]
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
        print(f"{name:12s} {fmt(pq):>30s} {fmt(cq):>30s} "
              f"{(cq[1] / pq[1] - 1) * 100:+13.1f}% {wins:>3d}/{a.pairs:<2d} "
              f"{iqr:>8.4g} ({iqr / pq[1] * 100:.0f}%)")
    bad = [r for side in runs.values() for r in side if not r["correct"] or r["failed"]]
    print(f"runs not correct or with failed operations: {len(bad)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
