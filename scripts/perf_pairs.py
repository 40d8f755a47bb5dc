#!/usr/bin/env python3
"""Interleaved A/B pairs of one perfbench workload between two checkouts.

    python3 scripts/perf_pairs.py <checkoutA> <checkoutB> <workload> <seed>...

A is the parent, B the change. For each seed it runs
`perfbench/run.py --workload W --seed S --seconds 16 --trace 0` once in
each checkout, alternating which side goes first (A first on the 1st,
3rd, ... seed). Each run's result line goes to stderr as it finishes.
Then, for every end-to-end metric of A's BENCHMARK.json, it prints each
side's median and quartiles, how many pairs B won (ties count for
neither), and the verdict: B is better only if it won at least nine
tenths of the pairs and the medians differ by more than A's
interquartile range.
"""
import json
import statistics
import subprocess
import sys
from pathlib import Path

SECONDS = 16


def run(checkout: Path, workload: str, seed: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.exit(f"perf_pairs: {checkout} seed {seed} failed (exit {p.returncode})")
    return json.loads(lines[-1])


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> int:
    if len(sys.argv) < 5:
        sys.exit(__doc__)
    a, b = Path(sys.argv[1]).resolve(), Path(sys.argv[2]).resolve()
    workload, seeds = sys.argv[3], [int(s) for s in sys.argv[4:]]
    metrics = json.loads((a / "BENCHMARK.json").read_text())["end_to_end"]
    res = {"A": [], "B": []}
    for i, seed in enumerate(seeds):
        order = [("A", a), ("B", b)] if i % 2 == 0 else [("B", b), ("A", a)]
        for side, checkout in order:
            r = run(checkout, workload, seed)
            res[side].append(r)
            vals = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                            for m in metrics)
            print(f"seed {seed} {side}: correct={r['correct']} failed={r['failed']}"
                  f"/{r['attempted']} {vals}", file=sys.stderr, flush=True)

    n = len(seeds)
    print(f"{workload}: {n} pairs, A = {a}, B = {b}")
    print(f"{'metric':18s} {'A median [q1, q3]':>28s} {'B median [q1, q3]':>28s}"
          f" {'B wins':>7s}  verdict")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        xa = [r["metrics"][name]["value"] for r in res["A"]]
        xb = [r["metrics"][name]["value"] for r in res["B"]]
        qa, qb = quartiles(xa), quartiles(xb)
        wins = sum((vb < va) if lower else (vb > va) for va, vb in zip(xa, xb))
        losses = sum((vb > va) if lower else (vb < va) for va, vb in zip(xa, xb))
        gap, iqr = qb[1] - qa[1], qa[2] - qa[0]
        if wins >= 0.9 * n and abs(gap) > iqr and (gap < 0) == lower and gap != 0:
            verdict = "B better"
        elif losses >= 0.9 * n and abs(gap) > iqr and gap != 0:
            verdict = "B worse"
        else:
            verdict = "no claim"
        def fmt(q):
            return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
        print(f"{name:18s} {fmt(qa):>28s} {fmt(qb):>28s} {wins:>4d}/{n:<2d}  {verdict}"
              f" (gap {gap:+.4g}, A IQR {iqr:.4g})")
    ok = all(r["correct"] and r["failed"] == 0 for side in res.values() for r in side)
    print(f"every run correct with 0 failed: {ok}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
