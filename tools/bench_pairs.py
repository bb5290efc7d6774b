#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts, judged by the paired-run rule.

Usage:
    python3 tools/bench_pairs.py BASE CHANGE --workload vector_probe \
        --pairs 10 --first-seed 401

BASE and CHANGE are two source checkouts (for example the parent commit and
the change, each extracted with `git archive`). Pair i runs
`python3 perfbench/run.py --workload W --seed S --trace 0` once in each
checkout with the same seed S = first_seed + i; the side that runs first
alternates from pair to pair. Each checkout builds and caches its own
benchmark under its own `.bench_build/`.

The claimed metric is `op_p50_s` (lower is better). Printed: every pair's
values of it, each side's median and quartiles, the change's wins (ties count
for neither side), and whether the claim passes the rule: the change wins at
least nine tenths of all pairs, the medians differ, in the better direction,
by more than the distance between the base's quartiles, and the change fails
no larger share of its operations than the base. Then, for every end-to-end
metric of BENCHMARK.json, both medians and the relative change against its bound.
Exits 1 when the claim fails or any run reported incorrect outputs.
"""

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

METRIC = "op_p50_s"  # the claimed metric; lower is better


def run_once(checkout, workload, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"bench_pairs: {checkout} seed {seed} failed (exit {out.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, required=True)
    a = ap.parse_args()

    with open(os.path.join(a.base, "BENCHMARK.json")) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}

    runs = {"base": [], "change": []}
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            res = run_once(getattr(a, side), a.workload, seed)
            res["seed"] = seed
            runs[side].append(res)
        b, c = (runs[s][-1]["metrics"][METRIC]["value"] for s in ("base", "change"))
        print(f"pair {i + 1} seed {seed} ({order[0]} first): "
              f"base {b:.4g} change {c:.4g}", flush=True)

    incorrect = [(s, r["seed"]) for s in runs for r in runs[s] if not r["correct"]]
    vals = {s: [r["metrics"][METRIC]["value"] for r in runs[s]] for s in runs}
    wins = sum(c < b for b, c in zip(vals["base"], vals["change"]))
    ties = sum(b == c for b, c in zip(vals["base"], vals["change"]))
    bq, cq = quartiles(vals["base"]), quartiles(vals["change"])
    gain = bq[1] - cq[1]
    spread = bq[2] - bq[0]
    failed = {s: sum(r["failed"] for r in runs[s]) for s in runs}
    attempted = {s: sum(r["attempted"] for r in runs[s]) for s in runs}
    # the change's failed share must not exceed the base's (cross-multiplied)
    passed = (wins >= math.ceil(0.9 * a.pairs) and gain > spread and
              failed["change"] * attempted["base"] <= failed["base"] * attempted["change"])
    unit = spec[METRIC]["unit"]
    for side, q in (("base", bq), ("change", cq)):
        print(f"{side}: {METRIC} median {q[1]:.4g} {unit} (quartiles {q[0]:.4g}-{q[2]:.4g})")
    print(f"change wins {wins}/{a.pairs} pairs ({ties} ties); median gain {gain:.4g} "
          f"({gain / bq[1]:.1%} of base) vs base quartile spread {spread:.4g}: "
          f"{'PASS' if passed else 'FAIL'}")

    print("end-to-end medians (change vs base, bound):")
    for name, m in spec.items():
        b = statistics.median(r["metrics"][name]["value"] for r in runs["base"])
        c = statistics.median(r["metrics"][name]["value"] for r in runs["change"])
        worse = ((c - b) if m["better"] == "lower" else (b - c)) / b if b else 0.0
        verdict = "worse beyond bound" if worse > m["bound"] else "within bound"
        print(f"  {name}: base {b:.4g} change {c:.4g} {m['unit']} "
              f"({(c - b) / b if b else 0.0:+.1%}, bound {m['bound']:.0%}: {verdict})")
    print(f"failed operations: base {failed['base']}/{attempted['base']}, "
          f"change {failed['change']}/{attempted['change']}")
    if incorrect:
        print(f"incorrect outputs: {incorrect}")
    sys.exit(0 if passed and not incorrect else 1)


if __name__ == "__main__":
    main()
