#!/usr/bin/env python3
"""A/B pairs of the repo benchmark between two checkouts.

    python3 scripts/perfbench_ab.py <parent-checkout> <change-checkout> --pairs N
        [--first-seed F] [--seconds S] [--out runs.json] [--trace]

Pair i (1..N) runs `python3 perfbench/run.py --workload all --seed F+i-1`
once in each checkout (F defaults to 1; pass a seed range not used while
developing the change to re-check a claim on fresh inputs); odd pairs run
the parent first, even pairs the change first, so a drift of the host over
the session loads both sides alike. The last
line of each run's output is its JSON result.

For every workload and end-to-end metric (names and better direction from
the change checkout's BENCHMARK.json) it prints each side's median and
quartiles, how many pairs the change won, and whether the gain rule holds:
the change wins at least 9 of every 10 pairs and its median beats the
parent's by more than the parent's interquartile range. Exits nonzero if
any run failed or reported a failed check.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, seed, seconds, trace=0):
    """One `--workload all` run; returns (result dict or None, error text)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", "all",
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None, "no JSON result line (exit %d): %s" % (
            p.returncode, p.stderr.strip()[-500:])
    if p.returncode != 0 or not result.get("correct"):
        return result, "exit %d, %s of %s checks failed" % (
            p.returncode, result.get("failed"), result.get("attempted"))
    return result, None


def quartiles(xs):
    """(q1, median, q3), inclusive method; a single sample is its own."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def print_layers(parent, change, per_layer, seed):
    """Per-layer table of one traced run per side: value, change, ratio."""
    print()
    print("%-10s %-34s %14s %14s %14s %8s" % (
        "workload", "layer (traced, seed %d)" % seed, "parent", "change", "delta",
        "ratio"))
    for w in sorted(change["workloads"]):
        pm = parent["workloads"][w]["metrics"]
        cm = change["workloads"][w]["metrics"]
        for layer in per_layer:
            name = layer["name"]
            if name not in pm or name not in cm:
                continue
            p, c = pm[name]["value"], cm[name]["value"]
            ratio = "%.3f" % (c / p) if p else "-"
            print("%-10s %-34s %14.4g %14.4g %+14.4g %8s" % (
                w, name, p, c, c - p, ratio))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--first-seed", type=int, default=1,
                    help="seed of pair 1 and of the traced runs (default 1)")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", help="write every run's result here as JSON")
    ap.add_argument("--trace", action="store_true",
                    help="add one traced run per side and a per-layer table")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent),
             "change": os.path.abspath(a.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}

    runs = {"parent": [], "change": []}   # per pair: result dict or None
    failures = []
    for i in range(1, a.pairs + 1):
        seed = a.first_seed + i - 1
        order = ("parent", "change") if i % 2 else ("change", "parent")
        for side in order:
            result, err = run_once(sides[side], seed, a.seconds)
            runs[side].append(result)
            status = "ok" if err is None else "FAILED: " + err
            print("pair %d seed %d %-6s %s" % (i, seed, side, status), flush=True)
            if err is not None:
                failures.append((i, side, err))
    traced = {}
    if a.trace:
        for side in ("parent", "change"):
            result, err = run_once(sides[side], a.first_seed, a.seconds, trace=1)
            traced[side] = result
            status = "ok" if err is None else "FAILED: " + err
            print("traced seed %d %-6s %s" % (a.first_seed, side, status), flush=True)
            if err is not None:
                failures.append(("traced", side, err))
    if a.out:
        with open(a.out, "w") as f:
            json.dump(dict(runs, traced=traced), f, indent=1)

    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"])
             if p is not None and c is not None]
    workloads = sorted(pairs[0][0]["workloads"]) if pairs else []
    print()
    print("%-10s %-20s %-28s %-28s %-8s %s" % (
        "workload", "metric", "parent median [q1-q3]",
        "change median [q1-q3]", "won", "gain rule"))
    for w in workloads:
        for name, direction in better.items():
            vals = [(p["workloads"][w]["metrics"][name]["value"],
                     c["workloads"][w]["metrics"][name]["value"])
                    for p, c in pairs]
            if not vals:
                continue
            pv = [v[0] for v in vals]
            cv = [v[1] for v in vals]
            sign = -1 if direction == "lower" else 1
            wins = sum(1 for p, c in vals if sign * (c - p) > 0)
            pq1, pmed, pq3 = quartiles(pv)
            cq1, cmed, cq3 = quartiles(cv)
            gain = wins * 10 >= 9 * len(vals) and sign * (cmed - pmed) > pq3 - pq1
            print("%-10s %-20s %-28s %-28s %-8s %s" % (
                w, name,
                "%.4g [%.4g-%.4g]" % (pmed, pq1, pq3),
                "%.4g [%.4g-%.4g]" % (cmed, cq1, cq3),
                "%d/%d" % (wins, len(vals)), "holds" if gain else "no"))
    if traced.get("parent") and traced.get("change"):
        print_layers(traced["parent"], traced["change"], bench["per_layer"],
                     a.first_seed)
    for i, side, err in failures:
        print("pair %s %s: %s" % (i, side, err), file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
