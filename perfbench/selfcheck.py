"""Steadiness self-check: `python3 perfbench/run.py --selfcheck`.

For every workload in BENCHMARK.json it makes two sets of untraced runs
of the same code (seeds 1..N, then N+1..2N) and prints, per end-to-end
metric, each set's spread, the spread of all 2N runs (interquartile range over median, the way
`statistics.quantiles(values, n=4)` gives the quartiles) and how far the
second set's median moved in the worse direction, both against the
metric's bound. Then it makes one traced run per workload and prints the
tracing overhead: the traced run's end-to-end figures against the first
set's medians. Exit code 0 when every spread and every shift is within
its bound, `setup_s`'s too.
"""

import json
import os
import statistics
import subprocess
import sys

import run


def invoke(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=run.ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    if p.returncode != 0 or not last.startswith("{"):
        raise run.BenchError("%s seed %d failed (exit %d)" % (workload, seed, p.returncode))
    with open(os.path.join(run.WORK, "last_result.json")) as f:
        return json.load(f)["end_to_end"]


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(runs, seconds):
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ok = True
    record = {}
    for w in (x["name"] for x in bench["workloads"]):
        sets = [[invoke(w, seed, seconds, 0) for seed in range(k * runs + 1, (k + 1) * runs + 1)]
                for k in range(2)]
        traced = invoke(w, 1, seconds, 1)
        record[w] = {"sets": sets, "traced": traced}
        with open(os.path.join(run.WORK, "selfcheck.json"), "w") as f:
            json.dump(record, f, indent=1)
        print("== %s: %d runs per set, %ss" % (w, runs, seconds))
        print("  %-20s %6s %10s %8s %8s %8s %8s %10s" % (
            "metric", "bound", "median", "spread1", "spread2", "spread", "shift", "overhead"))
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r[name] for r in s] for s in sets]
            med = [statistics.median(v) for v in vals]
            sp = [spread(v) for v in vals]
            both = spread(vals[0] + vals[1])
            sign = 1 if m["better"] == "lower" else -1
            shift = sign * (med[1] - med[0]) / med[0]
            overhead = sign * (traced[name] - med[0]) / med[0]
            bad = shift > bound or max(sp + [both]) > bound
            ok = ok and not bad
            print("  %-20s %6.3f %10.4f %8.4f %8.4f %8.4f %8.4f %10.4f%s" % (
                name, bound, statistics.median(vals[0] + vals[1]), sp[0], sp[1], both,
                shift, overhead, "  OVER BOUND" if bad else ""))
    return 0 if ok else 1
