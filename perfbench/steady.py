#!/usr/bin/env python3
"""Steadiness tool for the vector-core benchmark.

Runs each workload once per seed, for two sets of seeds, and prints for
every end-to-end metric the median, the quartiles and the spread
(interquartile distance over the median) of each set, then how far the
second set's median moved from the first's. Both are checked against the
metric's bound in BENCHMARK.json: the spread (setup_s excepted) and the
move must stay within it. With --overhead it also makes one traced run
per seed and reports the traced medians against the untraced ones.

    python3 perfbench/steady.py --workload serve_small --runs 10
    python3 perfbench/steady.py --workload ingest_lsm --runs 5 --sets 1 --overhead

By default both sets use seeds 1..runs, as a repeated measurement of the
same code; --second-seed starts the second set elsewhere.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    last = r.stdout.rstrip("\n").split("\n")[-1]
    if r.returncode != 0:
        raise SystemExit("%s seed %d failed (exit %d): %s" % (workload, seed, r.returncode, last))
    return json.loads(last)["metrics"]


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--second-seed", type=int)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    worst = 0
    for w in a.workload:
        starts = [a.first_seed, a.second_seed if a.second_seed is not None else a.first_seed][:a.sets]
        sets = []
        for start in starts:
            runs = [run(w, start + i, seconds, 0) for i in range(a.runs)]
            sets.append({k: [r[k]["value"] for r in runs] for k in bounds})
        print("%s: %d runs x %d set(s), %d s each" % (w, a.runs, a.sets, seconds))
        print("  %-14s %-4s %12s %12s %12s %8s %8s %8s" %
              ("metric", "set", "median", "q1", "q3", "spread", "bound", "verdict"))
        for k, m in bounds.items():
            for i, s in enumerate(sets):
                med, q1, q3, spread = stats(s[k])
                verdict = "-" if k == "setup_s" else (
                    "ok" if spread <= m["bound"] / 3 else "wide" if spread <= m["bound"] else "FAIL")
                worst = max(worst, 2 if verdict == "FAIL" else 0)
                print("  %-14s %-4d %12.4f %12.4f %12.4f %8.4f %8.3f %8s" %
                      (k, i + 1, med, q1, q3, spread, m["bound"], verdict))
                print("  %-14s      %s" % ("", " ".join("%.4g" % v for v in s[k])))
            if len(sets) == 2:
                m1, m2 = statistics.median(sets[0][k]), statistics.median(sets[1][k])
                worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
                verdict = "ok" if worse <= m["bound"] else "FAIL"
                worst = max(worst, 2 if verdict == "FAIL" else 0)
                print("  %-14s move %+.4f of the first median (bound %.3f) %s" % (k, worse, m["bound"], verdict))
        if a.overhead:
            traced = []
            for i in range(a.runs):
                run(w, starts[0] + i, seconds, 1)
                path = os.path.join(ROOT, ".bench_build", "traces", "%s-seed%d.json" % (w, starts[0] + i))
                with open(path) as fh:
                    traced.append(json.load(fh)["end_to_end"])
            print("  tracing overhead (traced median vs untraced median, set 1):")
            for k in bounds:
                u = statistics.median(sets[0][k])
                t = statistics.median(r[k]["value"] for r in traced)
                print("  %-14s untraced %12.4f traced %12.4f  %+.2f%%" % (k, u, t, 100 * (t - u) / u))
    return worst


if __name__ == "__main__":
    sys.exit(main())
