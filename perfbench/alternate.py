#!/usr/bin/env python3
"""Alternating sets of untraced runs on one checkout.

    python3 perfbench/alternate.py [--workloads w1,w2] [--runs 5] [--seed-base 1]
                                   [--seconds N] [--traced]

For each workload, runs pair i (seed = seed-base + i) once in set A and
once in set B, alternating which set goes first, so a slow stretch of the
host lands on both sets alike. Then, for each end-to-end metric in
BENCHMARK.json, prints each set's median and quartiles, the difference
between the set medians against the metric's bound, and the spread of
all runs (quartile distance over median, as statistics.quantiles gives
it) against the bound. Host steal is printed per run. With --traced, one
traced run per workload follows and its tracing overhead is printed.
Raw results are written to perfbench/results/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run_once(workload, seed, seconds, trace):
    t = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit("run failed: %s seed %d (exit %d)" % (workload, seed, proc.returncode))
    result = json.loads(lines[-1])
    result["context"] = json.loads(lines[-2])["context"]
    result["wall_s"] = time.time() - t
    return result


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=5, help="runs per set and workload")
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    report = {"seconds": args.seconds, "workloads": {}}
    for w in args.workloads.split(","):
        sets = {"A": [], "B": []}
        for i in range(args.runs):
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            for s in order:
                res = run_once(w, args.seed_base + i, args.seconds, 0)
                sets[s].append(res)
                print("%-16s set %s seed %3d  steal %5.2f%%  rounds %2d  wall %5.1f s  correct %s  failed %d/%d"
                      % (w, s, args.seed_base + i, res["context"]["host_steal_pct"], res["context"]["rounds"],
                         res["wall_s"], res["correct"], res["failed"], res["attempted"]), flush=True)
        print("\n%s: median [q1, q3] per set; diff = (B - A) / A; spread = (q3 - q1) / median of all %d runs"
              % (w, 2 * args.runs))
        summary = {}
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            per = {s: [r["metrics"][name]["value"] for r in sets[s]] for s in sets}
            qa, qb = quartiles(per["A"]), quartiles(per["B"])
            every = per["A"] + per["B"]
            q = quartiles(every)
            diff = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            spread = (q[2] - q[0]) / q[1] if q[1] else float("nan")
            summary[name] = {"A": per["A"], "B": per["B"], "diff": diff, "spread": spread, "bound": bound}
            print("  %-12s A %10.4f [%10.4f, %10.4f]  B %10.4f [%10.4f, %10.4f]  diff %+6.3f  spread %5.3f  bound %.2f  %s"
                  % (name, qa[1], qa[0], qa[2], qb[1], qb[0], qb[2], diff, spread, bound,
                     "ok" if abs(diff) <= bound and (name == "setup_s" or spread <= bound) else "OUTSIDE BOUND"))
        shares = {s: sum(r["failed"] for r in sets[s]) / max(1, sum(r["attempted"] for r in sets[s])) for s in sets}
        print("  failed share A %.6f  B %.6f" % (shares["A"], shares["B"]))
        entry = {"runs": sets, "summary": summary, "failed_share": shares}
        if args.traced:
            tr = run_once(w, args.seed_base, args.seconds, 1)
            entry["traced"] = tr
            print("  traced run: trace.overhead %.3f (traced / untraced round wall in one process), spans %d"
                  % (tr["metrics"]["trace.overhead"]["value"], tr["metrics"]["trace.spans"]["value"]))
        report["workloads"][w] = entry
        print(flush=True)

    out_dir = os.path.join(BENCH, "results")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, "alternate-%d.json" % int(time.time()))
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print("raw results:", os.path.relpath(out, ROOT))


if __name__ == "__main__":
    main()
