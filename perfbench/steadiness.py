#!/usr/bin/env python3
"""Repeatability check: runs each workload under several seeds and reports,
for every end-to-end metric, the median and the interquartile range as a
share of the median next to the metric's bound.

    python3 perfbench/steadiness.py --runs 10 [--workloads md_session ...]

A metric is steady when its spread stays below a third of its bound
(setup_s is reported but only its median is gated). The summary is also
written to .bench_out/steadiness.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    default=metrics.benchmark_spec()["run_seconds"])
    ap.add_argument("--workloads", nargs="*", default=sorted(metrics.WORKLOADS))
    a = ap.parse_args()
    summary = {}
    ok = True
    for w in a.workloads:
        vals = {n: [] for n, _, _, _ in metrics.END_TO_END}
        walls = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(a.seconds),
                 "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-2000:])
                sys.exit("run failed: %s seed %d" % (w, seed))
            line = json.loads(p.stdout.strip().splitlines()[-1])
            if not line["correct"]:
                ok = False
                print("%s seed %d: %d of %d calls failed"
                      % (w, seed, line["failed"], line["attempted"]))
            for n in vals:
                vals[n].append(line["metrics"][n]["value"])
            print("%s seed %d (%.1f s): %s" % (w, seed, walls[-1], {
                n: round(v[-1], 4) for n, v in vals.items()}), flush=True)
        summary[w] = {"wall_s": {"median": statistics.median(walls),
                                 "values": walls}}
        for n, unit, _, bound in metrics.END_TO_END:
            s = spread(vals[n])
            steady = n == "setup_s" or s < bound / 3
            ok = ok and steady
            summary[w][n] = {"median": statistics.median(vals[n]),
                             "spread": s, "bound": bound, "values": vals[n]}
            print("  %-14s median %10.4f %-5s spread %.3f  bound %.2f  %s" % (
                n, statistics.median(vals[n]), unit, s, bound,
                "ok" if steady else "NOT STEADY"), flush=True)
    # comparing two commits takes about 22 runs of each workload
    total = sum(22 * summary[w]["wall_s"]["median"] for w in summary)
    print("wall per run (median): %s; 22 runs of each: %.0f s" % (
        {w: round(summary[w]["wall_s"]["median"], 1) for w in summary},
        total))
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out", "steadiness.json"), "w") as f:
        json.dump(summary, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
