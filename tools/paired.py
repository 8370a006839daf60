"""Paired parent/change runs of the repository benchmark.

Runs `perfbench/run.py` N times on the parent and on this repository's
working tree, alternating which side runs first, and judges every
end-to-end metric of the benchmark by the paired rule: the change must win
at least nine tenths of all pairs (ties count for neither side) and the
medians must differ by more than the parent's interquartile range. The run
length and the end-to-end metrics are the benchmark's own
(`perfbench/metrics.py`, read, never changed).

    python3 tools/paired.py --parent HEAD~1 --workload curation_index \
        --pairs 10 --seed 1101

The parent is exported with `git archive` into a temporary directory (the
committed files only, as a fresh checkout would hold them); `--parent-dir`
uses an existing checkout instead. Each run's result line is appended to
`--out` (JSON lines) when given. Both sides run their own
`perfbench/run.py`.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import metrics  # noqa: E402


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(parent, change, better):
    """Per-metric verdicts for paired runs.

    `parent` and `change` are equal-length lists of {metric: value} dicts,
    pair i being (parent[i], change[i]); `better` maps each metric to
    "lower" or "higher". A pair missing the metric on either side is
    skipped. Returns {metric: summary dict}.
    """
    if len(parent) != len(change):
        raise ValueError("parent and change need the same number of runs")
    out = {}
    for name, direction in better.items():
        if direction not in ("lower", "higher"):
            raise ValueError(f"{name}: better must be lower or higher")
        pairs = [(p[name], c[name]) for p, c in zip(parent, change)
                 if name in p and name in c]
        if not pairs:
            continue
        sign = 1.0 if direction == "higher" else -1.0
        wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
        losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
        pq1, pmed, pq3 = quartiles([p for p, _ in pairs])
        cq1, cmed, cq3 = quartiles([c for _, c in pairs])
        gap = sign * (cmed - pmed)
        n = len(pairs)
        out[name] = {
            "better": direction, "pairs": n, "wins": wins, "losses": losses,
            "ties": n - wins - losses,
            "parent": {"q1": pq1, "median": pmed, "q3": pq3},
            "change": {"q1": cq1, "median": cmed, "q3": cq3},
            "gap": gap, "parent_iqr": pq3 - pq1,
            "change_pct": (cmed - pmed) / pmed * 100.0 if pmed else None,
            "gain": wins >= math.ceil(0.9 * n) and gap > pq3 - pq1,
        }
    return out


def result_line(stdout):
    """The last JSON object line of a run's stdout (its result line)."""
    for line in reversed(stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise ValueError("no result line in the run's output")


def run_once(checkout, workload, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed),
           "--seconds", str(metrics.benchmark_spec()["run_seconds"]),
           "--trace", "0"]
    done = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if done.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} in {checkout} exited "
                           f"{done.returncode}:\n{done.stderr[-2000:]}")
    res = result_line(done.stdout)
    values = {k: v["value"] for k, v in res.get("metrics", {}).items()}
    return res, values


def export(rev, into):
    """The committed tree of `rev` written under `into` (git archive)."""
    archive = subprocess.run(["git", "-C", REPO, "archive", rev],
                             capture_output=True, check=True)
    subprocess.run(["tar", "-x", "-C", into], input=archive.stdout,
                   check=True)


def fmt(x):
    return f"{x:.4g}" if isinstance(x, float) else str(x)


def report(summary):
    lines = []
    for name, s in summary.items():
        p, c = s["parent"], s["change"]
        pct = "" if s["change_pct"] is None else f" ({s['change_pct']:+.1f}%)"
        lines.append(
            f"{name} [{s['better']} is better] parent {fmt(p['median'])} "
            f"[{fmt(p['q1'])}, {fmt(p['q3'])}] -> change "
            f"{fmt(c['median'])} [{fmt(c['q1'])}, {fmt(c['q3'])}]{pct}; "
            f"wins {s['wins']}/{s['pairs']} (losses {s['losses']}, ties "
            f"{s['ties']}); gap {fmt(s['gap'])} vs parent IQR "
            f"{fmt(s['parent_iqr'])}: "
            + ("GAIN" if s["gain"] else "no gain claimable"))
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    side = ap.add_mutually_exclusive_group(required=True)
    side.add_argument("--parent", help="git revision of the parent side")
    side.add_argument("--parent-dir", help="an existing parent checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True,
                    help="seed of the first pair; pair i runs seed + i")
    ap.add_argument("--out", help="append every run's result here (JSON lines)")
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")

    tmp = None
    parent_dir = args.parent_dir
    if args.parent:
        tmp = tempfile.mkdtemp(prefix="paired-parent-")
        export(args.parent, tmp)
        parent_dir = tmp
    try:
        runs = {"parent": [], "change": []}
        dirs = {"parent": parent_dir, "change": REPO}
        failures = 0
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for name in order:
                res, values = run_once(dirs[name], args.workload, seed)
                runs[name].append(values)
                ok = res.get("correct") and not res.get("failed")
                failures += 0 if ok else 1
                print(f"pair {i + 1}/{args.pairs} seed {seed} {name}: "
                      f"correct={res.get('correct')} "
                      f"failed={res.get('failed')} {json.dumps(values)}",
                      flush=True)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps({"side": name, "seed": seed,
                                            "pair": i, "result": res}) + "\n")
        summary = summarize(runs["parent"], runs["change"],
                            {n: b for n, _, b, _ in metrics.END_TO_END})
        print(report(summary))
        print(json.dumps({"workload": args.workload, "summary": summary}))
        return 1 if failures else 0
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
