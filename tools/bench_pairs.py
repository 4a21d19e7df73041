#!/usr/bin/env python3
"""Run alternating parent/change pairs of one benchmark workload and compare.

    python3 tools/bench_pairs.py PARENT CHANGE --workload serve-read \\
        --seeds 1-10 --seconds 12

PARENT and CHANGE are checkouts of the repository (a `git clone` or a
local `git worktree` of the parent commit, and the change). For each seed
the script runs `python3 perfbench/run.py` in both checkouts, the parent
first on odd seeds and the change first on even ones, so a drift of the
host over time falls on both sides alike. Each run prints one JSON
line (side, seed, exit code, correct, failed, and the end-to-end metrics
that the change's BENCHMARK.json names). A final JSON line summarizes each
metric: per side the median and quartiles, the pairs the change won, and
the median paired difference (change − parent) against the parent's
interquartile range. Runs that exit non-zero, report `correct: false` or
fail any operation are flagged. Nothing is written under `perfbench/`
beyond what `perfbench/run.py` itself writes in each checkout.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (None, None)
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def run(checkout, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [line for line in proc.stdout.splitlines() if line.strip()]
    try:
        result = json.loads(lines[-1]) if lines else {}
    except ValueError:
        result = {}
    return proc.returncode, result


def summary(metrics, runs):
    out = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        by_seed = {}
        for r in runs:
            if r["metrics"].get(name) is not None:
                by_seed.setdefault(r["seed"], {})[r["side"]] = r["metrics"][name]
        pairs = [(v["parent"], v["change"]) for v in by_seed.values() if len(v) == 2]
        if not pairs:
            continue
        parent = [p for p, _ in pairs]
        change = [c for _, c in pairs]
        diffs = [c - p for p, c in pairs]
        p25, p75 = quartiles(parent)
        c25, c75 = quartiles(change)
        med = statistics.median(diffs)
        out[name] = {
            "better": m["better"],
            "parent_median": statistics.median(parent), "parent_q1": p25, "parent_q3": p75,
            "change_median": statistics.median(change), "change_q1": c25, "change_q3": c75,
            "pairs": len(pairs),
            "change_won": sum(1 for p, c in pairs if (c < p if lower else c > p)),
            "median_paired_diff": med,
            "parent_iqr": p75 - p25,
            "diff_exceeds_iqr": abs(med) > p75 - p25,
        }
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range, help="e.g. 1-10")
    ap.add_argument("--seconds", required=True, type=int)
    a = ap.parse_args()
    bench = json.loads((a.change / "BENCHMARK.json").read_text())
    metrics = bench["end_to_end"]
    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    runs = []
    for seed in a.seeds:
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for side in order:
            code, result = run(sides[side], a.workload, seed, a.seconds)
            got = result.get("metrics", {})
            rec = {
                "side": side, "seed": seed, "exit": code,
                "correct": result.get("correct"), "failed": result.get("failed"),
                "metrics": {m["name"]: got.get(m["name"], {}).get("value") for m in metrics},
            }
            rec["flagged"] = code != 0 or rec["correct"] is not True or (rec["failed"] or 0) > 0
            runs.append(rec)
            print(json.dumps(rec), flush=True)
    print(json.dumps({
        "workload": a.workload, "seeds": a.seeds, "seconds": a.seconds,
        "flagged_runs": sum(r["flagged"] for r in runs),
        "metrics": summary(metrics, runs),
    }), flush=True)
    return 1 if any(r["flagged"] for r in runs) else 0


if __name__ == "__main__":
    sys.exit(main())
