#!/usr/bin/env python3
"""Paired A/B of two source trees on one perfbench workload.

    python3 tools/perf_ab.py <parent-tree> <change-tree> --workload llm_corpus --seeds 601-610

Runs `perfbench/run.py` of each tree (each tree builds and runs from its own
sources) once per seed, alternating which tree goes first from seed to seed,
so a slow period of the host lands on both sides alike. For every end-to-end
metric of BENCHMARK.json it prints both raw medians, the parent's quartiles,
the median of the per-seed ratios change/parent, and the pairs the change won
(its value was better in the metric's direction). `--out` keeps every run's
metrics as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(tree, workload, seed, seconds, trace):
    """One perfbench run: (metrics {name: value}, correct, wall seconds)."""
    cmd = [sys.executable, os.path.join(tree, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    out = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    lines = out.stdout.splitlines()
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
    if not lines or not lines[-1].startswith("{"):
        return {}, False, wall
    res = json.loads(lines[-1])
    return ({k: v["value"] for k, v in res["metrics"].items()},
            bool(res["correct"]) and out.returncode == 0, wall)


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", help="parent source tree (a checkout with perfbench/)")
    ap.add_argument("change", help="changed source tree")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range, help="A-B, inclusive")
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--out", help="write every run's metrics to this JSON file")
    a = ap.parse_args()

    trees = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec.get("per_layer", [])}
    names = [m["name"] for m in spec["end_to_end" if a.trace == "0" else "per_layer"]]

    runs = {"parent": [], "change": []}
    for k, seed in enumerate(a.seeds):
        order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
        for side in order:
            metrics, ok, wall = run(trees[side], a.workload, seed, a.seconds, a.trace)
            runs[side].append({"seed": seed, "correct": ok, "wall_s": round(wall, 1),
                               "metrics": metrics})
            print("seed %d %-6s %s %5.0f s  %s" % (
                seed, side, "ok  " if ok else "FAIL", wall,
                " ".join("%s=%.4g" % (n, metrics[n]) for n in names if n in metrics)),
                flush=True)

    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seeds": a.seeds, "seconds": a.seconds,
                       "trace": a.trace, "runs": runs}, f, indent=1)

    print()
    print("%-40s %12s %12s %23s %8s %6s" % (
        "metric", "parent_med", "change_med", "parent_q1-q3", "ratio", "won"))
    for n in names:
        pairs = [(p["metrics"][n], c["metrics"][n])
                 for p, c in zip(runs["parent"], runs["change"])
                 if n in p["metrics"] and n in c["metrics"]]
        if not pairs:
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        ratios = [c / p for p, c in pairs if p != 0]
        lower = better.get(n, "lower") == "lower"
        won = sum(1 for p, c in pairs if (c < p if lower else c > p))
        q1, q3 = quartiles(ps)
        print("%-40s %12.4f %12.4f %11.4f-%-11.4f %8s %3d/%-2d" % (
            n, statistics.median(ps), statistics.median(cs), q1, q3,
            "%.3f" % statistics.median(ratios) if ratios else "-", won, len(pairs)))
    failed = [(s, r["seed"]) for s in runs for r in runs[s] if not r["correct"]]
    if failed:
        print("runs not correct: %s" % ", ".join("%s seed %d" % f for f in failed))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
