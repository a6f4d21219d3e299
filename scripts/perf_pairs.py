#!/usr/bin/env python3
"""Paired benchmark runs of two source trees.

    scripts/perf_pairs.py PARENT_TREE CHANGE_TREE --workload W --pairs N --seed0 S

Pair i runs `python3 perfbench/run.py --workload W --seed S+i --trace 0`
once in each tree, at the run length of the tree's BENCHMARK.json; the
parent runs first in even pairs and the change in odd ones. For every
end-to-end metric it prints the per-pair values, each side's median and
quartiles, how many pairs the change won (ties count for neither side),
and whether the medians differ by more than the parent's interquartile
range. A run that fails or reports incorrect output stops the script.
Nothing in either tree is written except what perfbench itself leaves.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run(tree, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{tree}: seed {seed} exited {p.returncode}\n{p.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        sys.exit(f"{tree}: seed {seed} correct={res['correct']} failed={res['failed']}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    a = ap.parse_args()

    bench = json.loads((a.change / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    pairs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        got = {side: run(tree, a.workload, seed, seconds) for side, tree in order}
        pairs.append(got)
        print(f"pair {i + 1} seed {seed} ({order[0][0]} first): " + "  ".join(
            f"{m} {got['parent'][m]:.4g} -> {got['change'][m]:.4g}"
            for m in better if m in got["parent"]), flush=True)

    print(f"\n{a.workload}, {a.pairs} pairs, seeds {a.seed0}..{a.seed0 + a.pairs - 1}")
    for m, way in better.items():
        if m not in pairs[0]["parent"]:
            continue
        par = [p["parent"][m] for p in pairs]
        chg = [p["change"][m] for p in pairs]
        wins = sum((c < p) if way == "lower" else (c > p) for p, c in zip(par, chg))
        losses = sum((c > p) if way == "lower" else (c < p) for p, c in zip(par, chg))
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        gap = cmed - pmed
        print(f"{m} ({way} is better): parent median {pmed:.4g} [q1 {pq1:.4g}, q3 {pq3:.4g}]"
              f"  change median {cmed:.4g} [q1 {cq1:.4g}, q3 {cq3:.4g}]"
              f"  {gap / pmed:+.1%}  change won {wins}/{len(pairs)} (lost {losses})"
              f"  |gap| {abs(gap):.4g} {'>' if abs(gap) > pq3 - pq1 else '<='}"
              f" parent IQR {pq3 - pq1:.4g}")


if __name__ == "__main__":
    main()
