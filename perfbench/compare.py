#!/usr/bin/env python3
"""Compares two versions of the program on the benchmark's own runs.

    python3 perfbench/compare.py run BASE HEAD --workload W [--pairs 10] [--trace 0|1]
    python3 perfbench/compare.py report BASE HEAD

BASE and HEAD are checkouts (each with perfbench/ and the program).
`run` makes pairs of runs, one per seed, alternating which side runs
first, each for HEAD's BENCHMARK.json `run_seconds`; each run leaves
result.json under the checkout's .bench_build/perfbench/runs/. `report`
reads the results of runs of that length and, per
workload and end-to-end metric, prints each side's median and
quartiles, the pairs HEAD won (ties count for neither side) and a
verdict by this rule:

- better:     HEAD wins at least 9 in 10 pairs and the medians differ by
              more than BASE's own spread (the distance between its
              quartiles);
- worse:      HEAD's median is worse than BASE's by more than the bound
              in BENCHMARK.json;
- unresolved: the spread of either side is wider than the bound, unless
              every HEAD run beats every BASE run (then `better` if the
              medians differ by more than BASE's spread, else `same`);
- same:       none of these.

Then, from traced runs, the per-layer medians of both sides and their
difference, largest first, so a saving can be traced to its layer.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys


def load(checkout: str) -> list:
    out = []
    for p in glob.glob(os.path.join(checkout, ".bench_build", "perfbench", "runs", "*", "result.json")):
        with open(p) as f:
            out.append(json.load(f))
    return out


def quartiles(v: list) -> tuple:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(base: list, head: list, pairs: list, bound: float, lower: bool) -> tuple:
    b1, bm, b3 = quartiles(base)
    h1, hm, h3 = quartiles(head)
    better = (lambda h, b: h < b) if lower else (lambda h, b: h > b)
    won = sum(better(h, b) for h, b in pairs)
    lost = sum(better(b, h) for h, b in pairs)
    spread = max((b3 - b1) / bm if bm else 0.0, (h3 - h1) / hm if hm else 0.0)
    worse_by = ((hm - bm) if lower else (bm - hm)) / bm if bm else 0.0
    clear = abs(hm - bm) > b3 - b1
    if all(better(h, b) for h in head for b in base):
        v = "better" if clear else "same"
    elif spread > bound:
        v = "unresolved"
    elif pairs and won >= 0.9 * len(pairs) and better(hm, bm) and clear:
        v = "better"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "same"
    return (b1, bm, b3), (h1, hm, h3), won, lost, v


def report(base_dir: str, head_dir: str, spec: dict) -> None:
    # runs of another length measure other executions: never mixed in
    base = [r for r in load(base_dir) if r["seconds"] == spec["run_seconds"]]
    head = [r for r in load(head_dir) if r["seconds"] == spec["run_seconds"]]
    for w in [x["name"] for x in spec["workloads"]]:
        b = {r["seed"]: r for r in base if r["workload"] == w and not r["trace"]}
        h = {r["seed"]: r for r in head if r["workload"] == w and not r["trace"]}
        if not b or not h:
            print(f"\n{w}: no plain runs on {'BASE' if not b else 'HEAD'}")
            continue
        seeds = sorted(set(b) & set(h))
        print(f"\n{w}: {len(b)} BASE runs, {len(h)} HEAD runs, {len(seeds)} pairs")
        print(f"  {'metric':12s} {'BASE q1 / median / q3':>28s} {'HEAD q1 / median / q3':>28s}"
              f" {'change':>8s} {'won':>7s}  verdict (bound)")
        for m in spec["end_to_end"]:
            n, lower = m["name"], m["better"] == "lower"
            bv = [r["metrics"][n] for r in b.values()]
            hv = [r["metrics"][n] for r in h.values()]
            pairs = [(h[s]["metrics"][n], b[s]["metrics"][n]) for s in seeds]
            bq, hq, won, lost, v = verdict(bv, hv, pairs, m["bound"], lower)
            change = (hq[1] - bq[1]) / bq[1] if bq[1] else 0.0
            print(f"  {n:12s} {bq[0]:8.3f} /{bq[1]:8.3f} /{bq[2]:8.3f} {hq[0]:8.3f} /{hq[1]:8.3f} /{hq[2]:8.3f}"
                  f" {change:+8.1%} {won:3d}/{len(pairs):<3d}  {v} ({m['bound']:.0%}) {m['unit']}")
        layers(w, [r for r in base if r["workload"] == w and r["trace"]],
               [r for r in head if r["workload"] == w and r["trace"]], spec)


def layers(w: str, base: list, head: list, spec: dict) -> None:
    if not base or not head:
        print(f"  per-layer: no traced runs on {'BASE' if not base else 'HEAD'}")
        return
    rows = []
    for m in spec["per_layer"]:
        n = m["name"]
        if any(n not in r["metrics"] for r in base + head):
            continue  # declared on one side only
        bm = statistics.median(r["metrics"][n] for r in base)
        hm = statistics.median(r["metrics"][n] for r in head)
        if bm != hm:
            rows.append((abs(hm - bm) / (abs(bm) or 1.0), n, bm, hm, m["unit"]))
    print(f"  per-layer medians of {len(base)} BASE and {len(head)} HEAD traced runs, largest change first:")
    for _, n, bm, hm, unit in sorted(rows, reverse=True):
        print(f"    {n:24s} {bm:12.4f} -> {hm:12.4f} {unit:6s} ({hm - bm:+.4f})")


def run(base: str, head: str, workload: str, pairs: int, seconds: float, trace: int) -> None:
    for i in range(pairs):
        seed = i + 1
        sides = [base, head] if i % 2 == 0 else [head, base]
        for side in sides:
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                                "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                               cwd=side, stdout=subprocess.PIPE, text=True)
            tag = "BASE" if side == base else "HEAD"
            print(f"pair {seed} {tag}: exit {r.returncode} {r.stdout.strip().splitlines()[-1:]}", flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("run", "report"))
    ap.add_argument("base")
    ap.add_argument("head")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(a.head, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.mode == "run":
        if not a.workload:
            ap.error("run needs --workload")
        run(os.path.abspath(a.base), os.path.abspath(a.head), a.workload, a.pairs,
            spec["run_seconds"], a.trace)
    else:
        report(a.base, a.head, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
