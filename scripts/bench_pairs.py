#!/usr/bin/env python3
"""Run the benchmark in alternating pairs: a base revision against the working tree.

Usage (from the repository root):

    python3 scripts/bench_pairs.py --rev <base> [--pairs 10] [--seeds 1-10]
        [--workload serve_mixed] [--trace 0]

Clones the repository at `--rev` into its own temporary directory (so the
base side builds into its own `target/` and never shares incremental state
with the working tree), then runs `bench/run.py` once per side per pair,
alternating which side runs first. Pair i uses seed i of `--seeds` (a list
such as `1,2,5` or a range such as `1-10`, reused cyclically).

For every workload and end-to-end metric of BENCHMARK.json (its per-layer
metrics with `--trace 1`, since a traced run reports only those) it prints
each side's median and quartiles over the runs that produced a result, the
number of pairs the change wins out of every pair run (a pair with a tie
or a failed run is not a win), and whether the claim rule holds: the change wins at
least nine tenths of the pairs run, the medians differ, in the better
direction, by more than the base's interquartile range, every change run
finished and was correct, and no change run failed more operations than
its pair's base run.

Beside the claim it prints a no-regression verdict per metric that has a
relative `bound` in BENCHMARK.json, by the no-regression rule of the
simplicity review (one verdict per metric and workload, no combined
score):

- `unresolved`: the base's interquartile range exceeds `bound` times its
  median, and not every change run reads better than every base run;
- otherwise `ok` when the change median is no worse than the base median
  by more than `bound` times the base median, and `worse` when it is.

The base clone is deleted at exit. Nothing under `bench/` is changed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            seeds += range(int(lo), int(hi) + 1)
        else:
            seeds.append(int(part))
    return seeds


def bench(tree, workload, seed, trace):
    """One bench/run.py run in `tree`; its metrics, or None when it failed."""
    cmd = [sys.executable, os.path.join("bench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "10", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    res = json.loads(lines[-1])
    out = {k: v["value"] for k, v in res["metrics"].items()}
    out["failed"] = res.get("failed", 0)
    out["correct"] = res.get("correct", False)
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(base, change, bound, lower):
    """The no-regression verdict of one metric (see the module docstring)."""
    bq1, bmed, bq3 = quartiles(base)
    cmed = quartiles(change)[1]
    dominates = (max(change) < min(base)) if lower else (min(change) > max(base))
    if bq3 - bq1 > bound * abs(bmed) and not dominates:
        return "unresolved"
    worse_by = (cmed - bmed) if lower else (bmed - cmed)
    return "worse" if worse_by > bound * abs(bmed) else "ok"


def report(workload, pairs, spec):
    """`pairs` holds every (base, change) pair run; a side is None when its run failed."""
    print(f"\n{workload}: {len(pairs)} pairs")
    done = [(b, c) for b, c in pairs if b is not None and c is not None]
    # a gain counts only when every change run finished, was correct and
    # failed no more operations than the base run of its pair
    sound = all(c is not None and c["correct"] and (b is None or c["failed"] <= b["failed"])
                for b, c in pairs)
    width = max(len(m["name"]) for m in spec)
    print(f"{'metric':<{width}} {'base q1/med/q3':>30} {'change q1/med/q3':>30} {'wins':>6}  claim  verdict")
    for m in spec:
        name, lower = m["name"], m["better"] == "lower"
        base = [b[name] for b, _ in pairs if b is not None and name in b]
        change = [c[name] for _, c in pairs if c is not None and name in c]
        if not base or not change:
            continue
        bq1, bmed, bq3 = quartiles(base)
        cq1, cmed, cq3 = quartiles(change)
        wins = sum(1 for b, c in pairs if b is not None and c is not None and name in b and name in c
                   and (c[name] < b[name] if lower else c[name] > b[name]))
        better = cmed < bmed if lower else cmed > bmed
        holds = (sound and wins * 10 >= 9 * len(pairs) and better
                 and abs(cmed - bmed) > (bq3 - bq1))
        verdict_ = verdict(base, change, m["bound"], lower) if "bound" in m else "-"
        print(f"{name:<{width}} {bq1:>9.4g} {bmed:>9.4g} {bq3:>9.4g}  {cq1:>9.4g} {cmed:>9.4g} {cq3:>9.4g}"
              f" {wins:>3}/{len(pairs):<2}  {'holds' if holds else 'no':<5}  {verdict_}")
    side = lambda r: "run failed" if r is None else r["failed"]
    print(f"failed ops per pair (base, change): {[(side(b), side(c)) for b, c in pairs]}")
    wrong = [i + 1 for i, (b, c) in enumerate(pairs)
             if not (b is not None and b["correct"] and c is not None and c["correct"])]
    print(f"pairs with a run failed or not correct: {wrong or 'none'}")
    if len(done) < len(pairs):
        print(f"pairs with both runs finished: {len(done)} of {len(pairs)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", required=True, help="base revision to compare against")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append", help="repeatable; default serve_mixed")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    workloads = args.workload or ["serve_mixed"]
    seeds = parse_seeds(args.seeds)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]

    tmp = tempfile.mkdtemp(prefix="bench-pairs-")
    base_tree = os.path.join(tmp, "base")
    try:
        subprocess.run(["git", "clone", "-q", ROOT, base_tree], check=True)
        subprocess.run(["git", "-C", base_tree, "checkout", "-q", args.rev], check=True)
        for w in workloads:
            pairs = []
            for i in range(args.pairs):
                seed = seeds[i % len(seeds)]
                order = [("base", base_tree), ("change", ROOT)]
                if i % 2:
                    order.reverse()
                got = {}
                for side, tree in order:
                    got[side] = bench(tree, w, seed, args.trace)
                    print(f"{w} pair {i + 1} seed {seed} {side}: "
                          + ("failed" if got[side] is None else
                             " ".join(f"{m['name']}={got[side].get(m['name'], float('nan')):.4g}"
                                      for m in spec)), flush=True)
                pairs.append((got["base"], got["change"]))
            report(w, pairs, spec)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
