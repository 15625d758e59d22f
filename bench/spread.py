#!/usr/bin/env python3
"""Run every workload over several seeds and report each end-to-end
metric's median and run-to-run spread beside its bound.

Usage (from the repository root):

    python3 bench/spread.py [--seeds 1-10] [--workloads serve_mixed,suite_sf0.01]
                            [--out bench/out/spread.json]

Spread is the distance between the first and third quartile of the runs'
values (`statistics.quantiles(values, n=4)`) as a share of their median;
the benchmark is steady when every spread, `setup_s` excepted, stays well
inside the metric's bound in BENCHMARK.json. Also prints the wall time of
each run, which sizes the benchmark's total run budget.
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


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += range(int(a), int(b or a) + 1)
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out", default=os.path.join(BENCH, "out", "spread.json"))
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
            took = time.time() - t0
            if p.returncode != 0:
                print(f"{w} seed {s}: FAILED (exit {p.returncode})", flush=True)
                continue
            res = json.loads(p.stdout.splitlines()[-1])
            vals = {k: v["value"] for k, v in res["metrics"].items()}
            notes = [l[5:] for l in p.stdout.splitlines() if l.startswith("note ")]
            runs.append({"seed": s, "run_s": took, "correct": res["correct"],
                         "failed": res["failed"], "metrics": vals, "notes": notes})
            print(f"{w} seed {s}: {took:.1f} s correct={res['correct']} " +
                  " ".join(f"{k}={v:.4g}" for k, v in vals.items()), flush=True)
        table = {}
        for m, bound in bounds.items():
            xs = [r["metrics"][m] for r in runs if m in r["metrics"]]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            table[m] = {"median": statistics.median(xs), "spread": (q3 - q1) / statistics.median(xs),
                        "bound": bound}
        report[w] = {"runs": runs, "spread": table}
        for m, t in table.items():
            flag = "" if m == "setup_s" or t["spread"] < t["bound"] / 3 else "  <-- above bound/3"
            print(f"{w:14s} {m:10s} median={t['median']:.5g} spread={t['spread']:.4f} "
                  f"bound={t['bound']}{flag}")
        print(f"{w:14s} mean run time {statistics.mean(r['run_s'] for r in runs):.1f} s", flush=True)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
