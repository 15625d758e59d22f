#!/usr/bin/env python3
"""Per-suite and per-test wall time of the last sbt test run.

Usage (from the repository root):

    python3 scripts/test_times.py [reports-dir] [--top N] [--budget S]

Reads the JUnit XML reports sbt writes (default `target/test-reports`) and
prints every suite's time (slowest first), the N slowest tests (default 10)
and the summed total, each as a share of the tier-1 test step's timeout
(default 2670 s), so a test that is about to eat the budget shows up before
it does.
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("reports", nargs="?", default=os.path.join("target", "test-reports"))
    ap.add_argument("--top", type=int, default=10)
    ap.add_argument("--budget", type=float, default=2670.0)
    args = ap.parse_args()

    files = sorted(glob.glob(os.path.join(args.reports, "*.xml")))
    if not files:
        sys.exit(f"no JUnit XML reports under {args.reports}")
    suites, tests = [], []
    for f in files:
        root = ET.parse(f).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            name = s.get("name", os.path.basename(f))
            suites.append((float(s.get("time", 0)), name, int(s.get("tests", 0)),
                           int(s.get("failures", 0)) + int(s.get("errors", 0))))
            for c in s.iter("testcase"):
                tests.append((float(c.get("time", 0)), name, c.get("name", "")))

    total = sum(t for t, *_ in suites)

    def share(t):
        return f"{100.0 * t / args.budget:5.1f}%"

    print(f"{'suite':<40} {'tests':>5} {'fail':>4} {'time_s':>9} {'budget':>7}")
    for t, name, n, bad in sorted(suites, reverse=True):
        print(f"{name:<40} {n:>5} {bad:>4} {t:>9.1f} {share(t):>7}")
    print(f"\n{args.top} slowest tests")
    for t, suite, name in sorted(tests, reverse=True)[:args.top]:
        print(f"{t:>9.1f} {share(t):>7}  {suite}::{name}")
    print(f"\ntotal {total:.1f} s over {len(suites)} suites, {len(tests)} tests: "
          f"{share(total).strip()} of the {args.budget:.0f} s budget")


if __name__ == "__main__":
    main()
