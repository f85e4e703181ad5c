#!/usr/bin/env python3
"""Parent-vs-change table of alternated perfbench runs.

Usage: python3 plans/one_pair_core/perfbench_table.py <dir>

Reads <dir>/<workload>_s<seed>_t0_<side>.txt (perfbench/run.py's two JSON
lines; the last holds the end-to-end metrics) and prints, per workload and
metric, the median of each side, change/parent, the parent's IQR
(linear-interpolated quartiles), how many pairs the change read lower, and
the run and failure counts.
"""
import glob
import json
import os
import re
import statistics
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "..", "perfbench"))
from stats import percentile  # noqa: E402

METRICS = ["setup_s", "wall_s", "op_p50_ms", "op_tail_ms"]


def main():
    runs = {}
    for path in glob.glob(os.path.join(sys.argv[1], "*_s*_t0_*.txt")):
        m = re.match(r"(\w+)_s(\d+)_t0_(parent|change)\.txt$", os.path.basename(path))
        if m:
            with open(path) as fh:
                runs[(m.group(1), int(m.group(2)), m.group(3))] = \
                    json.loads(fh.read().strip().splitlines()[-1])
    print("| workload | metric | parent | change | change/parent | parent IQR "
          "| change lower | runs (correct, failed ops) |")
    print("|---|---|---|---|---|---|---|---|")
    for w in sorted({k[0] for k in runs}):
        seeds = sorted(s for (ww, s, side) in runs
                       if ww == w and side == "parent" and (w, s, "change") in runs)
        sides = {side: [runs[(w, s, side)] for s in seeds] for side in ("parent", "change")}
        ok = sum(r["correct"] for v in sides.values() for r in v)
        failed = sum(r["failed"] for v in sides.values() for r in v)
        for m in METRICS:
            par = [r["metrics"][m]["value"] for r in sides["parent"]]
            chg = [r["metrics"][m]["value"] for r in sides["change"]]
            mp, mc = statistics.median(par), statistics.median(chg)
            iqr = percentile(par, 75) - percentile(par, 25)
            lower = sum(c < p for p, c in zip(par, chg))
            print(f"| {w} | {m} | {mp:.2f} | {mc:.2f} | {mc / mp:.3f} | {iqr:.2f} "
                  f"| {lower}/{len(seeds)} | {2 * len(seeds)} ({ok} correct, {failed} failed) |")


if __name__ == "__main__":
    main()
