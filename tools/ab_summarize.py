#!/usr/bin/env python3
"""Per-query summary of a tools/ab_queries.sh run directory.

Usage: python3 tools/ab_summarize.py <abOutDir>

Reads every pair<N>_<side>_DETAIL.json (graft.Bench's detail format: per
query the median-of-reps `sec`, its `jobs` and `ok`) and prints a Markdown
table per query: the median over runs of each side, the parent's IQR
(linear-interpolated quartiles over its runs), change/parent, the number of
pairs the change ran faster, the pairs where the parent was faster by more
than the parent's IQR, the median job count per side and whether every rep
succeeded. The last column reads `slower` when the change's median exceeds
the parent's by more than the parent's IQR.
"""
import glob
import json
import os
import re
import statistics
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "perfbench"))
from stats import percentile  # noqa: E402


def load(out_dir):
    runs = {}  # (pair, side) -> {query: entry}
    for path in glob.glob(os.path.join(out_dir, "pair*_*_DETAIL.json")):
        m = re.match(r"pair(\d+)_(parent|change)_DETAIL\.json$", os.path.basename(path))
        if m:
            with open(path) as fh:
                runs[(int(m.group(1)), m.group(2))] = json.load(fh)
    return runs


def main():
    out_dir = sys.argv[1]
    runs = load(out_dir)
    pairs = sorted({p for p, _ in runs if (p, "parent") in runs and (p, "change") in runs})
    if not pairs:
        sys.exit(f"no complete pairs in {out_dir}")
    queries = sorted(set.intersection(*(set(runs[(p, s)]) for p in pairs
                                        for s in ("parent", "change"))))
    print(f"{len(pairs)} pairs; seconds are each run's median of its reps.\n")
    print("| query | parent s | change s | change/parent | parent IQR s "
          "| change faster | parent faster by > IQR | jobs parent→change | all ok | verdict |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    for q in queries:
        par = [runs[(p, "parent")][q]["sec"] for p in pairs]
        chg = [runs[(p, "change")][q]["sec"] for p in pairs]
        iqr = percentile(par, 75) - percentile(par, 25)
        mp, mc = statistics.median(par), statistics.median(chg)
        faster = sum(c < a for a, c in zip(par, chg))
        parent_wins = sum(c - a > iqr for a, c in zip(par, chg))
        jobs = (statistics.median(runs[(p, "parent")][q]["jobs"] for p in pairs),
                statistics.median(runs[(p, "change")][q]["jobs"] for p in pairs))
        ok = all(runs[(p, s)][q]["ok"] for p in pairs for s in ("parent", "change"))
        verdict = "slower" if mc - mp > iqr else "not slower"
        print(f"| {q} | {mp:.3f} | {mc:.3f} | {mc / mp:.3f} | {iqr:.3f} "
              f"| {faster}/{len(pairs)} | {parent_wins}/{len(pairs)} "
              f"| {jobs[0]:g}→{jobs[1]:g} | {ok} | {verdict} |")


if __name__ == "__main__":
    main()
