#!/usr/bin/env python3
"""Regenerates perfbench/registry/goldens.tsv from a graft.Verify output
directory (one parquet result per query) whose results pass
`tools/check.py` against the DuckDB oracle on the same corpus:

    python3 perfbench/make_goldens.py <verify_out_dir>

Each golden is the fingerprint the benchmark computes for the query: the row
count and the XOR of a 64-bit hash per row.
"""
import os
import shutil
import sys

import run


def main():
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    classes = run.build.build()
    root = os.path.join(run.CHECKOUT, ".bench_run", f"goldens-{os.getpid()}")
    try:
        run.jvm(classes, root, {"workload": "goldens", "seed": 0, "seconds": 0, "trace": 0,
                                "root": root, "bench": run.HERE,
                                "verify_out": os.path.abspath(sys.argv[1])}, timeout=600)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(os.path.join(run.HERE, "registry", "goldens.tsv"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
