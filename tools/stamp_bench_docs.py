#!/usr/bin/env python3
"""Stamps the committed bench-envelope numbers into README.md and
.claude/skills/verify/SKILL.md between `bench-envelope` markers, so the
prose never drifts from the evidence (the r14 finding: hand-written
"healthy total" ranges rotted every round).

Reads only COMMITTED artifacts, so it runs on a clean checkout:
BENCH_COMPOSITE.json (headline line: the cross-session composite),
the detail file it names (per-query count) and ORACLE_TIMING_sf0.1.json
(DuckDB denominator). Run after refreshing those:

    python3 tools/stamp_bench_docs.py
"""
import json
import pathlib
import re
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BEGIN = "<!-- bench-envelope:begin (generated by tools/stamp_bench_docs.py) -->"
END = "<!-- bench-envelope:end -->"


def envelope() -> str:
    comp = json.loads((ROOT / "BENCH_COMPOSITE.json").read_text())
    detail = json.loads((ROOT / comp.get("detail", "BENCH_COMPOSITE_DETAIL.json"))
                        .read_text())
    oracle = json.loads((ROOT / "ORACLE_TIMING_sf0.1.json").read_text())
    head = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                          capture_output=True, text=True,
                          cwd=ROOT).stdout.strip() or "?"
    total = comp["value"]
    cal = comp.get("calibration_inflation")
    est = comp.get("value_est_corrected")
    osec = comp.get("oracle_total_sec") or oracle.get("total_sec")
    parts = [f"Committed sf0.1 bench composite (local[32], {len(detail)} "
             f"queries, per-query median over {comp.get('sessions', '?')} "
             f"sessions): **{total:.1f} s**"]
    if cal is not None:
        parts.append(f"at calibration {cal:.2f}")
    if est is not None:
        parts.append(f"(est-corrected {est:.1f} s)")
    # "multi-threaded": check.py times a default duckdb.connect() — all
    # host cores, no threads=1 pragma (ADVICE-r16: the old "single-threaded"
    # label contradicted the measurement; the committed denominators were
    # all taken multi-threaded, so the LABEL moves, not the methodology).
    parts.append(f"vs the multi-threaded single-node DuckDB oracle "
                 f"**{osec:.1f} s** on the same parquet")
    # The composite's stamped ratio is THE round-over-round regression
    # signal (it medians across sessions, so one host burst cannot fake a
    # regression).
    ratio = comp.get("ratio_vs_oracle") or round(total / osec, 3)
    parts.append(f"= **{ratio:.3f}x oracle**, the canonical regression "
                 f"signal — stamped from the committed artifacts at HEAD "
                 f"{head}.")
    return " ".join(parts)


def stamp(path: pathlib.Path, text: str) -> bool:
    src = path.read_text()
    block = f"{BEGIN}\n{text}\n{END}"
    pattern = re.compile(re.escape(BEGIN) + r".*?" + re.escape(END), re.S)
    if not pattern.search(src):
        print(f"ERROR: no bench-envelope markers in {path}", file=sys.stderr)
        return False
    path.write_text(pattern.sub(block, src))
    print(f"stamped {path}")
    return True


if __name__ == "__main__":
    line = envelope()
    ok = stamp(ROOT / "README.md", line)
    ok &= stamp(ROOT / ".claude" / "skills" / "verify" / "SKILL.md", line)
    sys.exit(0 if ok else 1)
