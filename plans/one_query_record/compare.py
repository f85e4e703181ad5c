"""Checks that moving the registry into one Query record per query changed
nothing the registry produces, by comparing a parent-commit run with a
change run of the same mains on the same data.

Usage:
  python3 plans/one_query_record/compare.py <parent_dir> <change_dir>

Each directory holds:
  explain.txt   stdout of `tools/run.sh graft.Explain <sfDir>` (all queries)
  verify/       output of `tools/run.sh graft.Verify <sfDir> verify`
  REGISTRY.md   output of `tools/run.sh graft.RegistryDoc REGISTRY.md`

Prints one line per check and a per-query table of normalized-plan hashes;
exits 1 if a plan, the oracle SQL or a result differs.
"""
import hashlib
import json
import os
import re
import sys

import pyarrow.parquet as pq

HEADER = re.compile(r"^========== (\S+) ==========$", re.M)


def normalize(plan):
    """Erases the ids that differ between two JVMs planning the same query:
    expression ids (#123, #123L), exchange plan ids, RDD ids and lambda
    object identities."""
    plan = re.sub(r"#\d+L?", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"(RDD|rdd)\[\d+\]", r"\1[N]", plan)
    plan = re.sub(r"ExistingRDD\[[^\]]*\]", "ExistingRDD[...]", plan)
    return re.sub(r"\$\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+", "$$Lambda", plan)


def plans(path):
    text = open(path).read()
    heads = list(HEADER.finditer(text))
    out = {}
    for k, m in enumerate(heads):
        end = heads[k + 1].start() if k + 1 < len(heads) else len(text)
        out[m.group(1)] = normalize(text[m.end():end])
    return out


def registry_rows(path):
    return [l for l in open(path).read().splitlines() if l.startswith("| `q")]


def main(parent, change):
    ok = True
    pp, cp = plans(f"{parent}/explain.txt"), plans(f"{change}/explain.txt")
    same = sorted(q for q in pp if cp.get(q) == pp[q])
    diff = sorted(set(pp) ^ set(cp) | {q for q in pp if q in cp and cp[q] != pp[q]})
    print(f"explain: {len(pp)} parent / {len(cp)} change plans, "
          f"{len(same)} equal after normalizing ids, differ: {diff}")
    ok &= not diff and len(pp) == 203

    po = json.load(open(f"{parent}/verify/oracle_sql.json"))
    co = json.load(open(f"{change}/verify/oracle_sql.json"))
    print(f"oracle_sql.json: {len(po)} / {len(co)} entries, equal as parsed JSON: {po == co}")
    ok &= po == co

    bad = []
    for q in sorted(po):
        a = pq.read_table(f"{parent}/verify/{q}")
        b = pq.read_table(f"{change}/verify/{q}")
        if a.schema != b.schema or a.to_pylist() != b.to_pylist():
            bad.append(q)
    print(f"verify results: {len(po)} queries, row-for-row equal except: {bad}")
    ok &= not bad

    pr, cr = registry_rows(f"{parent}/REGISTRY.md"), registry_rows(f"{change}/REGISTRY.md")
    rdiff = [(a, b) for a, b in zip(pr, cr) if a != b]
    print(f"REGISTRY.md table rows: {len(pr)} / {len(cr)}, "
          f"{len(pr) - len(rdiff)} byte-identical; differing rows:")
    for a, b in rdiff:
        print(f"  parent: {a}\n  change: {b}")

    print("\nquery\tnormalized plan sha256 (parent = change)")
    for q in sorted(pp):
        print(f"{q}\t{hashlib.sha256(pp[q].encode()).hexdigest()[:16]}"
              f"\t{'=' if cp.get(q) == pp[q] else 'DIFFERS'}")
    return ok


if __name__ == "__main__":
    sys.exit(0 if main(sys.argv[1], sys.argv[2]) else 1)
