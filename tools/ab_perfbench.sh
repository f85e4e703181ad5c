#!/usr/bin/env bash
# Alternated repository-benchmark A/B, parent vs change.
#
# Usage: tools/ab_perfbench.sh <parent-rev> <change-rev> <outDir>
#   env: SEEDS (default "1 2 3 4 5"),
#        WORK (scratch for the two checkouts, default ${TMPDIR:-/tmp}/graft_perfbench)
#
# Each revision is exported with `git archive` into its own directory. For
# each seed and each workload (registry, pipeline), both sides run
#   python3 perfbench/run.py --workload W --seed S --seconds 30 --trace 0
# in their own copy, one after the other, the first side alternating by seed
# (odd seeds: parent first). Each run's stdout (the harness's two JSON
# lines) lands in outDir as <workload>_s<seed>_t0_<side>.txt; a file that
# already exists is kept, not re-run. The script ends by printing
# tools/perfbench_table.py's summary of outDir.
set -euo pipefail
PARENT=${1:?parent rev}; CHANGE=${2:?change rev}
REPO=$(git rev-parse --show-toplevel)
OUT=$(realpath -m "${3:?outDir}")
SEEDS=${SEEDS:-1 2 3 4 5}
WORK=${WORK:-${TMPDIR:-/tmp}/graft_perfbench}
mkdir -p "$OUT" "$WORK"

for side in parent change; do
  rev=$PARENT; [[ $side == change ]] && rev=$CHANGE
  rm -rf "${WORK:?}/$side"; mkdir -p "$WORK/$side"
  git -C "$REPO" archive "$rev" | tar -x -C "$WORK/$side"
done

run() { # <workload> <seed> <side>
  local f="$OUT/$1_s$2_t0_$3.txt"
  [[ -e $f ]] && return 0
  (cd "$WORK/$3" && python3 perfbench/run.py --workload "$1" --seed "$2" \
    --seconds 30 --trace 0 > "$f.tmp" 2> "$WORK/$1_s$2_$3.err") && mv "$f.tmp" "$f"
}

for s in $SEEDS; do
  for w in registry pipeline; do
    if (( s % 2 )); then run "$w" "$s" parent; run "$w" "$s" change
    else run "$w" "$s" change; run "$w" "$s" parent; fi
  done
done
python3 "$REPO/tools/perfbench_table.py" "$OUT"
