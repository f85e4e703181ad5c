#!/usr/bin/env bash
# Alternated per-query A/B of two revisions ("parent" and "change").
#
# Usage: tools/ab_queries.sh <parent-rev> <change-rev> <outDir>
#   env: SF_DIR (required: the corpus directory, TESTDATA.md),
#        QUERIES (required: comma-separated registry query names),
#        PAIRS (default 5),
#        WORK (scratch for the two checkouts, default ${TMPDIR:-/tmp}/graft_ab)
#
# Each revision is exported with `git archive` into its own directory and
# compiled there with the Spark distribution's scalac (the perfbench/build.py
# recipe) into that copy's target/scala-2.13/classes, so the two sides never
# share a class dir. Then, for each pair, both sides run
#   SPARK_GRAFT_BENCH_ONLY=<QUERIES> SPARK_GRAFT_BENCH_REPS=3 tools/run.sh graft.Bench
# one after the other, the first side alternating by pair (odd pairs: parent
# first). Bench writes each run's JSON line and per-query detail file to
# outDir as pair<N>_<side>.json / pair<N>_<side>_DETAIL.json;
# tools/ab_summarize.py reads them and the script ends by writing its table
# to outDir/summary.md. A run whose detail file already exists is kept, not
# repeated, so a larger PAIRS extends an earlier run directory.
set -euo pipefail
PARENT=${1:?parent rev}; CHANGE=${2:?change rev}
REPO=$(git rev-parse --show-toplevel)
OUT=$(realpath -m "${3:?outDir}")
SF_DIR=${SF_DIR:?set SF_DIR to the corpus directory}
QUERIES=${QUERIES:?set QUERIES to comma-separated query names}
PAIRS=${PAIRS:-5}
WORK=${WORK:-${TMPDIR:-/tmp}/graft_ab}
JARS=$(cd "$REPO/perfbench" && python3 -c 'import build; print(build.spark_jars())')
mkdir -p "$OUT" "$WORK"

build() { # <rev> <side>
  local dir="$WORK/$2"
  rm -rf "$dir"; mkdir -p "$dir/target/scala-2.13/classes"
  git -C "$REPO" archive "$1" | tar -x -C "$dir"
  find "$dir/src/main/scala" -name '*.scala' | sort > "$dir/sources.txt"
  java -Xss8m -Xmx2g -XX:ParallelGCThreads=2 -cp "$JARS/*" scala.tools.nsc.Main \
    -usejavacp -nowarn -d "$dir/target/scala-2.13/classes" @"$dir/sources.txt"
  echo "$2 $(git -C "$REPO" rev-parse "$1")" >> "$OUT/revs.txt"
}

run() { # <pair> <side>
  local dir="$WORK/$2" tag="pair$1_$2"
  [[ -e "$OUT/${tag}_DETAIL.json" ]] && return 0
  (cd "$dir" && SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_BENCH_ONLY="$QUERIES" \
    SPARK_GRAFT_BENCH_REPS=3 SPARK_GRAFT_BENCH_OUT="$OUT/$tag.json" \
    tools/run.sh graft.Bench > "$dir/$tag.out" 2> "$dir/$tag.err")
}

: > "$OUT/revs.txt"
build "$PARENT" parent
build "$CHANGE" change
for p in $(seq 1 "$PAIRS"); do
  if (( p % 2 )); then run "$p" parent; run "$p" change
  else run "$p" change; run "$p" parent; fi
done
python3 "$REPO/tools/ab_summarize.py" "$OUT" > "$OUT/summary.md"
cat "$OUT/summary.md"
