#!/bin/bash
# One quiet pass of a scale-suite entry set on the generated fixtures at
# the given scale factors, one Bench process per scale, artifacts to
# target/scale/bench_sf<sf>[_$SCALE_TAG].json. Usage:
#   [SCALE_TAG=p1] tools/scalerun.sh <entries-csv> <sf> [<sf>...]
#
# PROVENANCE (VERDICT r13 wrong-item 1: a scale artifact whose provenance
# can drift from the code it ships with stops being evidence): each bench
# output gets a sidecar <out>.prov.json recording the commit, whether the
# working tree was clean, and the measurement regime. The tree is checked
# BEFORE and AFTER the run — a sample taken while the tree was dirty or
# while HEAD moved is stamped clean=false and the fold (scale_r16.py)
# refuses to label it as a HEAD measurement. The dirty pathspec is the
# MEASURED surface only (src/, build.sbt, the runner) -- an edit to a
# fold/analysis script during a run must not poison the record.
#
# Memory: sf>=1 runs get a large heap (the sf1 corpus is 500k docs and the
# exact-substring gram stream peaks well past the 8g default).
set -euo pipefail
cd "$(dirname "$0")/.."
entries="$1"; shift
tag="${SCALE_TAG:+_$SCALE_TAG}"
mkdir -p target/scale
commit0=$(git rev-parse HEAD)
dirty0=$(git status --porcelain -- src build.sbt tools/runjvm.sh | wc -l)
for sf in "$@"; do
  mem=8g
  case "$sf" in
    1|1.0) mem=64g ;;
    10|10.0) mem=96g ;;
  esac
  out="target/scale/bench_sf$sf$tag.json"
  echo "[scalerun] sf$sf (driver mem $mem) -> $out @ ${commit0:0:9} (dirty0=$dirty0)"
  SPARK_DRIVER_MEM=$mem \
  SPARK_GRAFT_SF_DIR="target/gen/sf$sf" \
  SPARK_GRAFT_BENCH_ONLY="$entries" \
  SPARK_GRAFT_BENCH_OUT="$out" \
    tools/runjvm.sh graft.Bench 2>"${out%.json}.err" | tail -1
  commit1=$(git rev-parse HEAD)
  dirty1=$(git status --porcelain -- src build.sbt tools/runjvm.sh | wc -l)
  clean="false"
  if [ "$commit0" = "$commit1" ] && [ "$dirty0" = "0" ] && [ "$dirty1" = "0" ]; then
    clean="true"
  fi
  # Record perf-experiment env overrides (ADVICE r15): a sample measured
  # under SPARK_GRAFT_CONF/JOBLOG is an A/B regime, not the official
  # sessionConfs regime — the fold (scale_r16.py) refuses such samples.
  cat > "${out%.json}.prov.json" <<EOF
{"commit": "$commit0", "clean": $clean, "runner": "jvm",
 "cpus": $(nproc), "heap": "$mem", "sf": "$sf", "entries": "$entries",
 "graft_conf": "${SPARK_GRAFT_CONF:-}", "graft_joblog": "${SPARK_GRAFT_JOBLOG:-}"}
EOF
done
