#!/bin/bash
# Paired-worktree A/B bench (round-11: the rounds-8/10 manual drift
# protocol as one command). Builds the baseline sha in a gitignored
# worktree, then alternates FULL bench legs baseline/tip/baseline/tip...
# on the same box, so host-noise windows hit both sides equally; the
# per-query paired ratios land in one standalone JSON record
# (self-describing: shas, sf, legs, timestamp).
#
# Usage: tools/paired_bench.sh <baseline-sha> [sf_dir] [legs_per_side] [only] [out]
#   out               defaults to paired_baseline.json; targeted
#                     adjudication runs should name their own file so a
#                     full-catalog pairing is not clobbered by a subset.
set -euo pipefail
SHA=$1
SF=${2:-/root/testdata/sf0.1}
LEGS=${3:-2}
ONLY=${4:-}
OUT=${5:-paired_baseline.json}
WT=.wt-baseline
ROOT=$(pwd)
TIP=$(git rev-parse --short HEAD)
BASE=$(git rev-parse --short "$SHA")

git worktree remove --force $WT 2>/dev/null || true
# stale leg files from a previously aborted run (set -e exits before the
# end-of-script rm) would be globbed by paired_merge.py and silently mix
# a different baseline/tip pair into this run's ratios — clear them first
rm -f .wt-paired-*.json
git worktree add --force $WT "$SHA" >/dev/null
echo "[paired] building baseline $BASE in $WT"
# copyResources too: plain `compile` leaves META-INF/services out of the
# worktree's classes dir, so the graft-feed streaming source would be
# unregistered in the baseline classes
(cd $WT && sbt -batch "compile; Compile/copyResources" >/dev/null)
sbt -batch "compile; Compile/copyResources" >/dev/null   # tip classes current

run_leg() { # $1=side(base|tip) $2=leg-index
  local side=$1 leg=$2 out classes dir
  out=$(pwd)/.wt-paired-$side-batch-$leg.json
  if [ "$side" = base ]; then classes=$(pwd)/$WT/target/scala-2.13/classes; dir=$WT
  else classes=$(pwd)/target/scala-2.13/classes; dir=.; fi
  echo "[paired] leg $leg $side"
  # always the TIP's runner (the baseline tree's jrun.sh may predate the
  # GRAFT_CLASSES override)
  (cd $dir && env GRAFT_CLASSES=$classes SPARK_GRAFT_SF_DIR=$SF \
    SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-48g} SPARK_GRAFT_BENCH_FULL=$out \
    ${ONLY:+SPARK_GRAFT_BENCH_ONLY=$ONLY} \
    "$ROOT"/tools/jrun.sh graft.Bench >/dev/null)
}

for leg in $(seq 1 "$LEGS"); do
  run_leg base "$leg"
  run_leg tip "$leg"
done

python3 tools/paired_merge.py "$BASE" "$TIP" "$SF" "$LEGS" \
  > "$OUT"
git worktree remove --force $WT
rm -f .wt-paired-*.json
echo "[paired] wrote $OUT:"
python3 -c "
import json, sys; d = json.load(open('$OUT'))
print('  total base %.1fs tip %.1fs ratio %.2fx' %
      (d['total_base'], d['total_tip'], d['ratio_total']))
worst = sorted(d['queries'].items(), key=lambda kv: -kv[1]['ratio'])[:5]
for k, v in worst:
    print('  %-28s base %6.2f tip %6.2f ratio %.2fx' %
          (k, v['base'], v['tip'], v['ratio']))"
