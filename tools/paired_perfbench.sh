#!/bin/bash
# Paired A/B of one perfbench workload: a base commit against this
# checkout's working tree, in alternated pairs on the same box, so that a
# window of host noise hits both sides alike.
#
# Usage: tools/paired_perfbench.sh <base-sha> <workload> <pairs> <first-seed>
#
# Both sides are exported with `git archive` into fresh directories (b/
# the base, c/ the change) under a new `mktemp -d` dir in $TMPDIR, else
# /tmp, and each builds its own target/ there: a build directory is never
# copied, so one side's build cannot touch the other's classes. Keep
# $TMPDIR short: sbt's build socket lives under each tree and its path
# must fit a unix socket name (107 bytes). The change side is the working tree as
# `git add -A` would stage it, written to a tree object through a
# throwaway index (the checkout's index, HEAD and files are not touched).
#
# Pair i (0-based) runs seed first-seed+i on both sides, base first when i
# is even and change first when it is odd, for BENCHMARK.json's
# run_seconds. Both sides are built before the first leg; a failed build
# prints its errors and ends the run. Each leg's result line is printed
# as it lands; at the end, for every end-to-end metric in BENCHMARK.json:
# each side's median and quartiles, the ratio change/base of the medians,
# and how many pairs the change won (ties count for neither side). The
# export dir is removed at the end.
set -euo pipefail
if [ $# -ne 4 ]; then
  echo "usage: $0 <base-sha> <workload> <pairs> <first-seed>" >&2
  exit 2
fi
BASE_REF=$1 WORKLOAD=$2 PAIRS=$3 SEED0=$4
cd "$(git rev-parse --show-toplevel)"
BASE=$(git rev-parse --short "$BASE_REF^{commit}")
WORK=$(mktemp -d "${TMPDIR:-/tmp}/ppb.XXXXXX")
trap 'rm -rf "$WORK"' EXIT

cp "$(git rev-parse --git-path index)" "$WORK/index"
CHANGE=$(GIT_INDEX_FILE="$WORK/index" git add -A && GIT_INDEX_FILE="$WORK/index" git write-tree)
mkdir "$WORK/b" "$WORK/c" "$WORK/legs"
git archive "$BASE" | tar -x -C "$WORK/b"
git archive "$CHANGE" | tar -x -C "$WORK/c"
SECS=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$WORK/c/BENCHMARK.json")
echo "[paired] $WORKLOAD: base $BASE vs working tree (tree ${CHANGE:0:12})," \
  "$PAIRS pairs from seed $SEED0, $SECS s runs, in $WORK"

# each side's build, before any timed leg, through its own runner's build()
tree_of() { if [ "$1" = base ]; then echo "$WORK/b"; else echo "$WORK/c"; fi; }
for side in base change; do
  echo "[paired] building $side"
  if ! (cd "$(tree_of $side)" && python3 -c 'import sys; sys.path.insert(0, "perfbench")
import run; run.build()'); then
    grep -E "error|Error" "$(tree_of $side)/.bench_out/build.log" | head -n 20 || true
    exit 1
  fi
done

leg() { # $1 = side (base|change), $2 = pair index
  local side=$1 seed=$(($SEED0 + $2)) out="$WORK/legs/$1-$(($SEED0 + $2)).json"
  if (cd "$(tree_of $side)" && python3 perfbench/run.py --workload "$WORKLOAD" \
      --seed "$seed" --seconds "$SECS") > "$WORK/legs/$side-$seed.stdout" 2>&1; then
    tail -n 1 "$WORK/legs/$side-$seed.stdout" > "$out"
    echo "[paired] pair $2 seed $seed $side: $(cat "$out")"
  else
    echo "[paired] pair $2 seed $seed $side FAILED:"
    tail -n 5 "$WORK/legs/$side-$seed.stdout"
  fi
}

for i in $(seq 0 $(($PAIRS - 1))); do
  if [ $((i % 2)) -eq 0 ]; then leg base "$i"; leg change "$i"
  else leg change "$i"; leg base "$i"; fi
done

python3 - "$WORK" "$SEED0" "$PAIRS" <<'EOF'
import json, os, statistics, sys
work, seed0, pairs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
spec = json.load(open(os.path.join(work, "c", "BENCHMARK.json")))["end_to_end"]

def result(side, seed):
    p = os.path.join(work, "legs", f"{side}-{seed}.json")
    return json.load(open(p)) if os.path.exists(p) else None

runs = [(result("base", s), result("change", s)) for s in range(seed0, seed0 + pairs)]
for side, k in (("base", 0), ("change", 1)):
    got = [r[k] for r in runs if r[k] is not None]
    print(f"{side:6s}: {len(got)}/{pairs} legs ran, "
          f"{sum(1 for r in got if r['correct'])} passed every gate, "
          f"{sum(r['failed'] for r in got)} of {sum(r['attempted'] for r in got)} operations failed")

def quartiles(v):
    return statistics.quantiles(v, n=4) if len(v) > 1 else [v[0], v[0], v[0]]

print(f"{'metric':12s}" + "".join(f"{h:>15s}" for h in
      ("base median", "q1", "q3", "change median", "q1", "q3", "ratio")) + "  change won")
for m in spec:
    name, lower = m["name"], m["better"] == "lower"
    both = [(b["metrics"][name]["value"], c["metrics"][name]["value"]) for b, c in runs
            if b and c and name in b["metrics"] and name in c["metrics"]]
    if not both:
        print(f"{name:12s} (no pair reports it)")
        continue
    bs, cs = [b for b, _ in both], [c for _, c in both]
    won = sum(1 for b, c in both if (c < b if lower else c > b))
    bm, cm = statistics.median(bs), statistics.median(cs)
    bq, cq = quartiles(bs), quartiles(cs)
    ratio = f"{cm / bm:.3f}" if bm else "n/a"
    print(f"{name:12s}" + "".join(f"{v:15.3f}" for v in (bm, bq[0], bq[2], cm, cq[0], cq[2]))
          + f"{ratio:>15s}  {won}/{len(both)} ({m['better']} is better)")
EOF
