#!/usr/bin/env python3
"""Merge alternated paired-bench legs (.wt-paired-{base,tip}-N.json,
written by tools/paired_bench.sh) into one standalone paired record on
stdout. Estimator matches the bench's own: per-query MIN across legs per
side (noise only inflates), ratio = tip/base."""
import sys, json, glob, time

base_sha, tip_sha, sf, legs = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])

def collect(side):
    out = {}
    for f in glob.glob(f".wt-paired-{side}-batch-*.json"):
        for k, v in json.load(open(f))["queries"].items():
            if v >= 0:
                out.setdefault(k, []).append(v)
    return {k: min(v) for k, v in out.items()}

base, tip = collect("base"), collect("tip")
shared = sorted(set(base) & set(tip))
queries = {k: {"base": base[k], "tip": tip[k],
               "ratio": round(tip[k] / base[k], 3) if base[k] > 0 else None}
           for k in shared}
tb, tt = sum(base[k] for k in shared), sum(tip[k] for k in shared)
print(json.dumps({
    "baseline_sha": base_sha, "tip_sha": tip_sha, "sf": sf,
    "legs_per_side": legs, "generated_unix": int(time.time()),
    "estimator": "per_query_min_across_alternated_legs",
    "n_queries": len(shared), "total_base": round(tb, 3),
    "total_tip": round(tt, 3),
    "ratio_total": round(tt / tb, 3) if tb else None,
    "only_in_tip": sorted(set(tip) - set(base)),
    "only_in_base": sorted(set(base) - set(tip)),
    "queries": queries}, indent=None))
