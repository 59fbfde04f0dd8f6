#!/usr/bin/env python3
"""Scale replay for the winnow_resolve oracle.

The oracle's tail is a RECURSIVE label-propagation CTE over the winnow
pair graph:

    walk(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.id)
    SELECT id AS doc_id, min(label) AS keep_id FROM walk
    GROUP BY id ORDER BY doc_id

At sf10 (500k documents) DuckDB's recursive-union dedup hash table
needs a single 16 GiB allocation and dies — the r11 sweep's one
structural OOM. But the tail's VALUE is elementary: edges carries both
orientations of every pair, so `walk` accumulates, for each node, the
labels of everything that can REACH it — i.e. its whole connected
component — and min(label) is the component's minimum doc_id (isolated
docs keep themselves). That is connected-components-min, computed here
by union-find on the driver over the pair list, with the pair list
itself still produced by THE ORACLE'S OWN SQL (everything up to and
including the `pairs` CTE runs verbatim in DuckDB — spillable
group-bys and windows, no recursion).

The substitution is textual and verified:
the script asserts the oracle contains the exact recursive tail it
replaces, so the union-find provably substitutes the oracle's own
definition rather than a re-derivation.

Usage: replay_winnow_resolve.py <verify_dir> <sf_dir> [workdir]
"""
import sys, json, glob, os
import duckdb

verify_dir, sf_dir = sys.argv[1], sys.argv[2]
workdir = sys.argv[3] if len(sys.argv) > 3 else ".duckwork"
os.makedirs(f"{workdir}/tmp", exist_ok=True)
oracle = json.load(open(f"{verify_dir}/oracle_sql.json"))["winnow_resolve"]

TAIL = """edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION SELECT b_id, a_id FROM pairs),
walk(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.id)
SELECT id AS doc_id, min(label) AS keep_id FROM walk
GROUP BY id ORDER BY doc_id"""

assert TAIL in oracle, ("winnow_resolve oracle no longer ends in the "
                        "recursive tail this replay substitutes — "
                        "re-verify the equivalence before trusting it")
assert ",\n" + TAIL in oracle
pairs_sql = oracle.replace(",\n" + TAIL, "\nSELECT a_id, b_id FROM pairs")

con = duckdb.connect()
con.sql(f"SET memory_limit='{os.environ.get('REPLAY_MEMORY_LIMIT', '60GB')}'")
con.sql(f"SET temp_directory='{workdir}/tmp'")
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = p.split("/")[-1].replace(".parquet", "")
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")

print("[winnow_resolve] building pair list via the oracle's own CTEs...",
      flush=True)
pairs = con.sql(pairs_sql).fetchall()
docs = [r[0] for r in con.sql(
    "SELECT doc_id FROM documents ORDER BY doc_id").fetchall()]
print(f"[winnow_resolve] {len(pairs)} pairs over {len(docs)} docs",
      flush=True)

# union-find with path compression; root tracks the component MINIMUM
# (union always hangs the larger id under the smaller, so find() lands
# on the min — exactly min(label) over the component)
parent = {}
def find(x):
    r = x
    while parent.get(r, r) != r:
        r = parent[r]
    while parent.get(x, x) != r:
        parent[x], x = r, parent[x]
    return r
for a, b in pairs:
    ra, rb = find(a), find(b)
    if ra != rb:
        if ra < rb:
            parent[rb] = ra
        else:
            parent[ra] = rb

import pyarrow as pa
res = pa.table({"doc_id": pa.array(docs, type=pa.int64()),
                "keep_id": pa.array([find(d) for d in docs],
                                    type=pa.int64())})
con.register("pyres", res)

# digest exactly like compare_digest.py: both sides rendered through the
# same DuckDB VARCHAR formatter, order-independent (count/sum/min/max of
# the row hash)
def digest(rel_sql, cols):
    row = "hash(concat_ws('\x1f', " + ", ".join(
        f'COALESCE(CAST("{c}" AS VARCHAR), \'\x1e\')' for c in cols) + "))"
    q = (f"SELECT count(*) AS n, sum({row}) AS s, min({row}) AS lo, "
         f"max({row}) AS hi FROM ({rel_sql})")
    n, s, lo, hi = con.sql(q).fetchone()
    return (n, None if s is None else int(s) % (1 << 64), lo, hi)

spark_src = (f"SELECT * FROM "
             f"read_parquet('{verify_dir}/winnow_resolve/*.parquet')")
cols = sorted(r[0] for r in con.sql(f"DESCRIBE ({spark_src})").fetchall())
assert cols == ["doc_id", "keep_id"], cols
ds = digest(spark_src, cols)
do = digest("SELECT doc_id, keep_id FROM pyres", cols)
if ds == do:
    print(f"OK   winnow_resolve ({ds[0]} rows, digest match, "
          f"union-find closure intervention)", flush=True)
    sys.exit(0)
print(f"FAIL winnow_resolve: digest {ds} vs {do}", flush=True)
sys.exit(1)
