#!/usr/bin/env python3
"""Local (driver-side) oracle check: replicates the round driver's
DuckDB compare over a `graft.Verify` output directory.

Usage: python3 scripts/check_oracle.py [sfDir] [verifyOut] [key ...]

Runs each oracle_sql.json entry in DuckDB against the sfDir parquet
tables and value-compares with the Spark parquet dump (columns sorted
by name, exact match). Dev tool only — not part of the library.
"""
import duckdb, json, os, shutil, sys, tempfile

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_r6"
only = set(sys.argv[3:])

# DuckDB's memory_limit bounds the buffer memory its operators RESERVE,
# not what they touch: the list-heavy graph-walk oracles reserve past
# the default (80% of RAM, 12.5 GiB on a 15 GB box) and fail to pin a
# block while the process stays near 2 GB resident
# (graph_search_hnsw_embeddings: 1.96 GB peak RSS under a 20 GB limit;
# d4_select_embeddings fails under 10 GB, 2.26 GB peak RSS under 12 GB).
# Spill to a temporary directory; preserve_insertion_order=false lets
# operators spill without keeping row order (every oracle ends in its
# own total ORDER BY)
spill = tempfile.mkdtemp(prefix="check_oracle_", dir="/tmp")
con = duckdb.connect(config={
    "memory_limit": "20GB",
    "temp_directory": spill,
    "preserve_insertion_order": False,
})
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sf}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
n_ok = n_fail = n_skip = 0
for k in sorted(oracle):
    if only and k not in only:
        continue
    d = f"{out}/{k}"
    if not os.path.isdir(d):
        print(f"SKIP  {k} (no spark output)")
        n_skip += 1
        continue
    try:
        sdf = con.execute(
            f"SELECT * FROM read_parquet('{d}/*.parquet')").df()
        odf = con.execute(oracle[k]).df()
    except Exception as e:
        print(f"ERR   {k}: {e}")
        n_fail += 1
        continue
    # sort columns by name AND rows by all columns — the driver's
    # compare is order-insensitive after its own canonical sort, and
    # queries pin row order with a total ORDER BY anyway; sorting here
    # keeps a multi-part or glob-enumeration reorder from reporting a
    # spurious FAIL
    sdf = sdf.reindex(sorted(sdf.columns), axis=1)
    odf = odf.reindex(sorted(odf.columns), axis=1)
    cols = list(sdf.columns)
    if cols:
        sdf = sdf.sort_values(cols, kind="mergesort")
        odf = odf.sort_values(cols, kind="mergesort")
    sdf = sdf.reset_index(drop=True)
    odf = odf.reset_index(drop=True)
    if list(sdf.columns) != list(odf.columns):
        print(f"FAIL  {k}: columns {list(sdf.columns)} vs {list(odf.columns)}")
        n_fail += 1
        continue
    if sdf.shape != odf.shape:
        print(f"FAIL  {k}: shape {sdf.shape} vs {odf.shape}")
        n_fail += 1
        continue
    import pandas as pd
    try:
        pd.testing.assert_frame_equal(sdf, odf, check_dtype=False,
                                      check_exact=True)
        print(f"ok    {k} ({len(sdf)} rows)")
        n_ok += 1
    except AssertionError as e:
        print(f"FAIL  {k}: {str(e).splitlines()[0]}")
        n_fail += 1
con.close()
shutil.rmtree(spill, ignore_errors=True)
print(f"\n{n_ok} ok, {n_fail} fail, {n_skip} skipped")
sys.exit(1 if n_fail else 0)
