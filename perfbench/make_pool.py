#!/usr/bin/env python3
"""Cut the benchmark's input pool from the engine's sf0.1 testdata.

Usage: python3 perfbench/make_pool.py <sf0.1 testdata dir>

Writes `perfbench/data/`, the only data the benchmark ships. `gen.py`
draws each run's inputs from it by seed. The pool holds real rows of the
fixture, trimmed so the repository stays small:

- orders: a fixed sample of POOL_ORDERS orders, with all their lineitems,
  the customers they reference and the parts those lineitems reference;
- supplier, nation, region: whole;
- events: a fixed sample of POOL_EVENTS rows;
- embeddings: whole.

The sample is fixed (seed 0), so re-running the script gives the same
pool. Columns, types and row order (by key) are the fixture's own.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

POOL_ORDERS = 12_000
POOL_EVENTS = 8_000
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _rows(table, key, keep):
    """Rows of `table` whose `key` is in `keep`, sorted by `key`."""
    t = table.filter(pc.is_in(table[key], value_set=pa.array(keep)))
    return t.sort_by(key)


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    src = sys.argv[1]
    rng = np.random.default_rng(0)
    read = {t: pq.read_table(f"{src}/{t}.parquet") for t in [
        "orders", "lineitem", "customer", "part", "supplier", "nation", "region",
        "events", "embeddings"]}
    okeys = np.sort(rng.choice(read["orders"]["o_orderkey"].to_numpy(), POOL_ORDERS,
                               replace=False))
    pool = {"orders": _rows(read["orders"], "o_orderkey", okeys)}
    pool["lineitem"] = read["lineitem"].filter(
        pc.is_in(read["lineitem"]["l_orderkey"], value_set=pa.array(okeys))
    ).sort_by([("l_orderkey", "ascending"), ("l_linenumber", "ascending")])
    pool["customer"] = _rows(read["customer"], "c_custkey",
                             np.unique(pool["orders"]["o_custkey"].to_numpy()))
    pool["part"] = _rows(read["part"], "p_partkey",
                         np.unique(pool["lineitem"]["l_partkey"].to_numpy()))
    for t in ["supplier", "nation", "region", "embeddings"]:
        pool[t] = read[t]
    ev = read["events"]
    pool["events"] = ev.take(pa.array(np.sort(rng.choice(ev.num_rows, POOL_EVENTS,
                                                         replace=False))))
    os.makedirs(OUT, exist_ok=True)
    for t, tab in pool.items():
        pq.write_table(tab, f"{OUT}/{t}.parquet", compression="zstd")
        print(f"{t:12s} {tab.num_rows:7d} rows  {os.path.getsize(f'{OUT}/{t}.parquet'):9d} B")


if __name__ == "__main__":
    main()
