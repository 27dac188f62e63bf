"""Seeded inputs of the benchmark workloads, drawn from the sf0.1 pool.

`data/` holds real rows of the engine's sf0.1 testdata (cut by
`make_pool.py`). Each run takes a seeded subset of it, so every value
and distribution is the fixture's own; the seed only chooses rows. The
tables keep the fixture's columns and parquet types (the contract of
`graft.io.Sources`). The same seed always gives byte-identical inputs.

- elt_merge: ELT_ORDERS orders with their lineitems, the customers and
  parts they reference, all suppliers, nations and regions, and a sample
  of events; then one CDC batch per table in the mix of the library's
  declared merge keys (`merge_upsert_orders`,
  `merge_update_only_customer`; FIXTURES.md B4): 1/7 of the orders with
  `o_totalprice * 1.1` plus 5 new orders, and 1/5 of the customers with
  `c_acctbal + 100`. The seed picks which keys; the new orders are pool
  orders outside the base subset.
- vector_maintain: VEC_VECTORS embeddings, a seeded arrival batch and
  seeded probe ids.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# sizes: a run (JVM start, three set-ups, a cold and a warm pass) must fit
# the benchmark's time budget; the engine's per-job driver work dominates
# at these sizes (see README.md "Sizing and what is left out")
ELT_ORDERS = 3000
ELT_EVENTS = 2000
ORDER_UPDATE_SHARE = 7     # 1 in 7 orders updated (merge_upsert_orders)
ORDER_INSERTS = 5          # new orders per batch (merge_upsert_orders)
CUSTOMER_UPDATE_SHARE = 5  # 1 in 5 customers updated (merge_update_only_customer)
VEC_VECTORS = 400
VEC_BATCH = 16
VEC_PROBES = 12
# the declared vector keys seed their IVF quantizer with the 16 lowest
# vec_ids (`Similarity.seedCentroids(e, 16)` in graft.ExtQueries);
# Workloads.scala builds its index the same way
SEED_CENTROIDS = 16


def _pool(name):
    return pq.read_table(f"{POOL}/{name}.parquet")


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _rows(table, key, keep):
    return table.filter(pc.is_in(table[key], value_set=pa.array(keep)))


def _pick(rng, values, n):
    return np.sort(rng.choice(values, n, replace=False))


def gen_elt(rng, out):
    orders = _pool("orders")
    picked = rng.permutation(orders["o_orderkey"].to_numpy())
    base_keys = np.sort(picked[:ELT_ORDERS])
    new_keys = np.sort(picked[ELT_ORDERS:ELT_ORDERS + ORDER_INSERTS])
    t = {"orders": _rows(orders, "o_orderkey", base_keys)}
    lineitem = _pool("lineitem")
    t["lineitem"] = _rows(lineitem, "l_orderkey", base_keys)
    inserted = _rows(orders, "o_orderkey", new_keys)
    custkeys = np.union1d(t["orders"]["o_custkey"].to_numpy(),
                          inserted["o_custkey"].to_numpy())
    t["customer"] = _rows(_pool("customer"), "c_custkey", custkeys)
    t["part"] = _rows(_pool("part"), "p_partkey",
                      np.unique(t["lineitem"]["l_partkey"].to_numpy()))
    for name in ["supplier", "nation", "region"]:
        t[name] = _pool(name)
    events = _pool("events")
    t["events"] = events.take(pa.array(_pick(rng, events.num_rows, ELT_EVENTS)))
    for name, tab in t.items():
        _write(tab, f"{out}/{name}.parquet")

    # the CDC batch: the `seq` column orders the changelog (one row per key)
    upd = _rows(t["orders"], "o_orderkey",
                _pick(rng, base_keys, ELT_ORDERS // ORDER_UPDATE_SHARE))
    upd = upd.set_column(upd.schema.get_field_index("o_totalprice"), "o_totalprice",
                         pc.multiply(upd["o_totalprice"], 1.1))
    ob = pa.concat_tables([upd, inserted])
    ob = ob.take(pa.array(rng.permutation(ob.num_rows)))
    ob = ob.append_column("seq", pa.array(np.arange(ob.num_rows), pa.int64()))
    _write(ob, f"{out}/orders_cdc_0.parquet")
    cust = t["customer"]
    cu = _rows(cust, "c_custkey",
               _pick(rng, cust["c_custkey"].to_numpy(), cust.num_rows // CUSTOMER_UPDATE_SHARE))
    cu = cu.set_column(cu.schema.get_field_index("c_acctbal"), "c_acctbal",
                       pc.add(cu["c_acctbal"], 100.0))
    cu = cu.take(pa.array(rng.permutation(cu.num_rows)))
    _write(cu, f"{out}/customer_cdc_0.parquet")
    return {"tables": list(t), "batches": [{"orders": "orders_cdc_0.parquet",
                                            "customer": "customer_cdc_0.parquet"}]}


def gen_vector(rng, out):
    emb = _pool("embeddings")
    ids = _pick(rng, emb["vec_id"].to_numpy(), VEC_VECTORS)
    _write(_rows(emb, "vec_id", ids), f"{out}/embeddings.parquet")
    # arrivals stay above the seed-centroid ids (the SEED_CENTROIDS lowest
    # vec_ids), so the frozen quantizer of the base equals the union's
    arriving = _pick(rng, ids[SEED_CENTROIDS:], VEC_BATCH)
    probes = _pick(rng, ids, VEC_PROBES)
    return {"tables": ["embeddings"], "arriving": arriving.tolist(),
            "probes": probes.tolist()}


GENERATORS = {"elt_merge": gen_elt, "vector_maintain": gen_vector}


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return its input plan."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    plan = GENERATORS[workload](rng, out)
    plan["input_bytes"] = sum(
        os.path.getsize(os.path.join(out, f)) for f in os.listdir(out))
    plan["seed"] = seed
    with open(f"{out}/plan.json", "w") as f:
        json.dump(plan, f)
    return plan
