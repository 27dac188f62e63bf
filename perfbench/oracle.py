"""DuckDB oracle checks of one benchmark run.

Every read operation is compared with the DuckDB oracle text of its
declared query key (`graft.SparkEntry.oracleSql`), run over the same
generated input. Persisted state (MERGE targets, graph and vector
layouts) is compared with the relation a from-scratch
build over the same input gives. The compare is the canonical one of
`scripts/check_oracle.py`: columns sorted by name, rows sorted by every
column, values equal exactly.
"""
import os
import re

import duckdb
import pandas as pd


def canonical_diff(sdf, odf):
    """None if the frames hold the same relation, else a one-line reason."""
    sdf = sdf.reindex(sorted(sdf.columns), axis=1)
    odf = odf.reindex(sorted(odf.columns), axis=1)
    if list(sdf.columns) != list(odf.columns):
        return f"columns {list(sdf.columns)} vs {list(odf.columns)}"
    if sdf.shape != odf.shape:
        return f"shape {sdf.shape} vs {odf.shape}"
    cols = list(sdf.columns)
    if cols:
        sdf = sdf.sort_values(cols, kind="mergesort")
        odf = odf.sort_values(cols, kind="mergesort")
    try:
        pd.testing.assert_frame_equal(
            sdf.reset_index(drop=True), odf.reset_index(drop=True),
            check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


def _view(con, name, path):
    con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet('{path}')")


def _merged(con, name, key, batches, seq=None):
    """Apply CDC batches to table `name` as MERGE upserts; with `seq`, the
    last changelog row of a key within a batch wins."""
    for path in batches:
        src = f"read_parquet('{path}')"
        if seq:
            src = (f"(SELECT * EXCLUDE ({seq}, _rn) FROM (SELECT *, row_number() "
                   f"OVER (PARTITION BY {key} ORDER BY {seq} DESC) AS _rn "
                   f"FROM {src}) WHERE _rn = 1)")
        con.execute(f"CREATE OR REPLACE TEMP TABLE _stage AS SELECT * FROM {src}")
        con.execute(
            f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM _stage UNION ALL "
            f"SELECT * FROM {name} t WHERE NOT EXISTS "
            f"(SELECT 1 FROM _stage s WHERE s.{key} = t.{key})")


def _probe_sql(sql, probes):
    """The declared serving keys draw their probes as `vec_id % 97 = 0`;
    the benchmark's probes are seeded, so the rule becomes the id list."""
    ids = ", ".join(str(p) for p in probes)
    out, n = re.subn(r"vec_id % 97 = 0", f"vec_id IN ({ids})", sql)
    if n != 1:
        raise ValueError(f"expected one probe rule in the oracle text, found {n}")
    return out


def expectations(workload, inp, plan, oracle_sql, con):
    """name -> DuckDB SQL of the expected relation, views registered."""
    want = {}
    if workload == "elt_merge":
        for t in ["lineitem", "part", "supplier", "nation", "region"]:
            _view(con, t, f"{inp}/{t}.parquet")
        for t in ["orders", "customer"]:
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{inp}/{t}.parquet')")
        _merged(con, "orders", "o_orderkey",
                [f"{inp}/{b['orders']}" for b in plan["batches"]], seq="seq")
        _merged(con, "customer", "c_custkey",
                [f"{inp}/{b['customer']}" for b in plan["batches"]])
        want["state_orders"] = "SELECT * FROM orders"
        want["state_customer"] = "SELECT * FROM customer"
        for k, sql in oracle_sql.items():
            want[k.removeprefix("analytics_")] = sql
    elif workload == "vector_maintain":
        # the union corpus: after the fold, the layouts must equal a
        # from-scratch build over every generated vector
        _view(con, "embeddings", f"{inp}/embeddings.parquet")
        want["state_graph_layout"] = oracle_sql["knn_graph_appended_embeddings"]
        want["state_vector_layout"] = (
            "SELECT vec_id, CAST(embedding AS VARCHAR) AS embedding, label FROM embeddings")
        want["graph_search"] = _probe_sql(
            oracle_sql["graph_search_clustered_embeddings"], plan["probes"])
    return want


def check(workload, inp, plan, oracle_sql, dumps, threads):
    """name -> None (matches) or the reason it does not."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    verdict = {}
    for name, sql in expectations(workload, inp, plan, oracle_sql, con).items():
        d = f"{dumps}/{name}"
        if not os.path.isdir(d):
            verdict[name] = "no output dumped"
            continue
        cols = "*"
        if name == "state_vector_layout":
            cols = "vec_id, CAST(embedding AS VARCHAR) AS embedding, label"
        try:
            sdf = con.execute(f"SELECT {cols} FROM read_parquet('{d}/*.parquet')").df()
            odf = con.execute(sql).df()
            verdict[name] = canonical_diff(sdf, odf)
        except Exception as e:  # an oracle that cannot run is a failed check
            verdict[name] = f"{type(e).__name__}: {str(e).splitlines()[0]}"
    con.close()
    return verdict
