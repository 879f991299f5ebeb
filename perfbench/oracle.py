"""Correctness checks, run after the timed section with DuckDB.

Each check replays the engine's own registry oracle SQL (written by the
JVM to `oracle_sql.json`) on the same generated tables and compares it
with what the workload produced. A check returns the set of output keys
that differ; every operation that produced a differing output fails.
"""
import glob
import json
import math
import os
from decimal import Decimal

import duckdb

# The registry's pipeline oracles filter the analog measure '1-URGENT';
# the generated inputs carry real HRRP measure names instead, and
# HeartFailureEtl.run keeps the heart-failure one.
REGISTRY_MEASURE = "'1-URGENT'"
ETL_MEASURE = "'READM-30-HF-HRRP'"

DASHBOARD_UNION = {"n_hospitals", "avg_ratio", "by_state", "by_ownership"}
TOPN = {"highest", "lowest"}


def _connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for path in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _etl_sql(sql):
    if REGISTRY_MEASURE not in sql:
        raise ValueError("registry pipeline SQL no longer filters " + REGISTRY_MEASURE)
    return sql.replace(REGISTRY_MEASURE, ETL_MEASURE)


def fingerprint(con, relation):
    """Order-independent (row count, sum of row hashes) of a relation,
    columns taken in name order so column order does not matter."""
    cols = sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall())
    expr = ", ".join(f'"{c}"' for c in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({expr})::HUGEINT), 0) FROM {relation}").fetchone()
    return cols, int(n), int(h)


def _check_outputs(con, expected_sql, paths):
    expected = fingerprint(con, f"({expected_sql})")
    bad = set()
    for p in sorted(paths):
        got = fingerprint(con, f"read_parquet('{p}/*.parquet')")
        if got != expected:
            bad.add(p)
    return bad, {"oracle_rows": expected[1]}


def _canon(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    return str(v)


def _rows(cols, rows):
    """Rows as sorted tuples of canonical values, columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    return [json.dumps(r) for r in sorted(out, key=json.dumps)]


def _dashboard(con, sql, results):
    bad = set()
    ann_ready = False
    for key, res in results.items():
        kind = res["kind"]
        if kind in DASHBOARD_UNION:
            q = f"SELECT * FROM ({_etl_sql(sql['pipeline_dashboard'])}) WHERE which = '{kind}'"
        elif kind in TOPN:
            q = f"SELECT * FROM ({_etl_sql(sql['pipeline_topn'])}) WHERE which = '{kind}'"
        elif kind == "ann_probe":
            if not ann_ready:
                # one k-means replay serves every probed subset
                con.execute(f"CREATE TEMP TABLE ann AS {sql['e3_ivf_saved']}")
                ann_ready = True
            ids = ", ".join(str(i) for i in res["query_ids"])
            q = f"SELECT * FROM ann WHERE query_id IN ({ids})"
        else:
            q = sql[kind]
        cur = con.execute(q)
        cols = [d[0] for d in cur.description]
        want = _rows(cols, cur.fetchall())
        # the JVM already wrote columns and rows in name order
        got = [json.dumps([_canon(v) for v in r]) for r in res["rows"]]
        if sorted(res["cols"]) != sorted(cols) or sorted(got) != want:
            bad.add(key)
    return bad, {"distinct_results": len(results)}


def check(workload, inputs, work, result):
    """Return (failed output keys, details) for one run."""
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = _connect(os.path.join(inputs, "tables"))
    try:
        checks = {o["check"] for o in result["ops"] if o["ok"]}
        if workload == "etl_batch":
            return _check_outputs(con, _etl_sql(sql["pipeline_e2e"]), checks)
        if workload == "corpus_prep":
            return _check_outputs(con, sql["e6_full_prep"], checks)
        if workload == "dashboard_mix":
            return _dashboard(con, sql, result["results"])
        if workload == "event_stream":
            # the JVM compared the sink with its batch twin; a mismatch
            # already failed every file
            return set(), {"sink_windows": result["sink_windows"]}
        raise ValueError(workload)
    finally:
        con.close()
