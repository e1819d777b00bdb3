"""Compare the check pass's outputs with the program's DuckDB oracle SQL
(SparkEntry.oracleSql) run on the same generated tables: same columns,
same row multiset, floats bit-identical."""
import glob
import json
import os
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd


def _equal(got, exp):
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    cols = list(got.columns)
    g = got.sort_values(by=cols, na_position="first").reset_index(drop=True)
    e = exp.sort_values(by=cols, na_position="first").reset_index(drop=True)
    for c in cols:
        if g[c].dtype.kind == "f" or e[c].dtype.kind == "f":
            a, b = g[c].astype(float).values, e[c].astype(float).values
            same = (a == b) | (np.isnan(a) & np.isnan(b))
        else:
            an, bn = pd.isna(g[c]).values, pd.isna(e[c]).values
            same = ((g[c].astype(object).values == e[c].astype(object).values) & ~an & ~bn) | (an & bn)
        if not same.all():
            return f"{int((~same).sum())}/{len(g)} rows differ in {c}"
    return None


def _connect(data):
    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    for f in glob.glob(f"{data}/*.parquet"):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    return con


def check_queries(data, check_dir):
    """Query key -> failure message, for every query in oracle_sql.json
    whose check output differs from its oracle (None when it matches)."""
    con = _connect(data)
    oracle = json.loads(Path(f"{data}/oracle_sql.json").read_text())
    out = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{check_dir}/{name}/*.parquet")
        if not files:
            out[name] = "no check output"
            continue
        try:
            out[name] = _equal(con.sql(f"SELECT * FROM '{check_dir}/{name}/*.parquet'").df(), con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"oracle error: {e}"
    return out
