"""DuckDB oracle check for llm_batch's first pass.

The same compare as the repo's correctness gate: run each gate's oracle
SQL in DuckDB over the generated input tables, then compare with the
engine's output (columns sorted by name, rows sorted by all columns,
exact values; NaN equals NaN, None equals None).
"""
import glob
import json
import math
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ("documents", "embeddings")


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def null(x):
    return x is None or (isinstance(x, float) and math.isnan(x)) or (
        not isinstance(x, (list, tuple, dict)) and pd.isna(x) is True)


def diff(a, b):
    if list(a.columns) != list(b.columns):
        return f"columns differ: engine={list(a.columns)} oracle={list(b.columns)}"
    if len(a) != len(b):
        return f"row count differs: engine={len(a)} oracle={len(b)}"
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if null(x) and null(y):
                continue
            if x != y and str(x) != str(y):
                return f"col {c} row {i}: {x!r} != {y!r}"
    return None


def check(data_dir, out_dir):
    """[(gate, error)] for every gate whose output differs from its oracle."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    bad = []
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            bad.append((name, "no engine output"))
            continue
        got = pd.concat([pq.read_table(f).to_pandas() for f in files],
                        ignore_index=True)
        try:
            want = con.execute(sql).df()
        except Exception as e:  # an oracle that cannot run is a failure
            bad.append((name, f"oracle error: {e}"))
            continue
        err = diff(canon(got), canon(want))
        if err:
            bad.append((name, err))
    return bad
