"""Checks each gate's warm-up output against its DuckDB oracle.

The comparison is insensitive to column and row order, as in
tools/check.py: columns are sorted by name, rows by every column, and values
are compared with nulls equal; a numeric dtype mismatch is a failure. A gate
without oracle SQL must return at least one row.
"""
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got, exp):
    """None when the frames hold the same rows, else the first difference."""
    g, e = _norm(got), _norm(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for c in g.columns:
        gc, ec = g[c], e[c]
        if gc.dtype != ec.dtype and (gc.dtype.kind in "iuf" or ec.dtype.kind in "iuf"):
            return f"dtype {c}: {gc.dtype} vs {ec.dtype}"
        try:
            same = bool(((gc.isna() & ec.isna()) | (gc == ec)).all())
        except (TypeError, ValueError):
            same = gc.astype(str).equals(ec.astype(str))
        if not same:
            return f"column {c} differs"
    return None


def check(data_dir, out_dir, oracle_sql, ops, tmp_dir):
    """Returns {op: error} for every op whose output is missing or wrong."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    errors = {}
    for op in ops:
        path = os.path.join(out_dir, op)
        if not os.path.isdir(path):
            errors[op] = "no output"
            continue
        try:
            got = pd.read_parquet(path)
        except Exception as e:  # noqa: BLE001 -- an unreadable output is a failure
            errors[op] = f"unreadable output: {e}"
            continue
        sql = oracle_sql.get(op)
        if sql is None:
            if len(got) == 0:
                errors[op] = "no rows and no oracle"
            continue
        try:
            exp = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 -- an oracle error is a failure
            errors[op] = f"oracle error: {e}"
            continue
        diff = compare(got, exp)
        if diff:
            errors[op] = diff
    con.close()
    return errors
