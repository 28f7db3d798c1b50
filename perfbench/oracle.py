"""Oracle check: each op's output (written by the recorder's verify pass)
against `SparkEntry.oracleSql` run in DuckDB over the same generated input.

Rows are compared as multisets, without regard to order, after sorting the
columns by name; cell equality follows tools/check_oracle.py (exact values,
NULL and NaN equal to each other, ints equal to floats of the same value).
Oracle results are cached in the input directory, keyed by op and SQL text,
so each (workload, seed) pays for the DuckDB run once. Ops without an oracle
get a rows-only check: the output must have at least one row.
"""
import datetime
import decimal
import glob
import hashlib
import math
import os
import pickle

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    """A totally ordered, hashable stand-in for one cell."""
    if v is None or v is pd.NaT or v is pd.NA:
        return (0,)
    if isinstance(v, (bool, np.bool_)):
        return (1, bool(v))
    if isinstance(v, (int, np.integer)):
        return (2, int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return (0,) if math.isnan(f) else (2, f)
    if isinstance(v, str):
        return (3, v)
    if isinstance(v, (pd.Timestamp, datetime.datetime, np.datetime64)):
        t = pd.Timestamp(v)
        if t.tzinfo is not None:
            t = t.tz_convert("UTC").tz_localize(None)
        return (4, t.value)
    if isinstance(v, (datetime.date, datetime.time, datetime.timedelta, pd.Timedelta)):
        return (5, str(v))
    if isinstance(v, (bytes, bytearray)):
        return (6, bytes(v))
    if isinstance(v, dict):
        return (8, tuple(sorted((str(k), canon(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple, np.ndarray)):
        return (7, tuple(canon(x) for x in v))
    return (9, repr(v))


def rows_of(df: pd.DataFrame):
    cols = sorted(df.columns)
    return cols, sorted(tuple(canon(v) for v in row)
                        for row in df[cols].itertuples(index=False, name=None))


def _connect(data_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{os.path.join(data_dir, 'duckdb-tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    return con


def _oracle_rows(con, data_dir, op, sql):
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(data_dir, "oracle", f"{op}-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    got = rows_of(con.execute(sql).df())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(got, f)
    os.replace(path + ".tmp", path)
    return got


def check(ops, data_dir, verify_dir, oracle_sql, verify_errors):
    """Returns {op: None when correct, else the reason}."""
    con = None
    out = {}
    for op in ops:
        if op in verify_errors:
            out[op] = "threw: " + verify_errors[op]
            continue
        files = sorted(glob.glob(os.path.join(verify_dir, op, "*.parquet")))
        if not files:
            out[op] = "no output written"
            continue
        con = con or _connect(data_dir)
        got_cols, got = rows_of(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
        sql = oracle_sql.get(op)
        if sql is None:
            out[op] = None if got else "rows-only check: no rows"
            continue
        try:
            want_cols, want = _oracle_rows(con, data_dir, op, sql)
        except duckdb.Error as e:
            out[op] = f"oracle SQL failed: {e}"
            continue
        if got_cols != want_cols:
            out[op] = f"columns {got_cols} != {want_cols}"
        elif len(got) != len(want):
            out[op] = f"rows {len(got)} != {len(want)}"
        elif got != want:
            bad = next(i for i, (g, w) in enumerate(zip(got, want)) if g != w)
            out[op] = f"values differ, first at sorted row {bad}: {got[bad]!r} != {want[bad]!r}"
        else:
            out[op] = None
    return out
