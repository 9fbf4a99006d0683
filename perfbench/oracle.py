"""Value-exact comparison of the set-up outputs with DuckDB.

The benchmark JVM writes each checked output to <work>/verify/<name>/ and
the oracle SQL of the registered query <name> to
<work>/verify/oracle_sql.json. DuckDB runs the SQL over the tables the
output was computed from: <work>/verify/tables/ if the JVM wrote a subset
there, else the generated tables in <work>. Columns are
sorted by name and rows by all columns; values must match exactly, with a
1e-9 absolute fallback for floats (the method of the repository's
correctness gate, kept here so the benchmark does not change when that
tool does).
"""
import json
import os
import threading
import time

import duckdb
import numpy as np
import pandas as pd

TABLES = ("events", "documents", "embeddings")
QUERY_LIMIT_S = 20


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c].dtype):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(df[c].dtype):
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _same(a, b):
    if sorted(a.columns) != sorted(b.columns):
        return False, f"schema {sorted(a.columns)} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return False, f"rows {len(a)} vs {len(b)}"
    a, b = _norm(a), _norm(b)
    for c in a.columns:
        x, y = a[c], b[c]
        if np.issubdtype(x.dtype, np.floating) or np.issubdtype(y.dtype, np.floating):
            xv, yv = x.astype(float).values, y.astype(float).values
            close = np.isclose(xv, yv, rtol=0, atol=1e-9, equal_nan=True)
            if not close.all():
                i = int(np.argmin(close))
                return False, f"col {c} row {i}: {xv[i]!r} vs {yv[i]!r}"
        elif not x.equals(y):
            i = int(np.argmax(x.values != y.values))
            return False, f"col {c} row {i}: {x.values[i]!r} vs {y.values[i]!r}"
    return True, f"{len(a)} rows"


def compare(work, deadline):
    """[(query, ok, message)] for every query the JVM wrote; a query not
    finished by `deadline` (time.monotonic()) has failed."""
    vdir = os.path.join(work, "verify")
    path = os.path.join(vdir, "oracle_sql.json")
    if not os.path.exists(path):
        return [("set-up", False, "the JVM wrote no oracle outputs")]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    # the tables the checked queries read: verify/tables when the JVM wrote
    # a subset there, else the generated tables
    tables = os.path.join(vdir, "tables")
    for t in TABLES:
        p = os.path.join(tables if os.path.isdir(tables) else work, f"{t}.parquet")
        if os.path.isdir(p):  # written by Spark: a directory of part files
            p = os.path.join(p, "*.parquet")
        if os.path.exists(p) or p.endswith("*.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = []
    for name, sql in json.load(open(path)).items():
        # an oracle that cannot finish in time is a failed check, not a hang
        timer = threading.Timer(max(0.0, min(QUERY_LIMIT_S, deadline - time.monotonic())), con.interrupt)
        timer.start()
        try:
            ok, msg = _same(pd.read_parquet(os.path.join(vdir, name)), con.execute(sql).fetchdf())
        except Exception as e:  # a query that failed is a failed check
            ok, msg = False, str(e).splitlines()[0][:300]
        finally:
            timer.cancel()
        out.append((name, ok, msg))
    return out
