"""Oracle check for the benchmark: each saved query result against the
DuckDB oracle SQL of `SparkEntry.oracleSql`, with the rules of the repo's
correctness gate (`tools/compare.py`): columns sorted by name, rows sorted
by every column, floats equal within rtol=1e-9 / atol=1e-12, other values
equal as strings, and an int column never equal to a float one."""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def open_fixtures(fixtures):
    """A DuckDB connection with one view per parquet table in FIXTURES."""
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(fixtures, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare(got, want):
    """None when the two pandas frames hold the same rows, else why not."""
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} vs {sorted(want.columns)}"
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    diffs = []
    for c in cols:
        a, b = g[c], w[c]
        if (a.dtype.kind in "iu") != (b.dtype.kind in "iu") and \
                {a.dtype.kind, b.dtype.kind} & set("fc"):
            diffs.append(f"{c}: dtype {a.dtype} vs {b.dtype}")
        elif a.dtype.kind in "fc" or b.dtype.kind in "fc":
            close = np.isclose(a.astype(float).to_numpy(), b.astype(float).to_numpy(),
                               rtol=1e-9, atol=1e-12, equal_nan=True)
            if not close.all():
                diffs.append(f"{c}: {(~close).sum()} values")
        else:
            same = a.astype(str).to_numpy() == b.astype(str).to_numpy()
            if not same.all():
                diffs.append(f"{c}: {(~same).sum()} values")
    return "; ".join(diffs) or None


def expected(con, sql, fixtures, cache):
    """The oracle's answer, kept in CACHE under a hash of the SQL and the
    fixture bytes: some oracles take seconds in DuckDB, and the answer
    cannot change while neither does."""
    key = hashlib.sha256(sql.encode())
    for path in sorted(glob.glob(os.path.join(fixtures, "*.parquet"))):
        with open(path, "rb") as f:
            key.update(f.read())
    path = os.path.join(cache, key.hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    want = con.execute(sql).df()
    os.makedirs(cache, exist_ok=True)
    want.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return want


def check(results, oracle_sql, fixtures, cache):
    """{query: None or the reason it failed} for every query in ORACLE_SQL,
    reading each result from RESULTS/<query>/*.parquet."""
    con = open_fixtures(fixtures)
    out = {}
    for name, sql in oracle_sql.items():
        files = sorted(glob.glob(os.path.join(results, name, "*.parquet")))
        if not files:
            out[name] = "no saved result"
            continue
        try:
            got = pq.ParquetDataset(files).read().to_pandas()
            out[name] = compare(got, expected(con, sql, fixtures, cache))
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"{type(e).__name__}: {e}"
    return out
