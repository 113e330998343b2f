"""DuckDB oracle check for the benchmark's saved results.

Each saved result (a parquet directory written by the engine) is compared
with its entry's oracle SQL run by DuckDB over the same input tables. Both
sides are canonicalised the way the repository's `tools/check.py` does it:
columns sorted by name, rows sorted by every column, floats rounded to 9
places, then compared as strings cell by cell after matching the column
names and the row count.
"""
import os

import duckdb

NO_RESULT = "no saved result"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cell(v):
    return round(v, 9) if isinstance(v, float) else v


def compare(got, want):
    """None when the frames agree, else a one-line reason."""
    g, w = _canon(got), _canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    for col in g.columns:
        gv = [_cell(x) for x in g[col].tolist()]
        wv = [_cell(x) for x in w[col].tolist()]
        for i, (a, b) in enumerate(zip(gv, wv)):
            if str(a) != str(b):
                return f"col={col} row={i} engine={a!r} oracle={b!r}"
    return None


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t + '.parquet')}'")
    return con


def check(data_dir, out_dir, oracles, names):
    """Map each name to None (matches its oracle) or a failure reason."""
    con = connect(data_dir)
    verdict = {}
    for name in names:
        sql = oracles.get(name)
        path = os.path.join(out_dir, name)
        if sql is None:
            verdict[name] = "no oracle"
        elif not os.path.isdir(path):
            verdict[name] = NO_RESULT
        else:
            try:
                got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
                want = con.sql(sql).df()
                verdict[name] = compare(got, want)
            except Exception as e:  # a broken result counts as wrong
                verdict[name] = f"exception {type(e).__name__}: {e}"[:300]
    con.close()
    return verdict
