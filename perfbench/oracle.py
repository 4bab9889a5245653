"""Compare query-row results written by the benchmark against DuckDB.

Each row's Spark result is a parquet directory `<results>/<row>/`; the
oracle SQL for every row is in `<results>/oracle_sql.json`. The oracle runs
in DuckDB over the same generated tables and must agree cell for cell:
floats by their raw IEEE-754 bits, rows compared as a sorted multiset after
ordering columns by name. A row the engine declares without oracle SQL (its
sketch results are engine-specific) is checked by its row count, which
ROW_COUNT_SQL computes exactly in DuckDB.
"""
import glob
import json
import math
import struct

import duckdb
import numpy as np
import pandas as pd

ROW_COUNT_SQL = {
    "q26_approx_agg": "SELECT count(DISTINCT l_returnflag) FROM lineitem",
}

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def cell_key(v):
    """Type-tagged canonical form of one cell; floats by raw bits."""
    if v is None:
        return "\x00null"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "f:nan" if math.isnan(f) else "f:" + struct.pack("<d", f).hex()
    if isinstance(v, (bool, np.bool_)):
        return "b:" + str(bool(v))
    if isinstance(v, (int, np.integer)):
        return "i:" + str(int(v))
    if isinstance(v, bytes):
        return "y:" + v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(cell_key(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(k + "=" + cell_key(x) for k, x in sorted(v.items())) + "}"
    try:
        if pd.isna(v):
            return "\x00null"
    except (TypeError, ValueError):
        pass
    return "s:" + str(v)


def frame_rows(df):
    df = df[sorted(df.columns)]
    return sorted(tuple(cell_key(v) for v in row)
                  for row in df.itertuples(index=False, name=None))


def check(data_dir, results_dir, rows):
    """Return {row: None if it matches, else a one-line reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    with open(f"{results_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    out = {}
    for name in rows:
        files = sorted(glob.glob(f"{results_dir}/{name}/*.parquet"))
        if not files:
            out[name] = "no result written"
            continue
        got = pd.concat([pd.read_parquet(p) for p in files])
        if name not in oracle:
            if name not in ROW_COUNT_SQL:
                out[name] = "no oracle SQL and no row-count reference"
                continue
            want = con.execute(ROW_COUNT_SQL[name]).fetchone()[0]
            out[name] = None if len(got) == want else f"rows {len(got)}, expected {want}"
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:  # the oracle itself must run
            out[name] = f"oracle error: {str(e).splitlines()[0][:120]}"
            continue
        if sorted(got.columns) != sorted(exp.columns):
            out[name] = f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
            continue
        if len(got) == 0 or len(got) != len(exp):
            out[name] = f"rows {len(got)}, oracle {len(exp)}"
            continue
        g, e = frame_rows(got), frame_rows(exp)
        bad = sum(1 for a, b in zip(g, e) if a != b)
        out[name] = None if bad == 0 else f"{bad}/{len(g)} rows differ"
    return out
