"""Order-independent output digests and the DuckDB oracle cross-check.

A digest is the row count plus a hash of the rows, each rendered the way the
oracle gate (tools/check.py) renders them: columns sorted by name, floats at
6 decimals, rows sorted. The same rendering is applied to a key's Spark
output and to its oracle SQL's DuckDB result, so a pinned digest that equals
the oracle's digest pins an output the oracle agrees with.
"""
import glob
import hashlib
import math
import os

import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(v):
    if isinstance(v, (np.floating, float)):
        if math.isnan(v):
            return "nan"
        s = f"{round(float(v), 6):.6f}"
        return "0.000000" if s == "-0.000000" else s
    if isinstance(v, (np.integer, int)) and not isinstance(v, (bool, np.bool_)):
        return repr(int(v))
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x)}" for k, x in sorted(v.items())) + "}"
    if v is None or v is pd.NA:
        return "None"
    return repr(v)


def digest_frame(df):
    """{"rows": n, "hash": h} of a pandas DataFrame, independent of row and
    column order."""
    df = df[sorted(df.columns)]
    rows = sorted("\x1f".join(norm(v) for v in t)
                  for t in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    h.update(("\x1e".join(sorted(df.columns)) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return {"rows": len(rows), "hash": h.hexdigest()[:16]}


def connect(data_dir=None):
    import duckdb
    con = duckdb.connect()
    if data_dir:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def digest_parquet_dir(con, path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet output in {path}")
    return digest_frame(con.execute(f"SELECT * FROM '{path}/*.parquet'").df())


def digest_oracle(con, sql):
    return digest_frame(con.execute(sql).df())


def compare(observed, pinned):
    """Keys whose observed digest is missing, failed, or differs from the
    pinned one, with the reason. `observed` maps key -> digest or an error
    string; `pinned` maps key -> {"rows", "hash", ...}."""
    bad = {}
    for key, got in observed.items():
        want = pinned.get(key)
        if isinstance(got, str):
            bad[key] = got
        elif want is None:
            bad[key] = "no pinned digest"
        elif (got["rows"], got["hash"]) != (want["rows"], want["hash"]):
            bad[key] = (f"digest {got['rows']} rows/{got['hash']} != pinned "
                        f"{want['rows']} rows/{want['hash']}")
    return bad
