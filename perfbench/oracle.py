"""DuckDB oracle for the declared keys, with the comparison rule of
`tools/compare.py`: columns compared as a set of names, then row count,
per-column dtype and every value in row order, NaN equal to NaN (also
inside list cells). Each side is reduced to a hash of exactly what that
rule compares, so equal hashes mean the rule finds no difference. Oracle
hashes are cached per input digest: the oracle runs once per generated
input, after the timed phase.
"""
import hashlib
import json
import os

import duckdb
import numpy as np

from gen import TABLES


def _norm(x):
    if isinstance(x, np.ndarray):
        return [_norm(y) for y in x.tolist()]
    if isinstance(x, list):
        return [_norm(y) for y in x]
    if isinstance(x, float) and x != x:
        return "__nan__"
    return x


def frame_hash(df):
    cols = sorted(df.columns)
    h = hashlib.sha256(repr((cols, len(df))).encode())
    for c in cols:
        h.update(repr((c, str(df[c].dtype), [_norm(v) for v in df[c].tolist()])).encode())
    return h.hexdigest()[:24]


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_hashes(data_dir, input_digest, sql_by_key, cache_dir):
    """{key: hash or 'error: ...'} of the oracle SQL over the input."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"{input_digest}.json")
    cached = json.load(open(path)) if os.path.exists(path) else {}
    todo = {k: q for k, q in sql_by_key.items() if k not in cached}
    if todo:
        con = _connect(data_dir)
        for k, q in sorted(todo.items()):
            try:
                cached[k] = frame_hash(con.sql(q).df())
            except Exception as e:  # an oracle error is a failed check
                cached[k] = f"error: {str(e).splitlines()[0][:200]}"
                try:
                    con.execute("ROLLBACK")
                except Exception:
                    pass
        con.close()
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cached, fh, sort_keys=True)
        os.replace(tmp, path)
    return {k: cached[k] for k in sql_by_key}


def dump_hash(dump_dir):
    con = duckdb.connect()
    try:
        return frame_hash(con.sql(
            f"SELECT * FROM read_parquet('{dump_dir}/*.parquet')").df())
    finally:
        con.close()
