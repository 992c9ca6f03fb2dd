"""Order-insensitive result hashing and the DuckDB oracle comparison.

``norm`` is the same dtype-tagged normalisation as ``scripts/gatecheck.py``
``_norm`` (floats rounded to 6 places and tagged apart from ints, NaN apart
from NULL), so a result that passes here passes the repository's gate.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb


def norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "NaN")
        return ("float", round(v, 6))
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def result_hash(columns, rows) -> str:
    """Hash of a result as a multiset of normalised rows over sorted
    column names: row order and column order do not matter."""
    cols = sorted(columns)
    idx = [list(columns).index(c) for c in cols]
    lines = sorted(repr(tuple(norm(r[i]) for i in idx)) for r in rows)
    h = hashlib.sha256(repr(cols).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_connection(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_hash(con, sql: str) -> str:
    rel = con.sql(sql)
    return result_hash(rel.columns, rel.fetchall())
