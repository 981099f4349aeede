"""DuckDB oracle check for the analytics mix.

Runs an op's registered oracle SQL over the same parquet tables and
compares it with the Spark result: same column names, same row count and
the same multiset of rows (timestamps as ISO strings, floats equal to a
relative 1e-7), so row order never matters.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def connect(table_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(table_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _key(row: tuple) -> str:
    # floats enter the sort key at 6 digits, so rows whose floats differ
    # only in the last digits still line up
    return repr(tuple(f"{v:.6g}" if isinstance(v, float) else v for v in row))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        # engines sum floats in different orders; a rounded aggregate near a
        # rounding boundary can then differ by one unit in its last place
        return math.isclose(a, b, rel_tol=1e-7, abs_tol=1e-9)
    return a == b


def _canon(rows, idx: list[int]) -> list[tuple]:
    return sorted((tuple(_norm(r[i]) for i in idx) for r in rows), key=_key)


def mismatch(spark_rows, spark_cols: list[str], con, sql: str) -> str | None:
    """None when the Spark rows equal the oracle's, else a short reason."""
    cur = con.execute(sql)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} != oracle {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"{len(spark_rows)} rows != oracle {len(duck_rows)}"
    names = sorted(spark_cols)
    s = _canon(spark_rows, [spark_cols.index(c) for c in names])
    d = _canon(duck_rows, [duck_cols.index(c) for c in names])
    for i, (a, b) in enumerate(zip(s, d)):
        if len(a) != len(b) or not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {i} differs: {a!r} != oracle {b!r}"
    return None
