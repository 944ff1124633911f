"""Order-insensitive result hashing, shared by the Spark side and the
DuckDB oracle side, so a timed result is checked by comparing one digest.

Canonical form: lower-cased column names in sorted order, each value
normalized (decimals exactly, binary floats to 12 significant digits,
timestamps to ISO text, nested arrays and structs recursively), rows
sorted. The rules follow the engine's oracle comparison (exact values,
column names compared by name, row order ignored); the 12-digit float
form only absorbs last-bit summation-order drift between the two engines,
which exact DECIMAL arithmetic does not have.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
from collections.abc import Iterable, Sequence


def canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return int(v)
    if isinstance(v, decimal.Decimal):  # every digit; 1.50 and 1.5 are one value
        return "nan" if v.is_nan() else format(v.normalize(), "f")
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return float(f"{v:.12g}")
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "asDict"):  # a struct value, as Spark returns it
        v = v.asDict()
    if isinstance(v, dict):  # a struct value, as DuckDB returns it
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    if isinstance(v, Iterable):
        return tuple(canon(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return canon(v.item())
    return repr(v)


def result_hash(columns: Sequence[str], rows: Iterable[Sequence]) -> str:
    """Digest of a result set: independent of row order and column order."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for line in body:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()[:16]


def spark_hash(df, rows: list) -> str:
    """Hash a collected Spark result; ``df`` supplies the column names."""
    return result_hash(df.columns, rows)


def duck_connect(sf_dir: str, tables: Iterable[str]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def duck_hash(con, sql: str) -> str:
    rel = con.sql(sql)
    return result_hash(rel.columns, rel.fetchall())
