"""Result checking: an order-insensitive hash of a result's rows, and the
DuckDB connection that computes the expected results on the same files."""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal

import duckdb


def _norm(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        # 6 decimals absorbs summation-order noise between the engines
        return repr(round(f, 6) + 0.0)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_norm(k)}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def rows_hash(columns: list[str], rows) -> str:
    """Hash of a result that ignores row order and column order."""
    order = sorted(range(len(columns)), key=lambda i: (columns[i], i))
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha1("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return f"{len(lines)}:{h.hexdigest()}"


def duck_hash(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    cur = con.execute(sql)
    return rows_hash([d[0] for d in cur.description], cur.fetchall())


def duck_connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one view per ``name -> FROM-clause source``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, src in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {src}")
    return con
