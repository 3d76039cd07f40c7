"""Order-insensitive value hash shared by the expected-output generator
(DuckDB oracle rows) and the benchmark's correctness check (Spark rows).

Both engines return plain Python values (``collect()`` / ``fetchall()``),
so one canonical text form per value gives one hash for equal multisets
of rows. Floats are compared by exact bits (``repr``), as the engine's
oracle convention requires; integers of any width hash alike.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math


def _canon(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "fnan"
        return "f0.0" if v == 0 else f"f{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"d{v.normalize()}"
    if isinstance(v, str):
        return "s" + v.replace("\\", "\\\\").replace("|", "\\|")
    if isinstance(v, (dt.datetime, dt.date)):
        return "t" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):  # pyspark Row (struct value)
        return _canon(tuple(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def rows_digest(columns: list[str], rows) -> dict:
    """``{"rows", "columns", "hash"}`` of a result, with columns taken in
    sorted-name order and rows as a multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"rows": len(lines), "columns": sorted(columns), "hash": h}


def mismatch(expected: dict, got: dict) -> str | None:
    """Why ``got`` fails ``expected``, or None. An expected entry without
    a hash is a row-count check (the query has no oracle)."""
    if got["rows"] != expected["rows"]:
        return f"rows {got['rows']} != expected {expected['rows']}"
    if expected.get("hash") is None:
        return None
    if got["columns"] != expected["columns"]:
        return f"columns {got['columns']} != expected {expected['columns']}"
    if got["hash"] != expected["hash"]:
        return "value hash differs from the oracle's"
    return None
