"""Query registry: every implemented operator from SURVEY.md §2 registers
one named query (Spark DataFrame builder) plus, when SQL-expressible, a
DuckDB oracle SQL string. The driver contract (`__spark_entry__.py`)
serves `queries()` / `oracle_sql()` straight from this registry.

Determinism conventions (SURVEY.md §7 "what's hard", item c):

- **Exact decimal aggregation.** Double columns are cast to
  ``DECIMAL(18,6)`` *before* SUM/AVG, then the aggregate is cast back to
  double. Decimal addition is associative, so Spark's partial/final
  partial-aggregation order and DuckDB's sequential order produce
  bit-identical results; a raw double SUM would differ in the last bits
  and fail the driver's value-hash. Picked values (min/max/min_by/max_by)
  stay double — they're exact copies of input values.
- **Epoch-ms bigints, not timestamps, in outputs.** Spark reads the
  fixture timestamps as session-TZ (UTC) instants, DuckDB as naive;
  emitting ``unix_millis`` / ``epoch_ms`` sidesteps tz-awareness
  mismatches in the comparison layer.
- **Deterministic tie-breaks.** Every window/order used for ranking or
  first/last-style picks orders by a unique key suffix.
- **Aligned aliases.** Every computed column is aliased identically in
  the Spark builder and the oracle SQL (driver compares by sorted column
  name).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB ANSI SQL, or None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, doc or (fn.__doc__ or ""), tags)
        return fn

    return deco


# --- shared determinism helpers ------------------------------------------

def dec(col: Column | str, scale: int = 6) -> Column:
    """Cast to exact decimal before aggregation (see module docstring)."""
    col = F.col(col) if isinstance(col, str) else col
    return col.cast(f"decimal(18,{scale})")


def dsum(col: Column | str) -> Column:
    """Order-insensitive exact SUM of a double column, returned as double."""
    return F.sum(dec(col)).cast("double")


def davg(col: Column | str) -> Column:
    """Exact-sum AVG: decimal sum cast to double, divided by count."""
    col = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(col)).cast("double") / F.count(col)


def ms(col: Column | str) -> Column:
    """Timestamp -> epoch milliseconds bigint (matches DuckDB epoch_ms).

    Casts through TIMESTAMP first: parquet NTZ columns (orders/lineitem
    dates) become UTC instants under the pinned session timezone, which
    is exactly how the naive-timestamp oracle reads them.
    """
    col = F.col(col) if isinstance(col, str) else col
    return F.unix_millis(col.cast("timestamp"))


# SQL-side counterparts (DuckDB dialect), used inside oracle strings.
def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) / COUNT({expr})"


def sql_ms(expr: str) -> str:
    return f"CAST(epoch_ms({expr}) AS BIGINT)"
