"""Fixture-table scans (op E1) and view registration.

Plain ``spark.read.parquet`` — Catalyst handles predicate pushdown and
column pruning, so callers express filters/projections declaratively and
let the scan prune (SURVEY.md §4).

Nanosecond-timestamp note: the ``events`` fixture stores
``timestamp[ns]``, which Spark 4 refuses by default
(PARQUET_TYPE_ILLEGAL). We flip ``spark.sql.legacy.parquet.nanosAsLong``
(a runtime conf) so the scan yields epoch-nanos longs, then rebuild a
proper ``TimestampType`` with integer arithmetic
(``timestamp_micros(ts DIV 1000)`` — floor to microseconds, exactly what
DuckDB's µs timestamps do, and no double-precision loss on ~1e18 nanos).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ccxt_ohlcv_fetcher_spark.artifacts import fingerprint
from ccxt_ohlcv_fetcher_spark.schemas import FIXTURE_SCHEMAS, TABLE_NAMES


# Tables whose per-row work fans out (shingling, LSH, byte kernels) —
# worth a widening shuffle when the scan yields too few splits. Everything
# else (dims, facts with cheap per-row exprs) is better left at its scan
# partitioning: widening a 5-row dim just adds 32-task scheduling overhead
# to every downstream stage.
FANOUT_TABLES = frozenset({"documents", "embeddings"})

# Deterministic high-cardinality widen keys per table (guide §2.5: hash
# a deterministic key into 100x the partition count; round-robin
# repartition would pay an extra local sort of the whole scan —
# spark.sql.execution.sortBeforeRepartition — and is retry-unsafe for
# rand-derived keys).
WIDEN_KEYS: dict[str, tuple[str, ...]] = {
    "lineitem": ("l_orderkey", "l_linenumber"),
    "orders": ("o_orderkey",),
    "events": ("event_id",),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "supplier": ("s_suppkey",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


# below this the widening shuffle is pure scheduling overhead: even a
# maximal fan-out op over a few hundred rows finishes faster on one
# task than the exchange + 32-task wave costs (r12's 22-query negative
# A/B was exactly this shape for the dim-sized tables)
_WIDEN_MIN_ROWS = 1000

# artifacts.fingerprint(path) -> (n_rows, n_row_groups, total_bytes):
# parquet FOOTER metadata only — never row data — so this is
# file-listing-cache territory (Spark keeps the equivalent per session),
# not result caching. The fingerprint is per part file, so a part
# rewritten in place is re-read.
_FOOTER_STATS: dict[tuple, tuple[int, int, int]] = {}


def _parquet_footer_stats(path: str) -> tuple[int, int, int]:
    """(n_rows, n_row_groups, total_bytes) for a parquet file or
    directory of part files, from the footers (driver-side metadata
    read, ~ms; replaces the r12 ``df.rdd.getNumPartitions()`` which
    materialized the plan into an RDD on the driver per load)."""
    import os

    import pyarrow.parquet as pq

    key = fingerprint(path)
    hit = _FOOTER_STATS.get(key)
    if hit is not None:
        return hit
    root, parts = key
    rows = groups = 0
    for rel, _mtime, _size in parts:
        meta = pq.ParquetFile(os.path.normpath(os.path.join(root, rel))).metadata
        rows += meta.num_rows
        groups += meta.num_row_groups
    _FOOTER_STATS[key] = (rows, groups, sum(size for _rel, _mtime, size in parts))
    return _FOOTER_STATS[key]


def _size_to_bytes(v: str) -> int:
    v = v.strip().lower().removesuffix("b")
    mult = 1
    if v and v[-1] in "kmg":
        mult = {"k": 1024, "m": 1024**2, "g": 1024**3}[v[-1]]
        v = v[:-1]
    return int(float(v) * mult)


def _scan_split_estimate(spark: SparkSession, path: str) -> tuple[int, int]:
    """(estimated scan splits, n_rows) for a parquet path.

    Spark carves files into ``maxPartitionBytes`` byte ranges (each file
    additionally charged ``openCostInBytes``), but a row group is
    consumed whole by the split owning its midpoint — so the EFFECTIVE
    scan parallelism is bounded by both the byte-range count and the
    total row-group count. Derived entirely from footer metadata."""
    rows, groups, size = _parquet_footer_stats(path)
    max_pb = _size_to_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    byte_splits = max(1, -(-size // max_pb))
    return min(byte_splits, max(groups, 1)), rows


def load_table(
    spark: SparkSession, sf_dir: str, name: str, widen: bool | None = None
) -> DataFrame:
    """Read one fixture table from ``{sf_dir}/{name}.parquet``.

    ``widen`` (default: only for :data:`FANOUT_TABLES`): a parquet file
    is splittable only at row-group boundaries, so a small
    single-row-group table scans as ONE partition and every downstream
    fan-out op (explode/shingle/LSH, Expand-shaped aggregates, exact
    percentile buffers) runs on one core. When the scan yields fewer
    splits than ``defaultParallelism``, repartition up to it — a
    shuffle of a few MB that buys full-cluster parallelism.
    At 100 TB the scan already has thousands of splits and this branch
    never triggers (zero cost); the explicit partition count also opts
    out of AQE coalescing, which would otherwise fold tiny partitions
    right back together. The spread key is a deterministic hash of the
    table's :data:`WIDEN_KEYS` into 100x the partition count (r12:
    round-robin repartition first pays a local sort of the scan —
    sortBeforeRepartition — measured ~0.5 s extra on the 600k-row
    fixture fact; the hash form does not).

    Widening is strictly OPT-IN per call site beyond the fan-out
    tables: an r12 sweep over 22 candidate queries measured the extra
    exchange as a net LOSS for most scan-cheap shapes — only
    Expand-heavy aggregates (cube, multi-count-distinct profiles) and
    ObjectHashAggregate buffers (exact percentiles/median) win.
    """
    if widen is None:
        widen = name in FANOUT_TABLES
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # tz-proof every query: date_trunc & friends are session-tz dependent
    # and the driver's session may not be UTC (runtime conf, safe to set)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if widen:
        parallelism = spark.sparkContext.defaultParallelism
        # gate on input stats (r13): footer-derived split estimate vs
        # the cluster parallelism AND a row-count floor — a
        # multi-row-group input at scale already scans wide and skips
        # the exchange; a dim-sized table is never worth it
        splits, rows = _scan_split_estimate(spark, path)
        if splits < parallelism and rows >= _WIDEN_MIN_ROWS:
            key = WIDEN_KEYS.get(name)
            if key:
                df = df.repartition(
                    parallelism,
                    F.pmod(F.xxhash64(*key), F.lit(100 * parallelism)),
                )
            else:
                df = df.repartition(parallelism)
    expected = FIXTURE_SCHEMAS.get(name)
    if expected is not None:
        actual = {f.name: f.dataType for f in df.schema.fields}
        for f in expected.fields:
            if isinstance(f.dataType, T.TimestampType) and isinstance(
                actual.get(f.name), T.LongType
            ):
                # epoch-nanos long (nanosAsLong) -> microsecond timestamp
                df = df.withColumn(
                    f.name, F.timestamp_micros(F.expr(f"{f.name} DIV 1000"))
                )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> None:
    """Register every fixture table as a temp view (for the SQL API)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
