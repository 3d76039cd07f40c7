"""Ingest core — the reference pipeline's R-operators, Spark-first.

Reference behavior being re-expressed (citations into
``/root/reference/ccxt-ohlcv-fetch.py``):

- R8 positional projection: API rows ``[ts,o,h,l,c,v]`` -> named
  columns with ``int(ts)`` cast (`:57-66`).
- R9 overlap drop: the first row of a page equals the ``since`` cursor
  and must not be re-inserted (`:104` does ``batch[1:]``). We express it
  as a predicate ``ts > since`` — same net effect, but declarative and
  safe even when the API returns no overlap row.
- R10 incomplete-tail filter: drop a candle whose bucket hasn't closed:
  ``now - interval(timeframe) < candle_ts`` (`last_candle_is_incomplete`,
  `:141-163`; applied `:122-124`). The reference computes this in naive
  local time (`:151-152`) — a bug we fix by doing the arithmetic on UTC
  instants.
- R3 conflict-ignoring upsert: on PK violation drop the newest row,
  rollback, retry (`:71-75`) — net semantics "INSERT OR IGNORE". Spark
  has no storage-side PK, so idempotency becomes an explicit left-anti
  join against the existing keys of the *target partition only*
  (partition pruning keeps the anti-join sub-linear at 100 TB: we only
  read the (exchange,symbol,timeframe) partition being appended, and
  parquet row-group min/max stats on `timestamp` prune further since
  appends only ever overlap the tail).
- R4 resume offset: newest stored timestamp, ``ORDER BY timestamp DESC
  LIMIT 1`` over an index (`:86-91`). Spark: ``agg(max(timestamp))`` on
  the pruned partition — served by parquet footer stats.
- R2/R6 partitioned append: one SQLite file per (exchange, symbol,
  timeframe) (`gen_db_name`, `:134-138`) becomes ONE parquet dataset
  ``partitionBy("exchange","symbol","timeframe")``.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.functions.timeframe import timeframe_interval_expr
from ccxt_ohlcv_fetcher_spark.schemas import PRICE_TYPE

PARTITION_COLS = ("exchange", "symbol", "timeframe")
OHLCV_COLS = ("open", "high", "low", "close", "volume")

# 2014-01-01T00:00:00Z, the reference's DEFAULT_SINCE (`:26`).
DEFAULT_SINCE_MS = 1388534400000


def normalize_symbol(symbol: str) -> str:
    """``'XRP/USD' -> 'XRPUSD'`` (`gen_db_name`, `:135`)."""
    return symbol.replace("/", "")


def project_ohlcv_rows(
    spark: SparkSession,
    rows: Iterable[Iterable],
    exchange: str,
    symbol: str,
    timeframe: str,
) -> DataFrame:
    """R8: positional 6-wide API rows -> named, typed, partition-tagged.

    Mirrors `:57-66` (positional unpack + int(ts) cast) plus the
    partition columns that replace the per-file layout. Prices are
    coerced with ``float()``, so int-valued fields (``volume`` ``0``,
    which some exchanges return) and ``None`` are accepted.

    The page travels to the JVM as a ``pyarrow.Table``: Spark holds it
    as Arrow batches in a JVM-side RDD, so every later scan of the
    page (the append's key stats and anti-join) runs without a Python
    worker. A list of tuples would become a pickled ``PythonRDD`` that
    each scan re-runs in Python.
    """
    import pyarrow as pa

    cols = list(zip(*rows)) or [()] * 6
    page = pa.table(
        {
            "timestamp": pa.array(
                [None if t is None else int(t) for t in cols[0]], pa.int64()
            ),
            **{
                name: pa.array(
                    [None if v is None else float(v) for v in vals], pa.float64()
                )
                for name, vals in zip(OHLCV_COLS, cols[1:6])
            },
        }
    )
    df = spark.createDataFrame(page)
    # one canonical storage type across every write path (paging ingest,
    # streaming sink, SQLite migration): DecimalType faithful to the
    # reference's lossless string-stored prices (:39-43). Mixed
    # double/decimal appends into one dataset would conflict on read.
    for c in OHLCV_COLS:
        df = df.withColumn(c, F.col(c).cast(PRICE_TYPE))
    return (
        df.withColumn("exchange", F.lit(exchange))
        .withColumn("symbol", F.lit(normalize_symbol(symbol)))
        .withColumn("timeframe", F.lit(timeframe))
    )


def drop_overlap(df: DataFrame, since_ms: int | None, ts_col: str = "timestamp") -> DataFrame:
    """R9 (`:104`): keep only rows strictly newer than the cursor."""
    if since_ms is None:
        return df
    return df.filter(F.col(ts_col) > F.lit(since_ms))


def drop_incomplete_tail(
    df: DataFrame,
    timeframe: str,
    now_ms: int | None = None,
    ts_col: str = "timestamp",
) -> DataFrame:
    """R10 (`:141-163`): drop candles whose bucket hasn't closed yet.

    A candle opened at ``ts`` is complete iff ``ts + timeframe <= now``.
    ``now_ms=None`` uses the cluster clock (current_timestamp) — tests
    inject a fixed instant for determinism. UTC throughout (fixes the
    reference's naive-localtime quirk at `:151-152`).
    """
    now = (
        F.current_timestamp()
        if now_ms is None
        else F.timestamp_millis(F.lit(now_ms))
    )
    candle_end = F.timestamp_millis(F.col(ts_col)) + timeframe_interval_expr(timeframe)
    return df.filter(candle_end <= now)


class CandleDataset:
    """The reference's per-(exchange,symbol,timeframe) SQLite files as one
    Hive-partitioned parquet dataset (R2/R3/R4/R6).

    Queries that filter on the partition columns prune to a single
    directory — the Spark analog of "pick the right SQLite file"
    (SURVEY.md §1.3).
    """

    _BUCKET_FMT = {"day": "yyyy-MM-dd", "month": "yyyy-MM"}
    _BUCKET_PYFMT = {"day": "%Y-%m-%d", "month": "%Y-%m"}

    def __init__(self, spark: SparkSession, path: str, date_bucket: str | None = None):
        """``date_bucket`` adds a time dimension to the partition layout:
        ``.../timeframe=1m/dt=2024-03/part-*.parquet`` (``"day"`` or
        ``"month"``). The reference's layout stops at the symbol level
        (`gen_db_name`, `:134-138`) — fine for SQLite files that index
        internally, but at 100 TB a single (exchange,symbol,timeframe)
        directory grows unboundedly and every maintenance op (compaction,
        idempotent anti-join, retention) touches ALL of history. The date
        bucket caps the unit of work: appends only ever land in the
        newest bucket(s), so the anti-join prunes to those directories at
        the *partition* level (not just row-group stats), compaction
        rewrites only buckets that received appends, and retention is a
        directory delete. Time-range queries prune on ``dt`` before a
        single footer is read."""
        if date_bucket is not None and date_bucket not in self._BUCKET_FMT:
            raise ValueError(f"date_bucket must be one of {sorted(self._BUCKET_FMT)}")
        self.spark = spark
        self.path = path
        self.date_bucket = date_bucket

    def _bucket_expr(self, ts_col: str = "timestamp") -> Column:
        return F.date_format(
            F.timestamp_millis(F.col(ts_col)), self._BUCKET_FMT[self.date_bucket]
        )

    def _bucket_of(self, ts_ms: int) -> str:
        import datetime as _dt

        return _dt.datetime.fromtimestamp(
            ts_ms / 1000, tz=_dt.timezone.utc
        ).strftime(self._BUCKET_PYFMT[self.date_bucket])

    @property
    def _partition_cols(self) -> tuple[str, ...]:
        if self.date_bucket is None:
            return PARTITION_COLS
        return (*PARTITION_COLS, "dt")

    def _exists(self) -> bool:
        try:
            self.spark.read.parquet(self.path).schema
            return True
        except Exception:  # noqa: BLE001 — missing path surfaces as AnalysisException
            return False

    def read(
        self,
        exchange: str | None = None,
        symbol: str | None = None,
        timeframe: str | None = None,
        since_ms: int | None = None,
        until_ms: int | None = None,
    ) -> DataFrame:
        """Partition-pruned scan (filters on partition cols only).

        ``symbol`` accepts either the raw (``XRP/USD``) or stored
        (``XRPUSD``) form — partitions are stored normalized (`:135`).
        ``since_ms``/``until_ms`` bound the scan in time; under a
        date-bucketed layout they prune whole ``dt=`` directories before
        any footer is read, then the exact epoch-ms predicate trims
        within the boundary buckets via row-group stats.
        """
        df = self.spark.read.parquet(self.path)
        if symbol is not None:
            symbol = normalize_symbol(symbol)
        for col, val in zip(PARTITION_COLS, (exchange, symbol, timeframe)):
            if val is not None:
                df = df.filter(F.col(col) == val)
        if self.date_bucket is not None:
            if since_ms is not None:
                df = df.filter(F.col("dt") >= self._bucket_of(since_ms))
            if until_ms is not None:
                df = df.filter(F.col("dt") <= self._bucket_of(until_ms))
            df = df.drop("dt")  # layout detail, not part of the logical schema
        if since_ms is not None:
            df = df.filter(F.col("timestamp") >= since_ms)
        if until_ms is not None:
            df = df.filter(F.col("timestamp") <= until_ms)
        return df

    def resume_offset(self, exchange: str, symbol: str, timeframe: str) -> int | None:
        """R4 (`:86-91`, used at `:275`): newest stored epoch-ms, or None.

        ``max(timestamp)`` over one pruned partition — answered from
        parquet footer statistics, the columnar analog of the
        reference's ``timestamp_idx`` B-tree (`:45`).
        """
        if not self._exists():
            return None
        row = (
            self.read(exchange, symbol, timeframe)
            .agg(F.max("timestamp").alias("m"))
            .collect()[0]
        )
        return row["m"]

    def append_idempotent(self, batch: DataFrame) -> int:
        """R2+R3: bulk append with INSERT-OR-IGNORE semantics (`:69-75`).

        Anti-join the incoming batch against existing keys, pruned two
        ways so the join stays tiny at any history size: (a) partition
        pruning to the (exchange,symbol,timeframe) dirs present in the
        batch, (b) row-group pruning to ``timestamp >= min(batch.ts)`` —
        appends only ever overlap the tail, and parquet min/max stats
        skip all older row groups. The pruned key set is broadcast, so
        the batch never shuffles. Re-appending an identical batch is a
        no-op.
        """
        if self._exists():
            keys = [*PARTITION_COLS, "timestamp"]
            stats = batch.select(
                *PARTITION_COLS, F.col("timestamp").alias("_ts")
            ).groupBy(*PARTITION_COLS).agg(F.min("_ts").alias("_min_ts")).collect()
            if not stats:  # empty batch (e.g. re-delivered streaming batch)
                return 0
            existing = self.spark.read.parquet(self.path)
            cond = None
            for r in stats:
                c = (
                    (F.col("exchange") == r["exchange"])
                    & (F.col("symbol") == r["symbol"])
                    & (F.col("timeframe") == r["timeframe"])
                    & (F.col("timestamp") >= r["_min_ts"])
                )
                if self.date_bucket is not None:
                    # directory-level prune: appends only overlap the tail
                    # buckets, so skip every older dt= partition outright
                    c = c & (F.col("dt") >= self._bucket_of(r["_min_ts"]))
                cond = c if cond is None else (cond | c)
            existing = existing.filter(cond).select(*keys)
            batch = batch.join(F.broadcast(existing), on=keys, how="left_anti")
        if self.date_bucket is not None:
            batch = batch.withColumn("dt", self._bucket_expr())
        batch = batch.cache()
        try:
            n = batch.count()  # rows actually appended (post-dedup)
            if n:
                (
                    batch.repartition(*self._partition_cols)
                    .sortWithinPartitions("timestamp")  # R13: explicit order (`:70`)
                    .write.mode("append")
                    .option("compression", "zstd")  # storage-bound at scale
                    .partitionBy(*self._partition_cols)
                    .parquet(self.path)
                )
        finally:
            batch.unpersist()
        return n

    def compact(
        self,
        exchange: str | None = None,
        symbol: str | None = None,
        timeframe: str | None = None,
        since_ms: int | None = None,
    ) -> int:
        """Rewrite the selected partitions as one sorted file each.

        Micro-batch appends (streaming sink, page-at-a-time ingest)
        leave one small parquet file per batch per partition; scan cost
        and footer overhead grow with file count, not data size. This is
        the maintenance op that restores 1 file per partition (sorted by
        timestamp, so row-group min/max stats stay selective).

        Local-filesystem implementation: stage the rewrite next to the
        dataset, then atomically swap each partition directory. On an
        object store / production deployment the same rewrite runs
        through a table format's transactional rewrite (Delta OPTIMIZE,
        Iceberg rewrite_data_files) — the dataframe-side plan (one task
        per partition via ``repartition(*PARTITION_COLS)``) is identical.
        Returns the number of partition directories compacted.

        ``since_ms`` bounds the rewrite in time (date-bucketed layouts
        only; ignored — whole-partition rewrite — on the legacy layout,
        which has no sub-partition unit that can be swapped atomically).
        This is the 100 TB shape of the operation: appends only ever
        touch the newest bucket(s), so steady-state maintenance is
        ``compact(since_ms=<last watermark>)`` — a rewrite of a few tail
        directories, constant-size work regardless of history depth.
        ``since_ms`` rounds DOWN to its bucket edge: the boundary bucket
        is rewritten whole, never split.
        """
        if not self._exists():
            return 0
        tmp = f"{self.path}.compacting"
        src = self.spark.read.parquet(self.path)
        if symbol is not None:
            symbol = normalize_symbol(symbol)
        for col, val in zip(PARTITION_COLS, (exchange, symbol, timeframe)):
            if val is not None:
                src = src.filter(F.col(col) == val)
        if self.date_bucket is not None and since_ms is not None:
            src = src.filter(F.col("dt") >= self._bucket_of(since_ms))
        (
            src.repartition(*self._partition_cols)
            .sortWithinPartitions("timestamp")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .partitionBy(*self._partition_cols)
            .parquet(tmp)
        )
        swapped = 0
        for dirpath, _dirnames, filenames in os.walk(tmp):
            if not any(f.endswith(".parquet") for f in filenames):
                continue
            rel = os.path.relpath(dirpath, tmp)
            dest = os.path.join(self.path, rel)
            if os.path.isdir(dest):
                shutil.rmtree(dest)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.move(dirpath, dest)
            swapped += 1
        shutil.rmtree(tmp, ignore_errors=True)
        return swapped

    def vacuum(self, older_than_ms: int) -> int:
        """Retention: drop every date bucket that closed before
        ``older_than_ms``. Requires a date-bucketed layout — on it,
        retention is a *directory delete* (constant work per bucket, no
        rewrite, no tombstones), which is the whole point of carrying
        the ``dt=`` level at 100 TB. The cutoff rounds DOWN: the bucket
        containing ``older_than_ms`` is kept whole.

        Returns the number of bucket directories removed. (On a table
        format this is ``DELETE WHERE dt < ...`` + physical vacuum; the
        directory semantics are identical.)
        """
        if self.date_bucket is None:
            raise ValueError(
                "vacuum needs a date-bucketed layout; the legacy layout "
                "has no sub-partition retention unit (use compact() + a "
                "filtered rewrite instead)"
            )
        if not self._exists():
            return 0
        cutoff = self._bucket_of(older_than_ms)
        removed = 0
        for dirpath, dirnames, _filenames in os.walk(self.path):
            for d in list(dirnames):
                if d.startswith("dt=") and d.removeprefix("dt=") < cutoff:
                    shutil.rmtree(os.path.join(dirpath, d))
                    dirnames.remove(d)
                    removed += 1
        return removed
