"""Bucketed-table layout: pre-shuffle a table ONCE at write time so
every later join/aggregation on the bucket key runs shuffle-free.

Spark's ``bucketBy(n, col)`` hash-partitions rows into ``n`` buckets
(``pmod(murmur3(col), n)``) at WRITE time and records the layout in the
catalog. A scan of the table then reports ``HashPartitioning(col, n)``
as its output partitioning, so EnsureRequirements inserts NO Exchange
for joins or aggregations keyed on the bucket column — the shuffle that
dominates big-join cost at 100 TB is paid once, at ingest, instead of
per query. Two tables bucketed to the same count on their join keys
sort-merge-join with zero shuffles on either side.

This is the classic warehouse answer to "the same fact-table join runs
every hour": at 100 TB a lineitem⋈orders shuffle moves the whole table
across the cluster every query; bucketed on the join key it moves
nothing. The reference's per-symbol SQLite files
(ccxt-ohlcv-fetch.py:134-138) are the degenerate form of the same idea
— co-locate by key at write time — scaled here to Spark's hash-bucket
layout with catalog-enforced metadata.

Fixture-scale note: the tables are small enough that AQE would happily
broadcast them, which ALSO avoids the shuffle — the plan-invariant
test therefore pins the bucketed shape with broadcast disabled (the
100 TB regime, where neither side fits in memory), while the registry
queries stay strategy-agnostic (their oracle checks values, not plans).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.artifacts import artifact_dir, memo
from ccxt_ohlcv_fetcher_spark.sources.tables import load_table


def bucketed_view(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
) -> DataFrame:
    """The fixture table as a catalog-registered BUCKETED external
    table (built on first use per session, reused after): returns
    ``spark.table(name)`` whose scan carries
    ``HashPartitioning(bucket_col, n_buckets)``.

    ``repartition(n_buckets, bucket_col)`` before the write uses the
    same murmur3-pmod routing as the bucket-id assignment, so each
    task holds exactly one bucket's rows and each bucket lands in ONE
    file — which is what lets Spark trust the ``sortBy`` order at scan
    time and skip the join-side sort as well. The table is named after
    its directory, a session artifact on disk."""

    def build() -> str:
        path = artifact_dir(f"bkt_{table}_")
        (
            load_table(spark, sf_dir, table)
            .repartition(n_buckets, F.col(bucket_col))
            .write.format("parquet")
            .mode("overwrite")
            .option("path", path)
            .bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col)
            .saveAsTable(os.path.basename(path))
        )
        return path

    path = memo(spark, sf_dir, f"bucketed/{table}/{bucket_col}/{n_buckets}", build)
    return spark.table(os.path.basename(path))
