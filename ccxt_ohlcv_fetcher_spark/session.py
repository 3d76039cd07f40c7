"""SparkSession factory.

The reference pins UTC semantics implicitly (epoch-ms integers from the
exchange, `ccxt-ohlcv-fetch.py:38,60`) but then leaks local time in its
incomplete-candle check (`datetime.fromtimestamp`, `:151-152`) — a quirk
SURVEY.md §3.1 says to fix, not replicate. We pin the session timezone to
UTC so every timestamp function is deterministic.

Scale posture (100 TB): AQE on (runtime shuffle-partition coalescing,
skew-join splitting, join-strategy switch), Arrow on (vectorized
Python<->JVM transfer for the few Pandas-UDF operators), shuffle
partitions sized by env rather than the 200 default, and each generated
class compiled once per JVM rather than once per execution (the
engine's cost is per-execution fixed overhead, not compute). Spark's
cache of generated classes holds 100 entries by default. One cold pass
of the 209 registered queries at sf0.001 compiles 2394 distinct
classes, and the 4 queries of the benchmark's `pipeline_sweep` alone
need 156, so with 100 entries the cache evicts within a pass. A warm
registry pass then recompiled 2891 classes with Janino, and HotSpot
JIT-compiled each new class again. The cache holds 4096 entries, the
next power of two above 1.5x the measured working set. A warm registry
pass now compiles 48 classes, all from 9 queries whose generated
source differs from one execution to the next. Metaspace after a cold
registry pass is 212 MB, against 217 MB with 100 entries
(PERFORMANCE.md §20).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# generated-class cache entries: one cold pass of the 209 registered
# queries at sf0.001 compiles 2394 distinct classes; 4096 is the next
# power of two above 1.5x that (module docstring)
_CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "ccxt_ohlcv_fetcher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (r12): spark.sql.join.preferSortMergeJoin=false (allow
        # shuffled-hash, guide §9) was A/B'd and left at default: over
        # the 11 queries that actually plan a shuffle join at sf0.1 the
        # properly-alternated comparison was a wash (±0.1 s, mixed
        # sign; most joins here auto-broadcast). Env override exists
        # for cluster regimes that want it.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "true"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # static conf: Spark reads it once, when the JVM first generates code
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set runtime SQL confs for a block. On exit each key gets back its
    raw prior value verbatim, or is unset again if it was unset (so it
    keeps following Spark's default, not a frozen copy of it)."""
    prior = spark.conf.getAll
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k in conf:
            if k in prior:
                spark.conf.set(k, prior[k])
            else:
                spark.conf.unset(k)
