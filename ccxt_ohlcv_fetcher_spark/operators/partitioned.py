"""Hive-partitioned layout + dynamic partition pruning (DPP): the scan
optimization that turns a star-schema join into a partial table read.

A fact table written ``partitionBy(key)`` encodes the key in directory
names; a STATIC predicate on the key prunes directories at plan time
for free. Dynamic partition pruning covers the case static pruning
can't: the predicate lives on a JOINED DIMENSION's attribute (``WHERE
dim.category = 'conversion'``), so which fact partitions survive is
only known at RUNTIME. Spark plans a ``dynamicpruningexpression``
subquery — it reuses the dim's broadcast to collect the surviving join
keys, then skips every non-matching fact partition before reading a
byte. At 100 TB this is the difference between scanning the whole fact
table and scanning the 2-of-5 (or 3-of-80) partitions the filtered dim
actually touches; it composes with the manifest-level stats pruning the
snapshot log does (SnapshotStore.pruned_files) — DPP prunes
directories, manifests prune files within them.

The dimension here is MATERIALIZED parquet on purpose: a dim derived
inline from the fact's own column lets Catalyst constant-fold the
category filter into a static IN-list on the join key (verified — the
plan then shows static partition filters doing the work), which is
exactly the shortcut a real star schema doesn't have. Reading the dim
from storage keeps the attribute opaque until runtime, so the plan MUST
use DPP — the shape tests/test_partitioned_dpp.py pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ccxt_ohlcv_fetcher_spark.artifacts import artifact_dir, memo
from ccxt_ohlcv_fetcher_spark.sources.tables import load_table

# event_type -> funnel category; stored as dim DATA (not derivable at
# plan time from the fact side)
CATEGORY_OF = {
    "purchase": "conversion",
    "signup": "conversion",
    "click": "engagement",
    "view": "engagement",
    "error": "ops",
}


def partitioned_events_with_dim(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(fact, dim): events rewritten once per session as a
    Hive-partitioned table (``partitionBy(event_type)``) plus a tiny
    materialized event_type->category dimension. Build-once/query-many
    like the other layout builders (bucketed/ANN indexes)."""

    def build() -> str:
        base = artifact_dir("partitioned_")
        load_table(spark, sf_dir, "events").write.partitionBy(
            "event_type"
        ).parquet(base + "/events_by_type")
        spark.createDataFrame(
            [(t, c) for t, c in sorted(CATEGORY_OF.items())],
            "event_type string, category string",
        ).coalesce(1).write.parquet(base + "/event_dim")
        return base

    base = memo(spark, sf_dir, "partitioned/events", build)
    return spark.read.parquet(base + "/events_by_type"), spark.read.parquet(
        base + "/event_dim"
    )
