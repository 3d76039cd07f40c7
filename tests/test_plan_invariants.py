"""Physical-plan invariants for every registered query (PERFORMANCE.md
§1) — the perf-regression net. A change that silently turns a broadcast
join into a cartesian product, or un-pushes a scan filter, fails here
long before it shows up as a 100 TB incident.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.plans import load_all

# all-pairs generators: a non-equi self-join IS the operator's semantics
# (bounded by broadcast side / threshold filter), so BNLJ is expected.
ALLOWED_NESTED_LOOP = {
    "embedding_near_dup",
    "cosine_topk_exact",  # deliberate broadcast cross join: corpus x |Q| queries
    "ann_truncated_rerank_topk",  # same corpus x |Q| shape, stage 1 on
    # the 32-prefix; stage 2 is an equi join on the 4k-row shortlist
    "ann_cosine_topk_pq",  # same shape: PQ code table x broadcast queries (ADC)
    # 1-row codebook-delivery joins (codebook as broadcast DATA, not plan
    # literals): the join key is a foldable constant, so Spark plans the
    # 1-row broadcast as BNLJ — the candidate join itself is still the
    # equi BHJ on the cell id.
    "ann_cosine_topk_ivfpq",
    "ann_cosine_topk_opq",  # same 1-row codebook-delivery join as _pq
    "ann_opq_persisted_topk",  # same 1-row codebook delivery, meta from
    # the logged index's sidecar instead of in-memory training
    "label_best_match",  # label-blocked pair join (non-equi residual)
    "embedding_mutual_knn",  # same all-pairs shape as embedding_near_dup
    # (src != dst residual on the broadcast self-join); the mutual
    # stage itself is an equi left-semi on the N*k edge list
    "region_type_matrix",  # E12 dim scaffold: 5 regions x event types
    # 1-row x 1-row scalar-combine crossJoins (triangle count x wedge
    # count x edge/vertex counts) — each side is a full aggregate, so
    # the BNLJ moves exactly one row regardless of data scale.
    "copurchase_graph_stats",
    "idle_rich_customers_by_nation",  # customers x 1-row global-average
    # threshold (Q22's uncorrelated scalar subquery as a 1-row broadcast)
    "theta_audience_overlap",  # 1-row sketch x 1-row sketch combine
    "bitmap_distinct_rollup",  # daily rows x 1-row span total
    "monthly_revenue_mom",  # monthly rows x 1-row grand total
    "part_revenue_abc",  # per-part rows x 1-row grand total
    "basket_association_rules",  # rule rows x 1-row distinct-order total
    "event_value_histogram",  # 12 bins x 1-row exact-stats audit row
    "candle_pair_spread",  # spread rows x 1-row moment estimates
    "user_churn_km",  # lifetime-day rows x 1-row cohort total
}


def _plan(spark, sf_dir, name):
    df = load_all()[name].builder(spark, sf_dir)
    return df, df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    out = {}
    for name in load_all():
        out[name] = _plan(spark, sf_dir, name)[1]
    return out


def test_no_cartesian_products(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not offenders, offenders


def test_nested_loop_only_where_semantically_required(plans):
    offenders = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in ALLOWED_NESTED_LOOP
    ]
    assert not offenders, offenders


def test_fact_scans_push_filters(spark, sf_dir):
    """Selective queries must show PushedFilters at the parquet scan."""
    for name, needle in (
        ("pricing_summary", "LessThanOrEqual(l_shipdate"),
        ("customers_with_urgent_orders", "EqualTo(o_orderpriority,1-URGENT)"),
        ("top20_orders", "TakeOrderedAndProject"),
    ):
        _, plan = _plan(spark, sf_dir, name)
        assert needle in plan, f"{name} lost its optimized shape:\n{plan}"


def test_star_joins_broadcast_dims(spark, sf_dir):
    _, plan = _plan(spark, sf_dir, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle the fact


def test_widen_gate_derives_from_footer_stats(spark, tmp_path):
    """r13: the widen decision derives from parquet FOOTER metadata
    (scan-split estimate vs defaultParallelism, plus a row-count floor)
    with no driver-side plan materialization. An input whose footers
    already promise a wide scan (many row groups AND enough bytes per
    maxPartitionBytes) must SKIP the widening exchange; a
    single-row-group fan-out table must still widen; a dim-sized table
    must never widen."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ccxt_ohlcv_fetcher_spark.sources.tables import load_table

    def write_docs(dirname: str, n_rows: int, row_group_size: int) -> str:
        d = tmp_path / dirname
        d.mkdir()
        tbl = pa.table(
            {
                "doc_id": pa.array(range(n_rows), type=pa.int64()),
                "text": ["word " * 8] * n_rows,
                "lang": ["en"] * n_rows,
                "source": ["t"] * n_rows,
                "n_chars": pa.array([40] * n_rows, type=pa.int64()),
            }
        )
        pq.write_table(
            tbl, str(d / "documents.parquet"), row_group_size=row_group_size
        )
        return str(d)

    needle = "Exchange hashpartitioning(pmod(xxhash64(doc_id"

    # (a) one row group, above the row floor -> widen fires
    one_rg = write_docs("one_rg", 2000, 1_000_000)
    plan = load_table(spark, one_rg, "documents")._jdf.queryExecution(
    ).executedPlan().toString()
    assert needle in plan, plan

    # (b) dim-sized table -> never widened, whatever its layout
    tiny = write_docs("tiny", 200, 1_000_000)
    plan = load_table(spark, tiny, "documents")._jdf.queryExecution(
    ).executedPlan().toString()
    assert needle not in plan, plan

    # (c) many row groups and a maxPartitionBytes that carves at least
    # defaultParallelism byte splits -> the scan is already wide, the
    # exchange is skipped (the 100 TB shape)
    par = spark.sparkContext.defaultParallelism
    many_rg = write_docs("many_rg", 4096, 4096 // (2 * par))
    import os

    size = os.stat(os.path.join(many_rg, "documents.parquet")).st_size
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", str(max(1, size // (2 * par)))
        )
        plan = load_table(spark, many_rg, "documents")._jdf.queryExecution(
        ).executedPlan().toString()
        assert needle not in plan, plan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_observe_metrics_piggyback(spark, sf_dir):
    """Observation metrics ride the existing action (no second scan) —
    the built-in way to get row counts / sums out of a pipeline run,
    replacing the reference's debug print-back (ccxt-ohlcv-fetch.py:81-83)
    without a recount."""
    from pyspark.sql import Observation

    from ccxt_ohlcv_fetcher_spark.sources.tables import load_table

    obs = Observation("ingest_stats")
    li = load_table(spark, sf_dir, "lineitem").observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("qty"),
    )
    li.write.format("noop").mode("overwrite").save()
    got = obs.get
    expect = load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("qty"),
    ).collect()[0]
    assert got["rows"] == expect["rows"] and got["qty"] == expect["qty"]


# the benchmark's pipeline_sweep queries (perfbench/workloads.py)
PIPELINE_QUERIES = (
    "ann_cosine_topk_ivf",
    "dedup_incremental_minhash",
    "embedding_mutual_knn",
    "part_pagerank",
)


def test_warm_reexecution_compiles_nothing(spark, sf_dir):
    """The generated-class cache holds the working set (session.py):
    after 150 other distinct plans — more than Spark's default 100-entry
    cache — re-executing the pipeline queries compiles no class. The
    committed execution budget, applied to Janino compiles."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    registry = load_all()

    def run_pipeline() -> None:
        for name in PIPELINE_QUERIES:
            df = registry[name].builder(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()

    run_pipeline()
    # integer literals are inlined into the generated source, so every
    # one of these plans is a class of its own
    for i in range(150):
        spark.range(10).selectExpr(f"id + {i}").write.format("noop").mode(
            "overwrite"
        ).save()
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    run_pipeline()
    compiled = codegen.METRIC_COMPILATION_TIME().getCount() - before
    assert compiled == 0, f"{compiled} classes recompiled"


def test_footer_stats_see_part_rewritten_in_place(tmp_path):
    """The footer-stats cache is keyed per part file: a part rewritten
    in place (the directory's own mtime and size unchanged) is re-read,
    so the widen gate never decides on a stale row count."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ccxt_ohlcv_fetcher_spark.sources.tables import _parquet_footer_stats

    d = tmp_path / "t.parquet"
    d.mkdir()
    part = d / "part-0.parquet"
    pq.write_table(pa.table({"x": list(range(100))}), part)
    assert _parquet_footer_stats(str(d))[0] == 100
    st = os.stat(d)
    pq.write_table(pa.table({"x": list(range(3000))}), part)
    os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert _parquet_footer_stats(str(d))[0] == 3000
