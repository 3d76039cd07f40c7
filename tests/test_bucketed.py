"""Bucketed-table layout (operators/bucketed_log.py): the write-once
pre-shuffle that makes every later join/agg on the bucket key
shuffle-free. Pins (a) the plan shape under the neither-side-fits
regime (broadcast disabled): bucketed scans, SortMergeJoin with NO
Exchange beneath it, zero-Exchange per-key aggregation; (b) value
equality with the plain unbucketed plans; (c) the one-file-per-bucket
write layout and per-session build memoization.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import logged_bucketed_view
from ccxt_ohlcv_fetcher_spark.plans import load_all
from ccxt_ohlcv_fetcher_spark.sources.tables import load_table


@pytest.fixture()
def no_broadcast(spark):
    """The 100 TB join regime: neither side fits in memory, so the
    planner cannot fall back to a broadcast that would ALSO avoid the
    shuffle and mask a bucketing regression."""
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # these pins read SortMergeJoin out of the plan; keep the SMJ
        # regime explicit (the engine default prefers shuffled-hash
        # since r12 — either join type is zero-exchange on bucketed
        # scans, but the assertions name SMJ)
        "spark.sql.join.preferSortMergeJoin": "true",
    }
    old = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _initial_plan(df) -> str:
    full = df._jdf.queryExecution().executedPlan().toString()
    return full.split("== Initial Plan ==")[0]


def test_bucketed_join_has_no_exchange_below_smj(spark, sf_dir, no_broadcast):
    q = load_all()["bucketed_segment_revenue"].builder(spark, sf_dir)
    plan = _initial_plan(q)
    assert plan.count("Bucketed: true") == 2
    assert "SortMergeJoin" in plan
    # the ONLY shuffle is the post-join 5-row segment rollup; in
    # particular nothing between the scans and the join
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(c_mktsegment" in plan


def test_bucketed_agg_runs_with_zero_exchanges(spark, sf_dir, no_broadcast):
    q = load_all()["bucketed_custkey_order_stats"].builder(spark, sf_dir)
    plan = _initial_plan(q)
    assert plan.count("Bucketed: true") == 1
    assert plan.count("Exchange") == 0
    assert "TakeOrderedAndProject" in plan


def test_bucketed_results_equal_plain_plans(spark, sf_dir, no_broadcast):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    plain = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    got = load_all()["bucketed_segment_revenue"].builder(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, plain.collect())
    )
    top_plain = (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_spend"),
            F.max("o_totalprice").alias("max_order"),
        )
        .orderBy(F.desc("total_spend"), "o_custkey")
        .limit(20)
    )
    top_got = load_all()["bucketed_custkey_order_stats"].builder(spark, sf_dir)
    assert list(map(tuple, top_got.collect())) == list(
        map(tuple, top_plain.collect())
    )


def test_one_file_per_bucket_and_memoized_build(spark, sf_dir):
    df = logged_bucketed_view(spark, sf_dir, "customer", "c_custkey", 8)
    parts = sorted(df.inputFiles())
    # repartition(n, key) routes with the same murmur3-pmod as the
    # bucket-id assignment -> exactly one data file per bucket
    assert len(parts) == 8
    assert sorted(
        int(re.search(r"_(\d{5})(?:\.c\d+)?\.\w+\.parquet$", p).group(1))
        for p in parts
    ) == list(range(8))
    mtimes = [os.path.getmtime(p.replace("file:", "")) for p in parts]
    df2 = logged_bucketed_view(spark, sf_dir, "customer", "c_custkey", 8)
    assert df2.count() == df.count()
    assert sorted(df2.inputFiles()) == parts
    assert [
        os.path.getmtime(p.replace("file:", "")) for p in parts
    ] == mtimes, "second call must reuse, not rewrite"


# --- snapshot-logged bucketed tables (round-10 verdict item 2) -------------


def test_logged_bucketed_append_equals_rebuild(
    spark, sf_dir, tmp_path, no_broadcast
):
    """BucketedSnapshotStore: every commit goes through the bucketBy
    writer, so build-then-append must equal a from-scratch rebuild —
    same rows, same per-bucket routing — AND the grown (multi-file-
    per-bucket) table must still plan its key-agg and co-located join
    with zero pre-join exchanges."""
    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )

    orders = load_table(spark, sf_dir, "orders")
    grown = BucketedSnapshotStore(
        spark, str(tmp_path / "grown"), bucket_col="o_custkey", n_buckets=8
    )
    grown.append(orders.filter(F.col("o_orderkey") % 2 == 0))
    grown.append(orders.filter(F.col("o_orderkey") % 2 == 1))
    rebuilt = BucketedSnapshotStore(
        spark, str(tmp_path / "rebuilt"), bucket_col="o_custkey", n_buckets=8
    )
    rebuilt.append(orders)
    a = grown.read_bucketed()
    b = rebuilt.read_bucketed()
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # same rows per bucket file-set: routing is deterministic murmur3
    agg = a.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    plan = _initial_plan(agg)
    assert plan.count("Bucketed: true") == 1 and plan.count("Exchange") == 0
    join = a.join(b, a.o_custkey == b.o_custkey)
    jplan = _initial_plan(join.select(a.o_orderkey))
    assert "SortMergeJoin" in jplan and jplan.count("Exchange") == 0


def test_logged_bucketed_manifest_spec_and_time_travel(spark, tmp_path):
    """The bucket key + count live in the MANIFEST (carried like the
    schema): a fresh store opens without re-declaring them, and a
    time-travel read of an old version keeps the bucketed plan."""
    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )

    store = BucketedSnapshotStore(
        spark, str(tmp_path / "t"), bucket_col="k", n_buckets=4
    )
    store.append(spark.range(100).selectExpr("id as k", "id * 2 as v"))
    store.append(spark.range(100, 200).selectExpr("id as k", "id * 2 as v"))
    assert store.manifest()["bucket_spec"] == {"col": "k", "n": 4}
    assert store.manifest(1)["bucket_spec"] == {"col": "k", "n": 4}
    fresh = BucketedSnapshotStore(spark, store.path)
    assert (fresh.bucket_col, fresh.n_buckets) == ("k", 4)
    old = fresh.read_bucketed(version=1)
    assert old.count() == 100
    plan = _initial_plan(
        old.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    )
    assert plan.count("Bucketed: true") == 1 and plan.count("Exchange") == 0
    # generic snapshot read agrees on values (layout is transparent)
    assert sorted(map(tuple, fresh.read().collect())) == sorted(
        map(tuple, fresh.read_bucketed().collect())
    )


def test_logged_bucketed_dv_read_falls_back(spark, tmp_path, no_broadcast):
    """A deletion-vector version reads through the generic DV-aware
    path (correctness over layout) — and values reflect the delete."""
    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )

    store = BucketedSnapshotStore(
        spark, str(tmp_path / "t"), bucket_col="k", n_buckets=4
    )
    store.append(spark.range(50).selectExpr("id as k", "id as v"))
    store.delete_where_dv("k = 7")
    got = {r["k"] for r in store.read_bucketed().collect()}
    assert got == set(range(50)) - {7}


def test_logged_bucketed_compact_restores_one_file_per_bucket(
    spark, tmp_path, no_broadcast
):
    """Maintenance keeps the layout: compact() stages through the
    overridden bucketBy writer, so the small-file cleanup of N appends
    (N files per bucket) lands exactly one file per bucket again, in
    one atomic commit — and the zero-exchange plans are untouched."""
    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )

    store = BucketedSnapshotStore(
        spark, str(tmp_path / "t"), bucket_col="k", n_buckets=4
    )
    for lo in (0, 100, 200):
        store.append(
            spark.range(lo, lo + 100).selectExpr("id as k", "id * 2 as v")
        )
    assert len(store.manifest()["files"]) == 12  # 3 appends x 4 buckets
    assert store.compact() == 4
    m = store.manifest()
    assert len(m["files"]) == 4
    assert m["bucket_spec"] == {"col": "k", "n": 4}  # carried through
    df = store.read_bucketed()
    assert df.count() == 300
    plan = _initial_plan(
        df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    )
    assert plan.count("Bucketed: true") == 1 and plan.count("Exchange") == 0


def test_logged_bucketed_vacuum_prunes_view_dirs_and_tables(
    spark, tmp_path
):
    """Hygiene at scale: view dirs are hardlink farms pinning data
    inodes — vacuum(prune_log=True) must drop the dirs AND the
    registered catalog tables of pruned versions (their time travel is
    gone by contract), while the retained versions' views keep
    working. The build-once append is txn-stamped, so a re-run of the
    builder never double-loads."""
    import glob
    import os

    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )

    store = BucketedSnapshotStore(
        spark, str(tmp_path / "t"), bucket_col="k", n_buckets=4
    )
    for lo in range(0, 500, 100):
        store.append(
            spark.range(lo, lo + 100).selectExpr("id as k", "id as v"),
            txn=("loader", lo),
        )
    # duplicate delivery of an already-committed batch: skipped
    assert store.append(
        spark.range(0, 100).selectExpr("id as k", "id as v"),
        txn=("loader", 0),
    ) is None
    for v in (1, 3, 5):  # materialize views + catalog tables
        assert store.read_bucketed(version=v).count() == v * 100
    names = {v: store._view_table_name(v) for v in (1, 3, 5)}
    assert all(spark.catalog.tableExists(n) for n in names.values())
    store.vacuum(retain_versions=2, min_age_seconds=0, prune_log=True)
    kept = {
        int(os.path.basename(d)[1:])
        for d in glob.glob(os.path.join(store.path, "_views", "v*"))
        if ".staging-" not in d
    }
    assert kept == {5}, kept  # v1/v3 pruned with their manifests
    assert not spark.catalog.tableExists(names[1])
    assert not spark.catalog.tableExists(names[3])
    assert spark.catalog.tableExists(names[5])
    assert store.read_bucketed(version=5).count() == 500
    assert store.read_bucketed().count() == 500


def test_logged_bucketed_rejects_spec_change_and_rebuckets(
    spark, tmp_path, no_broadcast
):
    """Review r10: re-declaring a different bucket spec over existing
    files would make Spark trust a uniform hash layout the old files
    don't have — silently wrong joins/aggs. Opening with a mismatched
    spec must refuse; rebucket() (a full rewrite) is the sound path,
    and old versions keep reading under their own spec."""
    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )

    store = BucketedSnapshotStore(
        spark, str(tmp_path / "t"), bucket_col="k", n_buckets=4
    )
    store.append(spark.range(200).selectExpr("id as k", "id as v"))
    with pytest.raises(ValueError, match="rebucket"):
        BucketedSnapshotStore(
            spark, store.path, bucket_col="k", n_buckets=8
        )
    with pytest.raises(ValueError, match="rebucket"):
        BucketedSnapshotStore(
            spark, store.path, bucket_col="v", n_buckets=4
        )
    assert store.rebucket("k", 8) == 2
    assert store.manifest()["bucket_spec"] == {"col": "k", "n": 8}
    assert store.manifest(1)["bucket_spec"] == {"col": "k", "n": 4}
    df = store.read_bucketed()
    assert df.count() == 200
    plan = _initial_plan(df.groupBy("k").agg(F.count(F.lit(1)).alias("n")))
    assert plan.count("Exchange") == 0
    # values identical across the rewrite; old version still readable
    assert sorted(r["k"] for r in df.collect()) == list(range(200))
    assert store.read_bucketed(version=1).count() == 200
    # reopen recovers the NEW spec
    fresh = BucketedSnapshotStore(spark, store.path)
    assert (fresh.bucket_col, fresh.n_buckets) == ("k", 8)


def test_logged_bucketed_vacuum_reclaims_views_without_prune_log(
    spark, tmp_path
):
    """Review r10: view dirs are hardlink farms pinning data inodes.
    vacuum with the DEFAULT prune_log=False reclaims old commit dirs —
    the matching view dirs must go too (their versions are unreadable
    by contract) or zero bytes are actually freed. Crashed .staging-*
    farms older than the age gate are swept as well."""
    import glob
    import os

    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )

    store = BucketedSnapshotStore(
        spark, str(tmp_path / "t"), bucket_col="k", n_buckets=2
    )
    for lo in range(0, 300, 100):
        store.append(spark.range(lo, lo + 100).selectExpr("id as k"))
    for v in (1, 2, 3):
        store.read_bucketed(version=v)
    crashed = os.path.join(
        store.path, "_views", "v00000001.staging-deadbeef"
    )
    os.makedirs(crashed)
    os.utime(crashed, (1, 1))  # ancient -> past any age gate
    store.vacuum(retain_versions=1, min_age_seconds=0)  # prune_log off
    kept = {
        os.path.basename(d)
        for d in glob.glob(os.path.join(store.path, "_views", "v*"))
    }
    assert kept == {"v00000003"}, kept
    assert store.read_bucketed(version=3).count() == 300


def test_rebucket_failure_restores_instance_spec(spark, tmp_path):
    """Review r10 pass 2: a rebucket whose overwrite fails must roll
    the INSTANCE back to the committed spec — otherwise a later append
    writes new-layout files and stamps the new spec over old files,
    the mixed-layout corruption the open-guard exists to prevent. And
    opening with only bucket_col (count omitted) inherits the
    committed count instead of spuriously refusing."""
    import pytest as _pytest

    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )

    store = BucketedSnapshotStore(
        spark, str(tmp_path / "t"), bucket_col="k", n_buckets=4
    )
    store.append(spark.range(100).selectExpr("id as k", "id as v"))

    # partially-declared open inherits the committed count
    partial = BucketedSnapshotStore(spark, store.path, bucket_col="k")
    assert (partial.bucket_col, partial.n_buckets) == ("k", 4)
    with _pytest.raises(ValueError, match="rebucket"):
        BucketedSnapshotStore(spark, store.path, bucket_col="v")

    # inject a staging failure mid-rebucket
    orig = store._stage

    def boom(*a, **kw):
        raise RuntimeError("injected staging failure")

    store._stage = boom
    with _pytest.raises(RuntimeError, match="injected"):
        store.rebucket("k", 16)
    store._stage = orig
    assert (store.bucket_col, store.n_buckets) == ("k", 4)
    # a post-failure append keeps the OLD layout and spec
    store.append(spark.range(100, 200).selectExpr("id as k", "id as v"))
    assert store.manifest()["bucket_spec"] == {"col": "k", "n": 4}
    df = store.read_bucketed()
    assert df.count() == 200
    plan = _initial_plan(df.groupBy("k").agg(F.count(F.lit(1)).alias("n")))
    assert plan.count("Exchange") == 0


def test_rebucket_preserves_concurrent_append_rows(spark, tmp_path):
    """Review r10 pass 3: rebucket must follow compact()'s
    row-preserving-rewrite concurrency contract, not overwrite()'s
    replace contract — a concurrent append committing between the
    rewrite's read and its CAS must survive into the re-bucketed
    table (overwrite's rebase silently dropped it)."""
    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )

    store = BucketedSnapshotStore(
        spark, str(tmp_path / "t"), bucket_col="k", n_buckets=4
    )
    store.append(spark.range(100).selectExpr("id as k", "id as v"))

    real_stage = store._stage
    fired = {"done": False}

    def stage_with_concurrent_append(df, **kw):
        staged = real_stage(df, **kw)
        if not fired["done"]:
            fired["done"] = True
            # writer B commits AFTER the rewrite read its snapshot but
            # BEFORE the rewrite's CAS — the classic lost-update window
            writer_b = BucketedSnapshotStore(spark, store.path)
            writer_b.append(
                spark.range(100, 150).selectExpr("id as k", "id as v")
            )
        return staged

    store._stage = stage_with_concurrent_append
    try:
        v = store.rebucket("k", 8)
    finally:
        store._stage = real_stage
    assert v == store.latest_version()
    assert store.manifest()["bucket_spec"] == {"col": "k", "n": 8}
    got = sorted(r["k"] for r in store.read_bucketed().collect())
    assert got == list(range(150)), "concurrent append's rows were lost"


def test_stale_instance_append_refuses_after_rebucket(spark, tmp_path):
    """Review r10 pass 4: a store instance opened before a rebucket
    stages files under its stale spec — its commit must fail LOUD at
    the CAS (reopen and re-stage) rather than stamping the stale spec
    over the head and mixing layouts under one declaration. And the
    rebucket commit itself rides the 'compact' operation, so the
    change feed keeps flowing across it (zero row changes)."""
    import pytest as _pytest

    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import CommitConflict

    store = BucketedSnapshotStore(
        spark, str(tmp_path / "t"), bucket_col="k", n_buckets=4
    )
    store.append(spark.range(100).selectExpr("id as k", "id as v"))
    stale = BucketedSnapshotStore(spark, store.path)  # opened at k x 4
    assert store.rebucket("k", 8) == 2
    assert store.manifest()["operation"] == "compact"
    # row feed crosses the rebucket commit without erroring and shows
    # zero changes for it
    assert store.read_row_changes(1, 2).count() == 0
    with _pytest.raises(CommitConflict, match="layout changed"):
        stale.append(spark.range(100, 150).selectExpr("id as k", "id as v"))
    # the table is unpoisoned: spec intact, current-instance appends fine
    assert store.manifest()["bucket_spec"] == {"col": "k", "n": 8}
    store.append(spark.range(100, 150).selectExpr("id as k", "id as v"))
    assert store.read_bucketed().count() == 150


def test_logged_bucketed_catalog_bounded_under_version_walk(
    spark, tmp_path
):
    """Round-11 verdict item 5: read_bucketed registers one external
    catalog table per (path, version); a long version-scanning session
    must not grow the catalog without bound. The session-global LRU
    caps live registrations, eviction drops only the catalog entry
    (already-returned DataFrames are analyzed eagerly and keep their
    resolved file index; the on-disk view dir stays memoized), and an
    evicted version transparently re-registers on the next read."""
    from ccxt_ohlcv_fetcher_spark.operators import bucketed_log as bl

    store = bl.BucketedSnapshotStore(
        spark, str(tmp_path / "t"), bucket_col="k", n_buckets=2
    )
    n_versions = bl._VIEW_TABLE_CAP + 8
    for i in range(n_versions):
        store.append(
            spark.range(i * 10, i * 10 + 10).selectExpr("id as k", "id as v")
        )

    def n_registered() -> int:
        return sum(
            1
            for t in spark.catalog.listTables()
            if t.name.startswith("bktlog_")
        )

    # a DataFrame grabbed early must survive its own name's eviction
    early = store.read_bucketed(version=1)
    for v in range(1, n_versions + 1):
        assert store.read_bucketed(version=v).count() == v * 10
        assert n_registered() <= bl._VIEW_TABLE_CAP
    # v1's name was evicted by the walk...
    assert not spark.catalog.tableExists(store._view_table_name(1))
    # ...but the analyzed plan still executes
    assert early.count() == 10
    # and re-reading the evicted version re-registers + stays correct
    assert store.read_bucketed(version=1).count() == 10
    assert spark.catalog.tableExists(store._view_table_name(1))
    assert n_registered() <= bl._VIEW_TABLE_CAP


def test_read_bucketed_applies_dvs_with_zero_shuffles(spark, tmp_path):
    """Round 11: deletion vectors no longer force the generic
    fallback — the bucketed scan anti-joins the (broadcast) DV set by
    file BASENAME + position, and HashPartitioning survives the join,
    so a post-DV agg on the bucket key still plans zero shuffle
    exchanges. Values equal the generic snapshot read."""
    from pyspark.sql import functions as F

    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )

    st = BucketedSnapshotStore(
        spark, str(tmp_path / "b"), bucket_col="k", n_buckets=4
    )
    st.append(
        spark.range(100).select(
            (F.col("id") % 10).alias("k"), F.col("id").alias("v")
        )
    )
    v, n = st.delete_where_dv("v % 7 = 0")
    assert n == 15
    b = st.read_bucketed()
    generic = st.read()
    assert sorted(r["v"] for r in b.collect()) == sorted(
        r["v"] for r in generic.collect()
    )
    agg = b.groupBy("k").agg(F.sum("v").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    # time travel to the pre-delete version: all rows, still bucketed
    assert st.read_bucketed(version=1).count() == 100
    # a second DV delete accumulates; the bucketed read tracks it
    st.delete_where_dv("v = 1")
    assert st.read_bucketed().count() == 84


def test_view_dir_refuses_duplicate_basenames(spark, tmp_path, monkeypatch):
    """ADVICE r11: the DV anti-join and the flat hardlink farm both key
    on file BASENAME; a manifest referencing two files that share one
    (e.g. a manually copied/restored file) must be refused, not
    silently drop live rows from the wrong file."""
    import shutil

    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )

    store = BucketedSnapshotStore(
        spark, str(tmp_path / "t"), bucket_col="k", n_buckets=2
    )
    store.append(spark.range(10).selectExpr("id as k", "id as v"))
    m = store.manifest()
    f0 = m["files"][0]
    dup_dir = os.path.join(store.path, "data", "commit-restored")
    os.makedirs(dup_dir, exist_ok=True)
    shutil.copy(
        os.path.join(store.path, f0),
        os.path.join(dup_dir, os.path.basename(f0)),
    )
    fake = dict(m)
    fake["files"] = list(m["files"]) + [
        os.path.join("data", "commit-restored", os.path.basename(f0))
    ]
    fake["version"] = m["version"] + 7  # no view dir materialized yet
    monkeypatch.setattr(store, "manifest", lambda version=None: fake)
    with pytest.raises(ValueError, match="duplicate basenames"):
        store._view_dir(fake["version"])
