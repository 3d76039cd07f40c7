"""Snapshot/manifest table format (operators/snapshots.py): atomic
append via exclusive-manifest-create CAS, snapshot-isolated reads, time
travel, conflict rebase, overwrite, and vacuum safety."""

from __future__ import annotations

import os

import pytest

from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
    CommitConflict,
    SnapshotStore,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "v")


def test_append_read_time_travel(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "t"))
    assert store.latest_version() == 0
    v1 = store.append(_df(spark, 0, 10))
    v2 = store.append(_df(spark, 10, 15))
    assert (v1, v2) == (1, 2)
    assert store.read().count() == 15
    assert store.read(version=1).count() == 10  # time travel
    assert [h["operation"] for h in store.history()] == ["append", "append"]


def test_concurrent_appends_both_survive_via_rebase(spark, tmp_path):
    """Two writers staging from the same base version: the loser's
    exclusive create fails, it rebases onto the winner's manifest, and
    BOTH appends land — no lost update, no serialization lock."""
    store_a = SnapshotStore(spark, str(tmp_path / "t"))
    store_b = SnapshotStore(spark, str(tmp_path / "t"))
    store_a.append(_df(spark, 0, 5))

    # interleave: both stage, then commit in turn from the same base
    files_a = store_a._stage(_df(spark, 100, 110))
    files_b = store_b._stage(_df(spark, 200, 220))
    base = store_a.latest_version()
    assert store_a._try_commit(base, store_a.manifest(base)["files"] + files_a, "append")
    # b's first attempt at the same version must LOSE
    assert not store_b._try_commit(base, store_b.manifest(base)["files"] + files_b, "append")
    # rebase: read the new head, merge, retry (what append() automates)
    head = store_b.latest_version()
    assert store_b._try_commit(head, store_b.manifest(head)["files"] + files_b, "append")
    assert store_b.read().count() == 5 + 10 + 20


def test_uncommitted_stage_is_invisible_and_vacuumable(spark, tmp_path):
    """A crashed writer = staged files with no manifest: readers never
    see them, vacuum reclaims them."""
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 5))
    store._stage(_df(spark, 50, 99))  # staged, never committed ("crash")
    assert store.read().count() == 5
    # default retention REFUSES to touch the fresh stage dir: it could
    # be a live writer between _stage and its CAS win, and deleting it
    # would commit a manifest pointing at deleted files
    assert store.vacuum() == []
    deleted = store.vacuum(min_age_seconds=0)
    assert len(deleted) == 1
    assert store.read().count() == 5  # referenced files untouched


def test_vacuum_spares_inflight_stage_then_append_commits(spark, tmp_path):
    """ADVICE scenario: writer stages, vacuum runs concurrently, writer
    commits. With mtime retention the staged files survive and the
    append's manifest references live files."""
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 5))
    writer = SnapshotStore(spark, str(tmp_path / "t"))
    files = writer._stage(_df(spark, 5, 9))
    assert store.vacuum() == []  # in-flight stage spared
    base = writer.latest_version()
    assert writer._try_commit(base, writer.manifest(base)["files"] + files, "append")
    assert writer.read().count() == 9  # no lost rows, head read intact


def test_overwrite_and_vacuum_retention(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 10))
    store.overwrite(_df(spark, 0, 3))
    assert store.read().count() == 3
    assert store.read(version=1).count() == 10  # history intact pre-vacuum
    deleted = store.vacuum(retain_versions=1, min_age_seconds=0)
    assert len(deleted) == 1  # v1's commit dir reclaimed
    assert store.read().count() == 3
    with pytest.raises(Exception):
        store.read(version=1).count()  # time travel past retention breaks


def test_head_hint_and_log_pruning(spark, tmp_path):
    """The _last pointer resolves the head without a listing (and
    survives a stale hint via forward probe); vacuum(prune_log=True)
    keeps the log O(retain_versions) while head reads and recent time
    travel still work."""
    import json

    store = SnapshotStore(spark, str(tmp_path / "t"))
    for lo in range(0, 20, 5):
        store.append(_df(spark, lo, lo + 5))
    assert store.latest_version() == 4
    hint = os.path.join(store._manifest_dir, "_last")
    assert json.load(open(hint))["version"] == 4
    # stale hint (writer died before updating it): forward probe heals
    with open(hint, "w") as fh:
        json.dump({"version": 2}, fh)
    assert store.latest_version() == 4
    # prune the log to the last 2 versions; data of retained versions
    # stays readable, older time travel is gone by design
    store.vacuum(retain_versions=2, min_age_seconds=0, prune_log=True)
    assert store.read().count() == 20
    assert store.read(version=3).count() == 15
    assert [h["version"] for h in store.history()] == [3, 4]
    with pytest.raises(FileNotFoundError):
        store.manifest(1)
    # appends continue normally on the pruned log
    store.append(_df(spark, 20, 22))
    assert store.latest_version() == 5 and store.read().count() == 22


def test_cas_exhaustion_raises(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 2))

    class Rigged(SnapshotStore):
        def _try_commit(self, base, files, op, txn=None):  # always lose
            return False

    rigged = Rigged(spark, str(tmp_path / "t"))
    with pytest.raises(CommitConflict):
        rigged.append(_df(spark, 2, 4), max_retries=2)


def test_relative_paths_table_is_movable(spark, tmp_path):
    import shutil

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 7))
    shutil.move(str(tmp_path / "t"), str(tmp_path / "moved"))
    moved = SnapshotStore(spark, str(tmp_path / "moved"))
    assert moved.read().count() == 7


def test_txn_append_idempotent_per_writer(spark, tmp_path):
    """Delta-style SetTransaction semantics: same (app, batch) commits
    once; later batches commit; a second app is independent."""
    store = SnapshotStore(spark, str(tmp_path / "t"))
    assert store.append(_df(spark, 0, 5), txn=("app1", 0)) == 1
    assert store.append(_df(spark, 0, 5), txn=("app1", 0)) is None  # replay
    assert store.read().count() == 5
    assert store.append(_df(spark, 5, 8), txn=("app1", 1)) == 2
    assert store.append(_df(spark, 100, 101), txn=("app2", 0)) == 3
    assert store.read().count() == 9
    assert store.last_txn("app1") == 1 and store.last_txn("app2") == 0


def test_streaming_snapshot_sink_exactly_once(spark, tmp_path):
    """foreachBatch replays absorb at the commit log: run the stream,
    then re-run the same batch function with an already-committed
    batch_id — the store must not grow."""
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
        streaming_snapshot_sink,
    )

    src = str(tmp_path / "src")
    spark.range(0, 10).withColumnRenamed("id", "v").coalesce(1).write.parquet(src)
    store = SnapshotStore(spark, str(tmp_path / "t"))
    stream = spark.readStream.schema("v long").parquet(src)
    q = streaming_snapshot_sink(
        stream, store, app_id="sink-test", checkpoint_dir=str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    assert store.read().count() == 10
    committed = store.last_txn("sink-test")
    # simulate foreachBatch redelivery of the last batch
    store.append(
        spark.range(0, 10).withColumnRenamed("id", "v"),
        txn=("sink-test", committed),
    )
    assert store.read().count() == 10  # replay was a no-op


def test_change_feed_reads_only_the_delta(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "t"))
    v1 = store.append(_df(spark, 0, 10))
    v2 = store.append(_df(spark, 10, 13))
    store.append(_df(spark, 13, 17))
    changes = store.read_changes(from_version=v1)
    assert sorted(r["v"] for r in changes.collect()) == list(range(10, 17))
    only_v2 = store.read_changes(from_version=v1, to_version=v2)
    assert sorted(r["v"] for r in only_v2.collect()) == [10, 11, 12]


def test_change_feed_refuses_across_rewrites(spark, tmp_path):
    import pytest as _pytest

    store = SnapshotStore(spark, str(tmp_path / "t"))
    v1 = store.append(_df(spark, 0, 5))
    store.compact()
    with _pytest.raises(ValueError, match="non-append"):
        store.read_changes(from_version=v1 - 1)


def test_compact_preserves_rows_and_shrinks_files(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "t"))
    for lo in range(0, 40, 10):
        store.append(_df(spark, lo, lo + 10).repartition(4))
    before = store.manifest()
    assert len(before["files"]) >= 8
    v = store.compact(target_partitions=1)
    after = store.manifest(v)
    assert after["operation"] == "compact"
    assert len(after["files"]) == 1
    assert sorted(r["v"] for r in store.read().collect()) == list(range(40))
    # fragmented history reclaimed after vacuum, compacted table intact
    store.vacuum(retain_versions=1, min_age_seconds=0)
    assert store.read().count() == 40


def test_compact_rebases_over_concurrent_append(spark, tmp_path):
    """A compact that loses the CAS to an append must re-read from the
    new head — the appended rows survive."""
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 10))

    class Racy(SnapshotStore):
        def __init__(self, spark, path, sneak):
            super().__init__(spark, path)
            self._sneak = sneak
            self._fired = False

        def _try_commit(self, base, files, op, txn=None):
            if op == "compact" and not self._fired:
                self._fired = True
                self._sneak()  # concurrent append wins version base+1
            return super()._try_commit(base, files, op, txn=txn)

    plain = SnapshotStore(spark, str(tmp_path / "t"))
    racy = Racy(
        spark, str(tmp_path / "t"),
        sneak=lambda: plain.append(_df(spark, 10, 15)),
    )
    racy.compact()
    assert sorted(r["v"] for r in plain.read().collect()) == list(range(15))


def test_schema_guard_refuses_drift_allows_overwrite(spark, tmp_path):
    from pyspark.sql import functions as F

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 5))
    drifted = _df(spark, 5, 8).withColumn("extra", F.lit("x"))
    with pytest.raises(ValueError, match="schema mismatch"):
        store.append(drifted)
    assert store.read().count() == 5  # table unchanged
    v = store.overwrite(drifted)  # overwrite may evolve the schema
    assert store.read().columns == ["v", "extra"]
    # subsequent appends must match the NEW schema
    store.append(_df(spark, 8, 9).withColumn("extra", F.lit("y")))
    with pytest.raises(ValueError, match="schema mismatch"):
        store.append(_df(spark, 9, 10))
    assert store.manifest(v)["schema"] == [["v", "bigint"], ["extra", "string"]]


def test_append_rebase_detects_concurrent_schema_change(spark, tmp_path):
    """ADVICE scenario: append stages against the old schema, a
    concurrent overwrite() evolves the table schema before the append's
    CAS retry — the rebase must surface a conflict instead of
    committing a manifest that unions old- and new-schema files."""
    from pyspark.sql import functions as F

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 5))

    class Racy(SnapshotStore):
        def __init__(self, spark, path, sneak):
            super().__init__(spark, path)
            self._sneak = sneak
            self._fired = False

        def _try_commit(self, base, files, op, txn=None):
            if op == "append" and not self._fired:
                self._fired = True
                self._sneak()  # schema-evolving overwrite wins base+1
                return False  # this append loses the CAS and rebases
            return super()._try_commit(base, files, op, txn=txn)

    plain = SnapshotStore(spark, str(tmp_path / "t"))
    racy = Racy(
        spark, str(tmp_path / "t"),
        sneak=lambda: plain.overwrite(
            _df(spark, 0, 3).withColumn("extra", F.lit("x"))
        ),
    )
    with pytest.raises(CommitConflict, match="schema changed concurrently"):
        racy.append(_df(spark, 5, 9))
    # table intact on the new schema; the conflicted files never joined it
    assert plain.read().columns == ["v", "extra"]
    assert plain.read().count() == 3


def test_clustered_compact_gives_disjoint_file_ranges(spark, tmp_path):
    """compact(order_by=...) must leave each output file owning a
    disjoint key range (verified from parquet footer min/max), so range
    predicates prune whole files."""
    import pyarrow.parquet as pq

    store = SnapshotStore(spark, str(tmp_path / "t"))
    # interleaved appends: every file initially spans the whole range
    store.append(_df(spark, 0, 100).repartition(4))
    store.append(_df(spark, 100, 200).repartition(4))
    v = store.compact(target_partitions=4, order_by=["v"])
    ranges = []
    for f in store.manifest(v)["files"]:
        md = pq.ParquetFile(os.path.join(store.path, f)).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint: a range predicate prunes whole files
    assert store.read().count() == 200


def test_random_interleaved_writers_never_lose_rows(spark, tmp_path):
    """Linearizability smoke: three writers issue appends in a random
    (seeded) interleaving of stage/commit steps; whatever the order,
    the final table holds exactly the union of all committed batches."""
    import random

    rng = random.Random(11)
    store = SnapshotStore(spark, str(tmp_path / "t"))
    batches = [(lo, lo + 5) for lo in range(0, 30, 5)]
    staged = []  # (files, lo, hi)
    expected = set()
    steps = []
    for b in batches:
        steps.append(("stage", b))
        steps.append(("commit", b))
    # shuffle but keep each batch's stage before its commit
    rng.shuffle(steps)
    order = []
    seen_stage = set()
    deferred = []
    for op, b in steps:
        if op == "commit" and b not in seen_stage:
            deferred.append((op, b))
            continue
        order.append((op, b))
        if op == "stage":
            seen_stage.add(b)
            for d in list(deferred):
                if d[1] == b:
                    order.append(d)
                    deferred.remove(d)
    order.extend(deferred)
    pending = {}
    for op, (lo, hi) in order:
        if op == "stage":
            pending[(lo, hi)] = store._stage(_df(spark, lo, hi))
        else:
            files = pending.pop((lo, hi))
            committed = False
            for _ in range(10):
                base = store.latest_version()
                merged = store.manifest(base)["files"] + files
                if store._try_commit(base, merged, "append"):
                    committed = True
                    break
            assert committed
            expected.update(range(lo, hi))
    got = {r["v"] for r in store.read().collect()}
    assert got == expected == set(range(30))


def test_prune_log_refreshes_stale_hint(spark, tmp_path):
    """If every commit's best-effort _last write had failed, pruning the
    log past hint+1 would strand the forward probe on a missing
    manifest — vacuum(prune_log=True) must refresh the hint before
    deleting old manifests."""
    import json

    store = SnapshotStore(spark, str(tmp_path / "t"))
    for lo in range(0, 25, 5):
        store.append(_df(spark, lo, lo + 5))
    hint = os.path.join(store._manifest_dir, "_last")
    with open(hint, "w") as fh:
        json.dump({"version": 1}, fh)  # hint stuck at the first commit
    store.vacuum(retain_versions=2, min_age_seconds=0, prune_log=True)
    assert store.latest_version() == 5
    assert store.read().count() == 25


def test_delete_where_copy_on_write(spark, tmp_path):
    """Row-level delete rewrites ONLY files containing matches
    (untouched files carry over by name), persists the removed rows as
    change files, keeps NULL-condition rows, and time travel still
    sees the pre-delete snapshot."""
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 10))     # v1: values 0..9
    store.append(_df(spark, 100, 110))  # v2: values 100..109
    before = store.manifest()["files"]
    untouched = [f for f in before if True]
    v, n = store.delete_where("v >= 100 AND v < 105")
    assert (v, n) == (3, 5)
    assert sorted(r["v"] for r in store.read().collect()) == (
        list(range(10)) + list(range(105, 110))
    )
    after = store.manifest()
    # v1's files contain no matches -> still referenced verbatim
    v1_files = set(
        SnapshotStore(spark, str(tmp_path / "t")).manifest(1)["files"]
    )
    assert v1_files <= set(after["files"])
    assert after["operation"] == "delete" and after.get("changes")
    # time travel: pre-delete snapshot intact
    assert store.read(version=2).count() == 20
    # no-match delete is a no-op (no commit)
    assert store.delete_where("v = 99999") == (None, 0)
    assert store.latest_version() == 3

    # NULL condition rows are kept: delete on a column with nulls
    t2 = SnapshotStore(spark, str(tmp_path / "t2"))
    from pyspark.sql import functions as F

    t2.append(
        spark.range(0, 6).select(
            F.when(F.col("id") % 2 == 0, F.col("id")).alias("x")
        )
    )
    v2, n2 = t2.delete_where("x >= 2")  # NULL x rows (odd ids) kept
    assert n2 == 2  # x in {2, 4}
    vals = [r["x"] for r in t2.read().collect()]
    assert sorted(v for v in vals if v is not None) == [0]
    assert sum(1 for v in vals if v is None) == 3


def test_read_row_changes_signed_feed(spark, tmp_path):
    """Signed feed: +1 for appended rows, -1 for deleted rows, compact
    contributes nothing, overwrite raises."""
    import pytest as _pytest

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 5))          # v1
    store.append(_df(spark, 5, 8))          # v2
    store.delete_where("v IN (1, 6)")       # v3
    store.compact(target_partitions=1)      # v4
    store.append(_df(spark, 50, 52))        # v5

    ch = store.read_row_changes(1).groupBy("_change").count().collect()
    by_sign = {r["_change"]: r["count"] for r in ch}
    assert by_sign == {1: 5, -1: 2}  # +{5,6,7,50,51}, -{1,6}
    # net state via the feed equals the actual head for sum/count
    from pyspark.sql import functions as F

    net = store.read_row_changes(0).agg(
        F.sum(F.col("v") * F.col("_change")).alias("s"),
        F.sum("_change").alias("n"),
    ).collect()[0]
    head = store.read().agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert (net["s"], net["n"]) == (head["s"], head["n"])

    store.overwrite(_df(spark, 0, 3))       # v6
    with _pytest.raises(ValueError, match="non-row-level"):
        store.read_row_changes(1)


def test_merge_into_upsert_paths(spark, tmp_path):
    """MERGE: update replaces matched rows with source versions,
    inserts land, untouched files carry over; delete mode removes
    matched rows; insert-only mode (when_matched=None) is
    INSERT-OR-IGNORE; key-duplicated source raises; the signed feed
    carries -old/+new through the upsert."""
    import pytest as _pytest

    def kv(lo, hi, val_mult=1):
        from pyspark.sql import functions as F

        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * val_mult).alias("v")
        )

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(kv(0, 5))    # v1: k 0..4, v=k
    store.append(kv(10, 15))  # v2: k 10..14, v=k
    v1_files = set(store.manifest(1)["files"])

    # upsert: k 3,4 updated (v=10*k); k 20,21 inserted
    src = kv(3, 5, 10).unionByName(kv(20, 22, 10))
    r = store.merge_into(src, on=["k"])
    assert (r["matched"], r["inserted"]) == (2, 2)
    got = {row["k"]: row["v"] for row in store.read().collect()}
    assert got[3] == 30 and got[4] == 40 and got[20] == 200
    assert got[0] == 0 and got[10] == 10 and len(got) == 12
    # v2's file contained no matched keys -> carried over by reference
    v2_files = set(store.manifest(2)["files"]) - v1_files
    assert v2_files <= set(store.manifest()["files"])

    # signed feed across the merge: -2 old versions, +4 new rows
    ch = store.read_row_changes(2).groupBy("_change").count().collect()
    assert {row["_change"]: row["count"] for row in ch} == {1: 4, -1: 2}

    # delete mode
    r2 = store.merge_into(kv(10, 12), on=["k"], when_matched="delete",
                          insert_not_matched=False)
    assert r2["matched"] == 2 and r2["inserted"] == 0
    assert 10 not in {row["k"] for row in store.read().collect()}

    # insert-only (INSERT OR IGNORE): existing key 0 ignored, 30 lands
    r3 = store.merge_into(kv(0, 1, 99).unionByName(kv(30, 31)), on=["k"],
                          when_matched=None)
    assert r3["inserted"] == 1
    got3 = {row["k"]: row["v"] for row in store.read().collect()}
    assert got3[0] == 0 and got3[30] == 30

    with _pytest.raises(ValueError, match="key-unique"):
        store.merge_into(kv(0, 2).unionByName(kv(1, 2)), on=["k"])


def test_merge_stats_pushdown_scans_only_candidate_files(spark, tmp_path):
    """With a key column in stats_cols, MERGE locates matches by
    scanning ONLY files whose manifest min/max intersect the source's
    key bounds — the other files provably contain no matched key and
    carry over by reference (Delta partition-predicate pruning, here
    from footer stats in the log)."""
    from pyspark.sql import functions as F

    def kv(lo, hi, mult=1):
        return (
            spark.range(lo, hi)
            .coalesce(1)
            .select(F.col("id").alias("k"), (F.col("id") * mult).alias("v"))
        )

    store = SnapshotStore(spark, str(tmp_path / "t"), stats_cols=["k"])
    for lo in (0, 100, 200, 300):  # 4 single-file commits, disjoint k
        store.append(kv(lo, lo + 10))
    # source keys 205..207 intersect ONLY the 200-file
    r = store.merge_into(kv(205, 208, 10), on=["k"])
    assert r["matched"] == 3 and r["inserted"] == 0
    assert r["files_total"] == 4 and r["files_scanned"] == 1
    got = {row["k"]: row["v"] for row in store.read().collect()}
    assert got[205] == 2050 and got[204] == 204 and len(got) == 40

    # empty source: zero files scanned, no commit
    empty = kv(0, 0)
    r2 = store.merge_into(empty, on=["k"])
    assert r2["version"] is None and r2["files_scanned"] == 0


def test_delete_where_prune_hint(spark, tmp_path):
    """A caller-supplied stats bound restricts the delete's
    match-locating scan to intersecting files."""
    from pyspark.sql import functions as F

    store = SnapshotStore(spark, str(tmp_path / "t"), stats_cols=["v"])
    for lo in (0, 100, 200):
        store.append(
            spark.range(lo, lo + 10).coalesce(1).select(F.col("id").alias("v"))
        )
    v, n = store.delete_where("v >= 100 AND v < 105", prune={"v": (100, 104)})
    assert n == 5 and store.last_scan_files == (1, 3)
    assert store.read().count() == 25
    # disjoint hint: no candidate files, no scan, no commit
    assert store.delete_where("v = 5", prune={"v": (1000, 2000)}) == (None, 0)
    assert store.last_scan_files == (0, 3)


def test_merge_schema_evolution_add_column(spark, tmp_path):
    """Add-column upsert: the committed schema evolves, old files are
    NOT rewritten (NULL-filled at read via the manifest schema), the
    signed change feed stays consistent, and appends must use the new
    schema afterwards."""
    from pyspark.sql import functions as F

    def kv(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        )

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(kv(0, 4))   # v1
    store.append(kv(10, 14))  # v2 — will carry over untouched
    v2_new = set(store.manifest(2)["files"]) - set(store.manifest(1)["files"])

    src = kv(2, 4).withColumn("tag", F.lit("x"))
    # undeclared evolution refuses
    with pytest.raises(ValueError, match="schema_evolution=True"):
        store.merge_into(src, on=["k"])
    # dropping a committed column is never evolution
    with pytest.raises(ValueError, match="lacks committed columns"):
        store.merge_into(
            src.drop("v"), on=["k"], schema_evolution=True
        )

    r = store.merge_into(src, on=["k"], schema_evolution=True)
    assert r["matched"] == 2 and r["inserted"] == 0
    assert store.manifest()["schema"] == [
        ["k", "bigint"], ["v", "double"], ["tag", "string"]
    ]
    # v2's untouched file carried over by reference, never rewritten
    assert v2_new <= set(store.manifest()["files"])
    got = {row["k"]: (row["v"], row["tag"]) for row in store.read().collect()}
    assert got[2] == (2.0, "x") and got[3] == (3.0, "x")
    assert got[0] == (0.0, None) and got[10] == (10.0, None)
    # time travel still reads the pre-evolution schema
    assert store.read(version=2).columns == ["k", "v"]
    # signed feed across the evolved merge: -old (tag NULL) / +new
    ch = store.read_row_changes(2)
    assert ch.columns == ["k", "v", "tag", "_change"]
    by = {(row["k"], row["_change"]): row["tag"] for row in ch.collect()}
    assert by[(2, 1)] == "x" and by[(2, -1)] is None
    # old-schema appends now refuse; new-schema appends land
    with pytest.raises(ValueError, match="schema mismatch"):
        store.append(kv(20, 21))
    store.append(kv(20, 21).withColumn("tag", F.lit("y")))
    assert store.read().count() == 9


def test_zorder_compact_prunes_2d_box_queries(spark, tmp_path):
    """compact(zorder_by=[a, b]): every output file covers a tight box
    in BOTH dimensions, so a 2-D box predicate prunes files from the
    manifest where a 1-D sort can only prune its leading column. Rows
    are preserved exactly."""
    from pyspark.sql import functions as F

    def data():
        # 64x64 grid, row-major: a-sorted layout has every file span
        # the full b range
        return spark.range(4096).select(
            F.floor(F.col("id") / 64).alias("a"),
            (F.col("id") % 64).alias("b"),
        )

    lin = SnapshotStore(spark, str(tmp_path / "lin"), stats_cols=["a", "b"])
    lin.append(data())
    lin.compact(target_partitions=16, order_by=["a"])
    zo = SnapshotStore(spark, str(tmp_path / "zo"), stats_cols=["a", "b"])
    zo.append(data())
    zo.compact(target_partitions=16, zorder_by=["a", "b"])
    assert zo.read().count() == 4096
    assert (
        zo.read().agg(F.sum(F.col("a") * 64 + F.col("b"))).collect()[0][0]
        == 4096 * 4095 // 2
    )
    # z-order trades a little leading-dim selectivity for coverage of
    # EVERY listed dim: a 2-D box still prunes most files...
    assert len(zo.pruned_files({"a": (10, 20), "b": (10, 20)})) < 8
    # ...an a-only range still prunes (coarser than the pure a-sort)...
    assert len(zo.pruned_files({"a": (0, 7)})) < 16
    # ...and on a b-only range the a-sorted layout keeps ALL files
    # (every file spans the full b range) while z-order prunes
    b_only = {"b": (0, 7)}
    assert len(lin.pruned_files(b_only)) == 16
    assert len(zo.pruned_files(b_only)) < 16


def test_append_merge_schema_add_column(spark, tmp_path):
    """append(merge_schema=True): extra columns evolve the committed
    schema (old files read back NULL-filled), a df missing committed
    columns NULL-fills them, retyping refuses, and plain appends must
    use the evolved schema afterwards."""
    from pyspark.sql import functions as F

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 3))  # schema: v bigint
    with pytest.raises(ValueError, match="schema mismatch"):
        store.append(_df(spark, 3, 4).withColumn("tag", F.lit("x")))
    store.append(
        _df(spark, 3, 5).withColumn("tag", F.lit("x")), merge_schema=True
    )
    assert store.manifest()["schema"] == [["v", "bigint"], ["tag", "string"]]
    got = {r["v"]: r["tag"] for r in store.read().collect()}
    assert got[0] is None and got[3] == "x" and len(got) == 5
    # df missing a committed column: NULL-filled under merge_schema
    store.append(
        spark.createDataFrame([("y",)], "tag string"), merge_schema=True
    )
    assert store.read().filter("v IS NULL AND tag = 'y'").count() == 1
    # retyping refuses even with the flag
    with pytest.raises(ValueError, match="cannot retype"):
        store.append(
            spark.createDataFrame([(1.5, "z")], "v double, tag string"),
            merge_schema=True,
        )


def test_append_merge_schema_type_widening(spark, tmp_path):
    """merge_schema TYPE WIDENING (round 11, Delta's type-widening
    feature over Spark 4's lossless parquet upcast reads): a wider
    append widens the committed column (old narrow files read back
    upcast under the manifest schema), a narrower append upcasts to
    the committed type with NO schema change, and non-lossless
    retypes (scale change, cross-family) still refuse."""
    from pyspark.sql import functions as F

    store = SnapshotStore(spark, str(tmp_path / "t"), stats_cols=["v"])
    store.append(
        spark.range(3).select(
            F.col("id").cast("int").alias("v"),
            F.col("id").cast("float").alias("x"),
            F.col("id").cast("decimal(10,2)").alias("d"),
        )
    )
    # wider append -> table widens; old files upcast on read
    store.append(
        spark.range(3, 6).select(
            F.col("id").cast("bigint").alias("v"),
            F.col("id").cast("double").alias("x"),
            F.col("id").cast("decimal(20,2)").alias("d"),
        ),
        merge_schema=True,
    )
    m = store.manifest()
    assert m["schema"] == [
        ["v", "bigint"], ["x", "double"], ["d", "decimal(20,2)"],
    ]
    got = store.read()
    assert dict(got.dtypes) == {
        "v": "bigint", "x": "double", "d": "decimal(20,2)",
    }
    assert sorted(r["v"] for r in got.collect()) == list(range(6))
    assert got.agg(F.sum("x")).collect()[0][0] == 15.0
    # narrower append after the widening: upcast, schema unchanged
    store.append(
        spark.range(6, 8).select(
            F.col("id").cast("int").alias("v"),
            F.col("id").cast("float").alias("x"),
            F.col("id").cast("decimal(10,2)").alias("d"),
        ),
        merge_schema=True,
    )
    assert store.manifest()["schema"] == m["schema"]
    assert store.count_rows() == 8
    assert sorted(r["v"] for r in store.read().collect()) == list(range(8))
    # stats pruning still works across mixed-width files
    assert len(store.pruned_files({"v": (6, None)})) < len(
        store.manifest()["files"]
    )
    # scale change and cross-family retypes refuse
    with pytest.raises(ValueError, match="cannot retype"):
        store.append(
            spark.range(1).select(
                F.col("id").alias("v"),
                F.col("id").cast("double").alias("x"),
                F.col("id").cast("decimal(20,4)").alias("d"),
            ),
            merge_schema=True,
        )
    with pytest.raises(ValueError, match="cannot retype"):
        store.append(
            spark.range(1).select(
                F.col("id").cast("double").alias("v"),
                F.col("id").cast("double").alias("x"),
                F.col("id").cast("decimal(20,2)").alias("d"),
            ),
            merge_schema=True,
        )
    # time travel: the pre-widening version still reads NARROW
    assert dict(store.read(version=1).dtypes)["v"] == "int"


def test_merge_when_not_matched_by_source_delete(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE (round 11, the full-sync merge):
    target rows absent from the source are deleted; combined with
    update+insert the table converges to exactly the source; the
    signed change feed retracts the deleted rows; matched rows
    survive untouched under when_matched=None."""
    from pyspark.sql import functions as F

    def kv(lo, hi, mult=1):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * mult).alias("v")
        )

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(kv(0, 10))  # keys 0..9
    v1 = store.latest_version()
    # full sync to source = keys 5..12 with v=10*k
    src = kv(5, 13, 10)
    r = store.merge_into(
        src, on=["k"], when_not_matched_by_source="delete"
    )
    assert r["matched"] == 5          # 5..9
    assert r["inserted"] == 3         # 10..12
    assert r["deleted_by_source"] == 5  # 0..4
    assert r["files_scanned"] == r["files_total"]  # O(table) by design
    got = {row["k"]: row["v"] for row in store.read().collect()}
    assert got == {k: 10 * k for k in range(5, 13)}  # == source exactly
    # signed feed: -10 old rows (5 replaced + 5 absence-deleted), +8 new
    ch = store.read_row_changes(v1).groupBy("_change").count().collect()
    assert {row["_change"]: row["count"] for row in ch} == {1: 8, -1: 10}

    # when_matched=None: matched rows SURVIVE as-is, absent rows go
    store2 = SnapshotStore(spark, str(tmp_path / "t2"))
    store2.append(kv(0, 6))
    r2 = store2.merge_into(
        kv(3, 6, 100),
        on=["k"],
        when_matched=None,
        insert_not_matched=False,
        when_not_matched_by_source="delete",
    )
    assert r2["matched"] == 3 and r2["deleted_by_source"] == 3
    got2 = {row["k"]: row["v"] for row in store2.read().collect()}
    assert got2 == {3: 3, 4: 4, 5: 5}  # originals kept, not 100*k

    # nothing absent -> no deletions, normal upsert result
    r3 = store2.merge_into(
        kv(3, 6, 7), on=["k"], when_not_matched_by_source="delete"
    )
    assert r3["deleted_by_source"] == 0 and r3["matched"] == 3

    # empty source + delete-by-source empties the table (and commits)
    store3 = SnapshotStore(spark, str(tmp_path / "t3"))
    store3.append(kv(0, 4))
    r4 = store3.merge_into(
        kv(0, 0), on=["k"], when_not_matched_by_source="delete"
    )
    assert r4["deleted_by_source"] == 4 and r4["version"] is not None
    assert store3.read().count() == 0


# --- deletion vectors (merge-on-read deletes) ----------------------------


def test_dv_delete_hides_rows_without_rewriting_files(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 100))
    files_before = store.manifest()["files"]
    v, n = store.delete_where_dv("v % 10 = 0")
    assert n == 10 and v == 2
    m = store.manifest()
    # merge-on-read: the data files are untouched, only vectors landed
    assert m["files"] == files_before
    assert set(m["dvs"]) <= set(files_before) and m["dvs"]
    got = sorted(r["v"] for r in store.read().collect())
    assert got == [x for x in range(100) if x % 10 != 0]
    # time travel to before the delete still shows every row
    assert store.read(version=1).count() == 100


def test_dv_deletes_accumulate_and_never_rematch(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 50))
    _, n1 = store.delete_where_dv("v < 10")
    # overlapping condition: the 10 already-deleted rows must NOT be
    # re-matched (no double-count, no duplicate positions)
    _, n2 = store.delete_where_dv("v < 15")
    assert (n1, n2) == (10, 5)
    assert sorted(r["v"] for r in store.read().collect()) == list(range(15, 50))
    # both delete commits contributed distinct vector files
    m = store.manifest()
    assert len({p for lst in m["dvs"].values() for p in lst}) >= 2


def test_dv_survives_append_and_compact_materializes(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 20))
    store.delete_where_dv("v >= 18")
    store.append(_df(spark, 100, 105))  # append carries vectors forward
    m = store.manifest()
    assert m["dvs"]
    assert store.read().count() == 18 + 5
    # compact reads the LIVE rows and rewrites: vectors materialized
    store.compact()
    m2 = store.manifest()
    assert "dvs" not in m2
    assert sorted(r["v"] for r in store.read().collect()) == list(range(18)) + list(range(100, 105))


def test_dv_then_cow_delete_and_merge_do_not_resurrect(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 30))
    store.delete_where_dv("v < 5")
    # CoW delete rewrites the touched file: must apply the vector, so
    # 0..4 stay gone and 20..29 go too
    v, n = store.delete_where("v >= 20")
    assert n == 10
    assert sorted(r["v"] for r in store.read().collect()) == list(range(5, 20))
    # any surviving vectors reference only still-present files (the
    # rewritten files dropped theirs; untouched DV'd files keep them)
    m = store.manifest()
    assert set(m.get("dvs", {})) <= set(m["files"])


def test_dv_merge_into_sees_only_live_rows(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 10))
    store.delete_where_dv("v = 3")
    src = spark.createDataFrame([(3,), (11,)], "v long")
    res = store.merge_into(src, on=["v"], when_matched="update")
    # v=3 is deleted: the source row 3 must INSERT (not match a ghost)
    assert res["matched"] == 0 and res["inserted"] == 2
    assert sorted(r["v"] for r in store.read().collect()) == [
        0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 11,
    ]


def test_dv_row_changes_feed_matches_cow_semantics(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 10))
    store.delete_where_dv("v in (2, 7)")
    feed = store.read_row_changes(1).collect()
    assert sorted((r["v"], r["_change"]) for r in feed) == [(2, -1), (7, -1)]
    # net state from the signed feed == direct read
    assert store.read().count() == 8


def test_dv_files_survive_vacuum_while_referenced(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 10))
    store.delete_where_dv("v = 0")
    store.append(_df(spark, 10, 12))
    store.vacuum(retain_versions=1, min_age_seconds=0)
    # the DV commit dir is still referenced by the head manifest
    assert store.read().count() == 11
    # after compact (vectors materialized) vacuum may reclaim them
    store.compact()
    store.vacuum(retain_versions=1, min_age_seconds=0)
    assert store.read().count() == 11


# --- CHECK constraints ----------------------------------------------------


def test_constraint_refuses_violating_append_table_unchanged(spark, tmp_path):
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
        ConstraintViolation,
    )

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 10))
    store.add_constraint("non_negative", "v >= 0")
    with pytest.raises(ConstraintViolation, match="non_negative"):
        store.append(_df(spark, -5, -1))
    # refused commit leaves the table AND the log untouched
    assert store.read().count() == 10
    assert store.manifest()["operation"] == "metadata"
    # valid append still passes
    store.append(_df(spark, 10, 12))
    assert store.read().count() == 12


def test_constraint_travels_with_the_table(spark, tmp_path):
    """Constraints live in the MANIFEST: a second writer instance (a
    different process in production) enforces them without being
    configured."""
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
        ConstraintViolation,
    )

    path = str(tmp_path / "t")
    SnapshotStore(spark, path).append(_df(spark, 0, 5))
    SnapshotStore(spark, path).add_constraint("cap", "v < 1000")
    other = SnapshotStore(spark, path)  # fresh instance, no local state
    with pytest.raises(ConstraintViolation, match="cap"):
        other.append(_df(spark, 2000, 2002))
    assert other.read().count() == 5


def test_constraint_rejects_when_existing_rows_violate(spark, tmp_path):
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
        ConstraintViolation,
    )

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 10))
    with pytest.raises(ConstraintViolation, match="existing"):
        store.add_constraint("impossible", "v >= 5")
    assert "constraints" not in store.manifest()


def test_constraint_null_passes_and_drop_restores(spark, tmp_path):
    from pyspark.sql import functions as F

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 3))
    store.add_constraint("positive_v", "v >= 0")
    # SQL CHECK: NULL is not FALSE -> passes
    with_null = _df(spark, 3, 5).select(
        F.when(F.col("v") == 3, None).otherwise(F.col("v")).alias("v")
    )
    store.append(with_null)
    assert store.read().count() == 5
    # dropping the constraint re-allows anything
    store.drop_constraint("positive_v")
    store.append(_df(spark, 5, 6).select((F.col("v") * -1).alias("v")))
    assert store.read().count() == 6


def test_metadata_commits_are_transparent_to_feeds(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 4))
    store.add_constraint("c", "v >= 0")
    store.append(_df(spark, 4, 6))
    feed = store.read_row_changes(1).collect()
    assert sorted(r["v"] for r in feed) == [4, 5]
    assert all(r["_change"] == 1 for r in feed)


def test_concurrent_constraint_add_conflicts_staged_append(spark, tmp_path):
    """A constraint committed between a writer's stage and its CAS win
    was never validated on the staged rows — append() must surface a
    conflict instead of committing unchecked data. The race is driven
    through the REAL append path: a hook lands the constraint right
    after this writer stages."""
    path = str(tmp_path / "t")
    store = SnapshotStore(spark, path)
    store.append(_df(spark, 0, 5))

    class Racy(SnapshotStore):
        def _stage(self, df, allow_schema_change=False):
            rel = super()._stage(df, allow_schema_change)
            # concurrent writer wins the next commit with a constraint
            SnapshotStore(self.spark, self.path).add_constraint(
                "non_negative", "v >= 0"
            )
            return rel

    writer = Racy(spark, path)
    with pytest.raises(CommitConflict, match="constraints changed"):
        writer.append(_df(spark, -3, 0))  # staged rows violate v >= 0
    assert store.read().count() == 5  # nothing leaked
    # a fresh append now validates against the landed constraint
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
        ConstraintViolation,
    )

    with pytest.raises(ConstraintViolation):
        store.append(_df(spark, -3, 0))
    store.append(_df(spark, 5, 7))
    assert store.read().count() == 7


def test_constraints_enforced_on_merge_and_survivor_rewrites(spark, tmp_path):
    """Constraints run on EVERY staged rewrite, not just appends: a
    merge whose source violates is refused atomically (survivor
    rewrite included), and the delete path's survivor rewrite passes
    untouched."""
    from pyspark.sql import functions as F

    from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
        ConstraintViolation,
    )

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 10))
    store.add_constraint("non_negative", "v >= 0")
    bad_src = _df(spark, 3, 5).select((F.col("v") * -1).alias("v"))
    with pytest.raises(ConstraintViolation, match="non_negative"):
        store.merge_into(bad_src, on=["v"])
    assert sorted(r["v"] for r in store.read().collect()) == list(range(10))
    # valid merge and delete still work under the constraint
    store.merge_into(_df(spark, 8, 12), on=["v"])
    store.delete_where("v < 2")
    assert sorted(r["v"] for r in store.read().collect()) == list(range(2, 12))


def test_dv_stats_drive_compaction_decision(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 40).coalesce(2))
    assert store.dv_stats()["n_deleted"] == 0
    store.delete_where_dv("v % 4 = 0")
    stats = store.dv_stats()
    assert stats["n_deleted"] == 10
    assert 0 < stats["dv_ratio"] <= 0.5
    assert sum(stats["files"].values()) == 10
    # every reported file is a current manifest member with a vector
    m = store.manifest()
    assert set(stats["files"]) <= set(m["dvs"])
    # compact materializes -> the report empties
    store.compact()
    assert store.dv_stats() == {
        "files": {}, "n_deleted": 0, "n_dv_files": 0, "dv_ratio": 0.0
    }


def test_merge_keeps_survivor_stats_in_manifest(spark, tmp_path):
    """ADVICE r6 (low): merge_into stages survivors then added rows in
    two _stage calls; the second reassigned _pending_stats, dropping
    the survivor files' min/max stats from the manifest —
    those files then lost pruning forever. Every post-merge file must
    carry its stats entry."""
    from pyspark.sql import functions as F

    def kv(lo, hi, mult=1):
        return (
            spark.range(lo, hi)
            .coalesce(1)
            .select(F.col("id").alias("k"), (F.col("id") * mult).alias("v"))
        )

    store = SnapshotStore(spark, str(tmp_path / "t"), stats_cols=["k"])
    store.append(kv(0, 5))
    # matched key 3 forces a survivor rewrite; key 20 is an insert, so
    # BOTH _stage calls run in the same commit
    r = store.merge_into(kv(3, 4, 10).unionByName(kv(20, 21, 10)), on=["k"])
    assert (r["matched"], r["inserted"]) == (1, 1)
    m = store.manifest()
    for f in m["files"]:
        assert "k" in m["stats"][f], f"survivor file {f} lost min/max stats"
    # and the stats are actually correct (prune to the survivor file)
    assert store.pruned_files({"k": (0, 2)}) and len(
        store.pruned_files({"k": (0, 2)})
    ) < len(m["files"])


def test_compact_policy_triggers_on_dv_ratio(spark, tmp_path):
    """Self-healing merge-on-read (round-7 verdict item 5): compact
    with when_dv_ratio_above consults dv_stats — a light table is a
    TRUE no-op (no commit, vectors kept), a DV-heavy table compacts,
    materializing every vector so the report empties and live rows are
    unchanged."""
    from pyspark.sql import functions as F

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(
        spark.range(0, 100)
        .coalesce(1)  # one file: dv_ratio == table-wide deleted fraction
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    )
    # light: 5% deleted -> below the 0.3 threshold -> no commit
    store.delete_where_dv("k < 5")
    head = store.latest_version()
    assert store.compact(when_dv_ratio_above=0.3) is None
    assert store.latest_version() == head
    assert store.dv_stats()["n_deleted"] == 5  # vectors untouched

    # heavy: 40% deleted -> triggers, materializes, report empties
    store.delete_where_dv("k >= 5 and k < 40")
    assert store.dv_stats()["dv_ratio"] > 0.3
    v = store.compact(when_dv_ratio_above=0.3)
    assert v == store.latest_version()
    assert store.dv_stats() == {
        "files": {}, "n_deleted": 0, "n_dv_files": 0, "dv_ratio": 0.0
    }
    assert sorted(r["k"] for r in store.read().collect()) == list(range(40, 100))


def test_merge_and_delete_rebase_over_injected_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """Deterministic rebase race (no thread timing): a blind append by
    ANOTHER writer commits between the merge's (then the delete's)
    snapshot read and its first CAS attempt — the wrapped _try_commit
    injects it, so the first CAS genuinely loses. Both operations must
    retry onto the new head and preserve the racing writer's rows
    (WriteSerializable: blind appends commute with merge/delete)."""
    from pyspark.sql import functions as F

    def kv(lo, hi, mult=1):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * mult).alias("v")
        )

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(kv(0, 5))
    racer = SnapshotStore(spark, str(tmp_path / "t"))

    def inject_once(rows):
        state = {"done": False}
        orig = SnapshotStore._try_commit

        def racy(self, *a, **kw):
            if not state["done"]:
                state["done"] = True
                racer.append(rows)  # racing blind append wins the CAS
            return orig(self, *a, **kw)

        monkeypatch.setattr(SnapshotStore, "_try_commit", racy)
        return lambda: monkeypatch.setattr(SnapshotStore, "_try_commit", orig)

    restore = inject_once(kv(100, 103))
    r = store.merge_into(kv(3, 4, 10).unionByName(kv(50, 51)), on=["k"])
    restore()
    assert (r["matched"], r["inserted"]) == (1, 1)
    got = {row["k"]: row["v"] for row in store.read().collect()}
    assert got[3] == 30 and got[50] == 50          # merge applied
    assert all(got[k] == k for k in (100, 101, 102))  # racer preserved
    assert len(got) == 9  # 5 base + 3 raced + 1 insert

    restore = inject_once(kv(200, 202))
    version, n = store.delete_where("k >= 100 AND k < 103")
    restore()
    assert n == 3 and version == store.latest_version()
    got2 = sorted(row["k"] for row in store.read().collect())
    assert 200 in got2 and 201 in got2 and 100 not in got2
    assert len(got2) == 8  # 9 - 3 deleted + 2 raced


def test_widening_refuses_bucket_key(spark, tmp_path):
    """murmur3(int) != murmur3(long): widening the bucket key would
    route new files by a different hash under one declared layout —
    refused like a re-declaration; rebucket() is the sound path."""
    from pyspark.sql import functions as F

    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )

    st = BucketedSnapshotStore(
        spark, str(tmp_path / "b"), bucket_col="k", n_buckets=4
    )
    st.append(
        spark.range(8).select(
            F.col("id").cast("int").alias("k"), F.col("id").alias("v")
        )
    )
    with pytest.raises(ValueError, match="cannot widen bucket key"):
        st.append(
            spark.range(8, 12).select(
                F.col("id").cast("bigint").alias("k"),
                F.col("id").alias("v"),
            ),
            merge_schema=True,
        )
    # non-key columns still widen fine on the same table
    st.append(
        spark.range(8, 12).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("bigint").alias("v"),
        ),
        merge_schema=True,
    )
    assert dict(st.read().dtypes)["v"] == "bigint"
    assert st.read().count() == 12


def test_dv_delete_does_not_stamp_a_failed_stages_schema(spark, tmp_path):
    """A FAILED evolving append leaves _pending_schema on the
    instance; delete_where_dv (the one commit path that never runs
    _stage) must not stamp it into the manifest."""
    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(_df(spark, 0, 10))
    store.add_constraint("pos", "v >= 0")
    from pyspark.sql import functions as F

    import pytest as _pytest

    from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
        ConstraintViolation,
    )

    with _pytest.raises(ConstraintViolation):
        store.append(
            spark.createDataFrame([(-1, "x")], "v long, tag string"),
            merge_schema=True,
        )
    # the instance now carries the lost append's evolved pendings
    v, n = store.delete_where_dv("v = 0")
    assert n == 1
    m = store.manifest()
    assert m["schema"] == [["v", "bigint"]]  # no phantom 'tag'


def test_merge_by_source_conflicts_on_concurrent_append(spark, tmp_path):
    """The by-absence branch claims EVERY non-matched row, so the
    usual rebase-over-appends justification fails: a concurrently
    appended key absent from the source must conflict, not survive."""
    from pyspark.sql import functions as F

    import ccxt_ohlcv_fetcher_spark.operators.snapshots as S

    def kv(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )

    store = SnapshotStore(spark, str(tmp_path / "t"))
    store.append(kv(0, 4))
    racer = SnapshotStore(spark, str(tmp_path / "t"))

    orig = S.SnapshotStore._try_commit
    fired = {"done": False}

    def racing_tc(self, *a, **k):
        # inject the racing append just before the merge's first CAS
        # attempt: the merge loses, re-reads the moved head, and the
        # by-absence guard must conflict instead of rebasing
        if self is store and not fired["done"]:
            fired["done"] = True
            racer.append(kv(10, 12))
        return orig(self, *a, **k)

    S.SnapshotStore._try_commit = racing_tc
    try:
        with pytest.raises(CommitConflict, match="not_matched_by_source"):
            store.merge_into(
                kv(0, 2), on=["k"], when_not_matched_by_source="delete"
            )
    finally:
        S.SnapshotStore._try_commit = orig
    # the racer's rows are intact; no partial merge landed
    assert sorted(r["k"] for r in store.read().collect()) == [
        0, 1, 2, 3, 10, 11,
    ]


def test_merge_schema_evolution_type_widening(spark, tmp_path):
    """Type widening under merge_into(schema_evolution=True) (VERDICT
    r11 item 2, the append-path lattice at _widens): a source carrying
    a WIDER type on a shared column widens the committed column in the
    same merge commit — old files read back upcast, time travel reads
    the narrow pre-merge schema, the CDC feed carries the widened
    type, a NARROWER source upcasts with no schema change, and
    non-lossless retypes still refuse."""
    from pyspark.sql import functions as F

    def kv(lo, hi, vt="int", xt="float"):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.col("id").cast(vt).alias("v"),
            F.col("id").cast(xt).alias("x"),
        )

    store = SnapshotStore(spark, str(tmp_path / "t"), stats_cols=["k"])
    store.append(kv(0, 4))    # v1: v int, x float
    store.append(kv(10, 14))  # v2: carries over untouched
    v2_new = set(store.manifest(2)["files"]) - set(store.manifest(1)["files"])

    wide = kv(2, 6, vt="bigint", xt="double")
    # undeclared widening refuses
    with pytest.raises(ValueError, match="schema_evolution=True"):
        store.merge_into(wide, on=["k"])
    r = store.merge_into(wide, on=["k"], schema_evolution=True)
    assert r["matched"] == 2 and r["inserted"] == 2
    m = store.manifest()
    assert m["schema"] == [["k", "bigint"], ["v", "bigint"], ["x", "double"]]
    # untouched old file carried over by reference, upcast on read
    assert v2_new <= set(m["files"])
    got = store.read()
    assert dict(got.dtypes) == {"k": "bigint", "v": "bigint", "x": "double"}
    vals = {row["k"]: (row["v"], row["x"]) for row in got.collect()}
    assert vals[10] == (10, 10.0) and vals[5] == (5, 5.0)
    assert len(vals) == 10
    # time travel reads the pre-merge NARROW schema
    assert dict(store.read(version=2).dtypes)["v"] == "int"
    # CDC feed carries the WIDENED type (head-schema reads)
    ch = store.read_row_changes(2)
    assert dict(ch.dtypes)["v"] == "bigint"
    by = {(row["k"], row["_change"]): row["v"] for row in ch.collect()}
    assert by[(2, 1)] == 2 and by[(2, -1)] == 2 and (5, 1) in by
    # NARROWER source after widening: upcast, no schema change
    r2 = store.merge_into(
        kv(20, 21), on=["k"], schema_evolution=True
    )
    assert r2["inserted"] == 1
    assert store.manifest()["schema"] == m["schema"]
    assert store.read().filter("k = 20 AND v = 20").count() == 1
    # cross-family retype refuses even with the flag
    with pytest.raises(ValueError, match="cannot retype"):
        store.merge_into(
            spark.range(1).select(
                F.col("id").alias("k"),
                F.col("id").cast("double").alias("v"),
                F.col("id").cast("double").alias("x"),
            ),
            on=["k"],
            schema_evolution=True,
        )


def test_merge_widening_refuses_bucket_key(spark, tmp_path):
    """Widening the BUCKET KEY through a merge refuses like the append
    path: murmur3(int) != murmur3(long), so the layout would go stale."""
    from pyspark.sql import functions as F

    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )

    store = BucketedSnapshotStore(
        spark, str(tmp_path / "t"), bucket_col="k", n_buckets=2
    )
    store.append(
        spark.range(8).select(
            F.col("id").cast("int").alias("k"), F.col("id").alias("v")
        )
    )
    with pytest.raises(ValueError, match="bucket key"):
        store.merge_into(
            spark.range(2).select(
                F.col("id").cast("bigint").alias("k"),
                (F.col("id") * 10).alias("v"),
            ),
            on=["k"],
            schema_evolution=True,
        )


def test_tables_with_column_mapping_are_refused(spark, tmp_path):
    """Tables written by an older engine with column mapping turned on
    carry ``column_mapping`` and ``min_reader: 3`` in their log, and
    their data files may store generated physical column names. This
    reader reads files by their logical names only, so it must refuse
    such a table loudly on every read path — the plain read, the
    bucketed read and the change feed — never return NULL-filled
    columns."""
    import json

    from pyspark.sql import functions as F

    from ccxt_ohlcv_fetcher_spark.operators.bucketed_log import (
        BucketedSnapshotStore,
    )
    from ccxt_ohlcv_fetcher_spark.sources.change_stream import register

    def enable_mapping_by_hand(store):
        # the metadata-only delta an older engine's enable step commits
        head = store.latest_version()
        delta = {
            "format": 2, "version": head + 1, "parent": head,
            "operation": "metadata", "add": [], "remove": [],
            "column_mapping": {
                n: n for n, _t in store.manifest(head)["schema"]
            },
            "min_reader": 3,
            "ts": store.manifest(head)["ts"] + 1.0,
        }
        with open(store._manifest_path(head + 1), "w") as fh:
            json.dump(delta, fh)

    plain = SnapshotStore(spark, str(tmp_path / "plain"))
    plain.append(_df(spark, 0, 5))
    enable_mapping_by_hand(plain)
    with pytest.raises(RuntimeError, match="requires reader protocol"):
        SnapshotStore(spark, plain.path).read()

    bkt = BucketedSnapshotStore(
        spark, str(tmp_path / "bkt"), bucket_col="k", n_buckets=2
    )
    bkt.append(
        spark.range(8).select(
            (F.col("id") % 4).alias("k"), F.col("id").alias("v")
        )
    )
    enable_mapping_by_hand(bkt)
    # the instance opened before the mapping commit: the refusal comes
    # from read_bucketed's own head resolution, not the constructor
    with pytest.raises(RuntimeError, match="requires reader protocol"):
        bkt.read_bucketed()

    register(spark)
    with pytest.raises(Exception, match="requires reader protocol"):
        q = (
            spark.readStream.format("snapshot_changes")
            .option("path", plain.path)
            .load()
            .writeStream.format("memory")
            .queryName("mapped_refused")
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)


def test_min_reader_protocol_floor(spark, tmp_path):
    """A manifest demanding a protocol newer than this reader
    implements is refused LOUDLY (a reader that misses a feature it
    does not know would silently misread the table)."""
    import json

    from ccxt_ohlcv_fetcher_spark.operators import snapshots as S

    st = SnapshotStore(spark, str(tmp_path / "tbl"))
    st.append(_df(spark, 0, 5))
    assert st.manifest().get("min_reader") is None
    head = st.latest_version()
    delta = {
        "format": 2, "version": head + 1, "parent": head,
        "operation": "metadata", "add": [], "remove": [],
        "min_reader": S.READER_VERSION + 1,
    }
    with open(st._manifest_path(head + 1), "w") as fh:
        json.dump(delta, fh)
    fresh = SnapshotStore(spark, st.path)
    with pytest.raises(RuntimeError, match="requires reader protocol"):
        fresh.read()
    os.remove(st._manifest_path(head + 1))


def test_timestamp_time_travel(spark, tmp_path):
    """version_at_timestamp / read(timestamp=): commit stamps are
    monotonic per log, pre-stamp manifests fall back to file mtime,
    and a too-early timestamp refuses."""
    st = SnapshotStore(spark, str(tmp_path / "tbl"))
    st.append(_df(spark, 0, 5))
    t1 = st.manifest(1)["ts"]
    st.append(_df(spark, 5, 8))
    t2 = st.manifest(2)["ts"]
    assert t2 > t1
    assert st.version_at_timestamp(t1) == 1
    assert st.version_at_timestamp((t1 + t2) / 2) == 1
    assert st.version_at_timestamp(t2) == 2
    assert st.version_at_timestamp(t2 + 3600) == 2
    assert st.read(timestamp=t1).count() == 5
    assert st.read(timestamp=t2 + 1).count() == 8
    with pytest.raises(ValueError, match="predates"):
        st.version_at_timestamp(t1 - 1)
    with pytest.raises(ValueError, match="not both"):
        st.read(version=1, timestamp=t1)
    # legacy manifests without the stamp: mtime fallback
    import json

    p = st._manifest_path(1)
    with open(p) as fh:
        m = json.load(fh)
    m.pop("ts")
    with open(p, "w") as fh:
        json.dump(m, fh)
    st._state_cache.clear()
    assert st.version_at_timestamp(t2 + 3600) == 2
    assert st.version_at_timestamp(t2) in (1, 2)  # mtime >= t2 is fine
