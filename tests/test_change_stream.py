"""Streaming change-feed SOURCE over the snapshot log
(sources/change_stream.py): spark.readStream.format("snapshot_changes")
— version-offset exactly-once semantics, signed rows across append /
delete (both flavors) / merge / compact, restart-resume from the
checkpointed version, overwrite fails the stream.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.operators.snapshots import SnapshotStore
from ccxt_ohlcv_fetcher_spark.sources.change_stream import register


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )


def _start(spark, root, out_table, checkpoint, **opts):
    reader = spark.readStream.format("snapshot_changes").option("path", root)
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    return (
        reader.load()
        .writeStream.format("memory")
        .queryName(out_table)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def test_stream_emits_signed_changes_across_commit_types(spark, tmp_path):
    register(spark)
    root = str(tmp_path / "t")
    store = SnapshotStore(spark, root)
    store.append(_df(spark, 0, 20))           # v1: +20
    store.delete_where("v >= 15")             # v2: -5 (copy-on-write)
    store.delete_where_dv("v = 0")            # v3: -1 (deletion vector)
    store.compact()                           # v4: nothing
    store.append(_df(spark, 100, 105))        # v5: +5

    q = _start(spark, root, "chg1", str(tmp_path / "cp1"))
    q.awaitTermination(300)
    rows = spark.sql("select * from chg1").collect()
    by_sign = {}
    for r in rows:
        by_sign.setdefault(r["_change"], []).append(r)
    assert len(by_sign[1]) == 25 and len(by_sign[-1]) == 6
    # net state from the feed == the table's live read
    net = {}
    for r in rows:
        net[r["v"]] = net.get(r["v"], 0) + r["_change"]
    live = sorted(r["v"] for r in store.read().collect())
    assert sorted(v for v, c in net.items() if c == 1) == live
    # commit versions stamp correctly
    assert {r["_commit_version"] for r in by_sign[-1]} == {2, 3}


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    register(spark)
    root = str(tmp_path / "t")
    cp = str(tmp_path / "cp")
    out = str(tmp_path / "out")
    store = SnapshotStore(spark, root)
    store.append(_df(spark, 0, 10))

    def run_once():
        # file sink: the one that supports checkpoint RECOVERY (memory
        # sink refuses), so the version offset round-trips a restart
        q = (
            spark.readStream.format("snapshot_changes")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    assert spark.read.parquet(out).count() == 10

    store.append(_df(spark, 10, 13))
    run_once()  # same checkpoint -> resumes at the committed version
    rows = spark.read.parquet(out).collect()
    # no overlap, no gap: 13 total, the delta stamped with v2
    assert sorted(r["v"] for r in rows) == list(range(13))
    assert sorted(r["v"] for r in rows if r["_commit_version"] == 2) == [10, 11, 12]


def test_stream_fails_on_overwrite(spark, tmp_path):
    register(spark)
    root = str(tmp_path / "t")
    store = SnapshotStore(spark, root)
    store.append(_df(spark, 0, 5))
    store.overwrite(_df(spark, 50, 55))

    q = _start(spark, root, "chg3", str(tmp_path / "cp3"))
    with pytest.raises(Exception, match="non-row-level|OVERWRITE|overwrite"):
        q.awaitTermination(300)
        if q.exception():
            raise q.exception()


def test_candle_dataset_streams_into_rollups(spark, tmp_path):
    """The reference's end state, fully log-driven: candles ingested into
    the logged dataset stream OUT through the change feed and roll up
    hourly — table -> stream -> aggregate without rescanning."""
    from ccxt_ohlcv_fetcher_spark.operators.candle_log import (
        SnapshotCandleDataset,
    )
    from tests.test_candle_log import batch

    register(spark)
    ds = SnapshotCandleDataset(spark, str(tmp_path / "candles"))
    ds.append_idempotent(batch(spark, 0, 120))
    ds.append_idempotent(batch(spark, 120, 180))

    q = (
        spark.readStream.format("snapshot_changes")
        .option("path", str(tmp_path / "candles"))
        .load()
        .filter("_change = 1")
        .writeStream.format("memory")
        .queryName("candle_feed")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    feed = spark.sql("select * from candle_feed")
    assert feed.count() == 180
    hourly = (
        feed.groupBy(F.expr("timestamp DIV 3600000").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sum(r["n"] for r in hourly) == 180
    # T0 is minute- but not hour-aligned: full interior hours carry 60
    # 1m candles, the two boundary hours share the remainder
    counts = sorted(r["n"] for r in hourly)
    assert max(counts) == 60 and len(counts) in (3, 4)


def test_stream_schema_pins_head_superset_after_evolution(spark, tmp_path):
    """A stream started after an add-column evolution reads the HEAD
    schema: pre-evolution files null-fill the new column instead of the
    stream silently dropping it."""
    register(spark)
    root = str(tmp_path / "t")
    store = SnapshotStore(spark, root)
    store.append(_df(spark, 0, 4))
    evolved = _df(spark, 4, 6).withColumn("extra", F.col("v") * 10)
    # merge with schema evolution adds the column
    store.merge_into(
        evolved, on=["k", "v"], when_matched=None, schema_evolution=True
    )

    q = _start(spark, root, "chg_evo", str(tmp_path / "cp_evo"))
    q.awaitTermination(300)
    rows = spark.sql("select * from chg_evo").collect()
    assert "extra" in rows[0].asDict()
    by_v = {r["v"]: r for r in rows}
    assert by_v[0]["extra"] is None          # pre-evolution: null-fill
    assert by_v[5]["extra"] == 50            # evolved file carries it


def test_replicate_changes_mirrors_table_including_deletes(spark, tmp_path):
    from ccxt_ohlcv_fetcher_spark.sources.change_stream import (
        apply_changes_batch,
        replicate_changes,
    )

    src_root = str(tmp_path / "src")
    src = SnapshotStore(spark, src_root)
    tgt = SnapshotStore(spark, str(tmp_path / "tgt"))

    src.append(_df(spark, 0, 10))
    src.merge_into(  # upsert: v=3 exists (update), v=100 inserts
        _df(spark, 3, 4).union(_df(spark, 100, 101)), on=["v"]
    )
    src.delete_where("v in (1, 2)")
    src.delete_where_dv("v = 5")

    q = replicate_changes(
        spark, src_root, tgt, keys=["v"], checkpoint_dir=str(tmp_path / "cp")
    )
    q.awaitTermination(180)
    assert sorted(r["v"] for r in tgt.read().collect()) == sorted(
        r["v"] for r in src.read().collect()
    )

    # incremental re-sync picks up only new commits
    src.append(_df(spark, 200, 202))
    src.delete_where("v = 0")
    q = replicate_changes(
        spark, src_root, tgt, keys=["v"], checkpoint_dir=str(tmp_path / "cp")
    )
    q.awaitTermination(180)
    assert sorted(r["v"] for r in tgt.read().collect()) == sorted(
        r["v"] for r in src.read().collect()
    )

    # replaying an already-applied batch is a value-level no-op
    feed = src.read_row_changes(0, include_version=True)
    before = sorted(r["v"] for r in tgt.read().collect())
    apply_changes_batch(feed, tgt, keys=["v"])
    assert sorted(r["v"] for r in tgt.read().collect()) == before


def test_max_files_per_batch_paces_without_skipping(spark, tmp_path):
    """Admission control: with maxFilesPerBatch=2 and 1-file commits,
    availableNow still drains EVERYTHING (caps clamp the offset, so
    checkpoints record exactly what was emitted — the old clamp-in-
    partitions shape silently skipped the suffix), across multiple
    batches."""
    register(spark)
    root = str(tmp_path / "t")
    store = SnapshotStore(spark, root)
    for lo in range(0, 12, 2):
        store.append(_df(spark, lo, lo + 2).coalesce(1))  # 6 x 1-file commits

    out = str(tmp_path / "out")

    def drain_once():
        q = (
            spark.readStream.format("snapshot_changes")
            .option("path", root)
            .option("maxFilesPerBatch", "2")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        import glob as g

        files = g.glob(out + "/*.parquet")
        return (
            sorted(r["v"] for r in spark.read.parquet(out).collect())
            if files
            else []
        )

    # availableNow snapshots ONE capped offset per invocation (the
    # simple reader API has no admission-control loop), so pacing =
    # bounded forward progress per invocation, never a skip
    seen = drain_once()
    assert seen == [0, 1, 2, 3]  # 2 files = 2 commits = 4 rows
    progress = [len(seen)]
    for _ in range(6):
        seen = drain_once()
        progress.append(len(seen))
        if len(seen) == 12:
            break
    assert seen == list(range(12))  # fully drained, nothing skipped
    assert sorted(progress) == progress  # monotone forward progress


def test_replication_follows_schema_evolution(spark, tmp_path):
    from ccxt_ohlcv_fetcher_spark.sources.change_stream import (
        replicate_changes,
    )

    src_root = str(tmp_path / "src")
    src = SnapshotStore(spark, src_root)
    tgt = SnapshotStore(spark, str(tmp_path / "tgt"))

    src.append(_df(spark, 0, 4))
    q = replicate_changes(
        spark, src_root, tgt, keys=["v"], checkpoint_dir=str(tmp_path / "cp")
    )
    q.awaitTermination(300)

    # source evolves: add-column merge, then more plain appends
    evolved = _df(spark, 4, 6).withColumn("extra", F.col("v") * 10)
    src.merge_into(evolved, on=["k", "v"], when_matched=None, schema_evolution=True)
    q = replicate_changes(
        spark, src_root, tgt, keys=["v"], checkpoint_dir=str(tmp_path / "cp")
    )
    q.awaitTermination(300)
    got = {r["v"]: r for r in tgt.read().collect()}
    assert set(got) == set(range(6))
    assert got[5]["extra"] == 50          # evolved row carries the column
    assert got[0]["extra"] is None        # pre-evolution rows null-fill


def test_capped_reader_never_reemits_after_offset_regression(spark, tmp_path):
    """ADVICE r6 (medium): after a checkpoint restart, a fresh capped
    reader's first latestOffset computes from startingVersion and can
    land BELOW the checkpointed offset; Spark durably records that
    lower end and plans an overlapping next batch. The reader must
    (a) heal its cursor from every range partitions() shows it,
    (b) never re-emit a version this instance already handed to Spark,
    (c) RATCHET in commit() instead of overwriting the heal.
    Simulates Spark's exact post-restart call sequence."""
    from ccxt_ohlcv_fetcher_spark.sources.change_stream import (
        SnapshotChangeStreamReader,
    )

    root = str(tmp_path / "t")
    store = SnapshotStore(spark, root)
    for lo in range(0, 16, 2):  # v1..v8, one commit each
        store.append(_df(spark, lo, lo + 2).coalesce(1))

    # previous run processed + checkpointed through v6; fresh reader:
    r = SnapshotChangeStreamReader({"path": root, "maxVersionsPerBatch": "2"})
    off1 = r.latestOffset()
    assert off1["version"] == 2  # the regression (cold cursor + cap)
    # Spark plans (checkpointed=6, off1=2]: inverted -> emits NOTHING
    assert r.partitions({"version": 6}, off1) == []
    r.commit(off1)  # Spark records the lower end; must not rewind heal
    off2 = r.latestOffset()
    assert off2["version"] == 8  # healed past the checkpoint
    # Spark plans from its recorded lower end: (2, 8]. Versions <= 6
    # were processed by the previous run — only 7..8 may emit.
    parts = r.partitions({"version": 2}, off2)
    assert sorted({p.version for p in parts}) == [7, 8]


def test_available_now_caps_one_offset_per_invocation(spark, tmp_path):
    """PIN Spark's simple-reader availableNow semantics under admission
    control (round-7 verdict item 7): one invocation consumes exactly
    ONE capped offset (here 2 versions of 6), NOT the whole backlog.
    If a Spark upgrade starts looping latestOffset inside availableNow,
    this assertion flips and drain_available's docs need rewriting."""
    register(spark)
    root = str(tmp_path / "t")
    store = SnapshotStore(spark, root)
    for lo in range(0, 12, 2):  # v1..v6
        store.append(_df(spark, lo, lo + 2).coalesce(1))
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("snapshot_changes")
        .option("path", root)
        .option("maxVersionsPerBatch", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert spark.read.parquet(out).count() == 4  # 2 versions x 2 rows


def test_drain_available_converges_capped_stream(spark, tmp_path):
    """drain_available re-invokes a capped availableNow stream until
    the checkpoint reaches the head: everything lands, nothing twice,
    and the loop stops on the first empty round."""
    from ccxt_ohlcv_fetcher_spark.sources.change_stream import (
        drain_available,
    )

    register(spark)
    root = str(tmp_path / "t")
    store = SnapshotStore(spark, root)
    for lo in range(0, 12, 2):  # v1..v6
        store.append(_df(spark, lo, lo + 2).coalesce(1))
    out = str(tmp_path / "out")

    def start():
        return (
            spark.readStream.format("snapshot_changes")
            .option("path", root)
            .option("maxVersionsPerBatch", "2")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )

    rounds = drain_available(start)
    # 6 versions / 2 per round = 3 productive rounds + 1 empty
    assert rounds == 4
    assert sorted(r["v"] for r in spark.read.parquet(out).collect()) == list(
        range(12)
    )


def test_starting_timestamp_option(spark, tmp_path):
    """startingTimestamp (TIMESTAMP AS OF for the feed): the stream
    emits changes AFTER the newest commit at or before the instant;
    both options together refuse."""
    register(spark)
    root = str(tmp_path / "t")
    store = SnapshotStore(spark, root)
    store.append(_df(spark, 0, 10))   # v1
    t1 = store.manifest(1)["ts"]
    store.append(_df(spark, 10, 15))  # v2
    q = _start(
        spark, root, "chg_ts", str(tmp_path / "cp"),
        startingTimestamp=t1,
    )
    q.awaitTermination(300)
    rows = spark.sql("select * from chg_ts").collect()
    assert sorted(r["v"] for r in rows) == list(range(10, 15))
    with pytest.raises(Exception, match="not both"):
        q2 = _start(
            spark, root, "chg_ts2", str(tmp_path / "cp2"),
            startingTimestamp=t1, startingVersion=0,
        )
        q2.awaitTermination(60)


def test_starting_timestamp_predating_a_complete_log_streams_all(
    spark, tmp_path
):
    """A startingTimestamp older than EVERY commit of a complete log
    streams the full history (nothing existed before it, so nothing is
    missed — Delta's rule); the same timestamp against a PRUNED log
    refuses (the early changes are unrecoverable)."""
    register(spark)
    root = str(tmp_path / "t")
    store = SnapshotStore(spark, root)
    store.append(_df(spark, 0, 4))
    t0 = store.manifest(1)["ts"] - 10
    q = _start(
        spark, root, "chg_all", str(tmp_path / "cp"),
        startingTimestamp=t0,
    )
    q.awaitTermination(300)
    assert len(spark.sql("select * from chg_all").collect()) == 4
    # prune the prefix: the same timestamp now refuses
    store.append(_df(spark, 4, 6))
    store.append(_df(spark, 6, 8))
    store.vacuum(retain_versions=1, min_age_seconds=0, prune_log=True)
    with pytest.raises(Exception, match="no retained commit"):
        q2 = _start(
            spark, root, "chg_pruned", str(tmp_path / "cp2"),
            startingTimestamp=t0,
        )
        q2.awaitTermination(60)


def test_starting_timestamp_on_empty_table_waits(spark, tmp_path):
    """startingTimestamp on a never-committed table behaves like
    startingVersion=0: construct, wait for the producer, emit what
    lands (consumer-first deployment)."""
    import time as _time

    register(spark)
    root = str(tmp_path / "t")
    store = SnapshotStore(spark, root)  # no commits yet
    ts = _time.time()
    store.append(_df(spark, 0, 3))  # producer arrives after the probe
    q = _start(
        spark, root, "chg_empty", str(tmp_path / "cp"),
        startingTimestamp=ts - 10,
    )
    q.awaitTermination(300)
    assert len(spark.sql("select * from chg_empty").collect()) == 3
