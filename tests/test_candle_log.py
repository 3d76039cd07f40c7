"""Snapshot-logged candle ingest (operators/candle_log.py): the four
reference ingest invariants under the commit log, plus the concurrency
properties the log adds — conflict-resolving rebase for overlapping
keys, stats-only resume, metadata-only retention, time travel, and a
randomized interleaved-writer linearizability check over candle
batches (the VERDICT item: the reference's 4-worker fan-out,
fetch_exchange.sh:18-23, means concurrent writers into ONE dataset).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.operators.candle_log import (
    SnapshotCandleDataset,
)
from ccxt_ohlcv_fetcher_spark.operators.ingest import (
    PARTITION_COLS,
    project_ohlcv_rows,
)

T0 = 1700000000 * 1000 - (1700000000 % 60) * 1000
MIN = 60_000


def grid(n: int, t0: int = T0) -> list[list]:
    return [
        [t0 + i * MIN, 100.0 + i, 101.0 + i, 99.0 + i, 100.5 + i, 10.0 * (i + 1)]
        for i in range(n)
    ]


def batch(spark, lo: int, hi: int, symbol: str = "XRP/USD", exchange: str = "e"):
    rows = grid(hi - lo, t0=T0 + lo * MIN)
    return project_ohlcv_rows(spark, rows, exchange, symbol, "1m")


@pytest.fixture()
def ds(spark, tmp_path):
    return SnapshotCandleDataset(spark, str(tmp_path / "candles"))


def test_append_read_resume_roundtrip(spark, ds):
    assert ds.resume_offset("e", "XRP/USD", "1m") is None
    assert ds.append_idempotent(batch(spark, 0, 5)) == 5
    assert ds.append_idempotent(batch(spark, 5, 8)) == 3
    assert ds.read().count() == 8
    assert ds.resume_offset("e", "XRP/USD", "1m") == T0 + 7 * MIN
    # re-appending an identical batch is a no-op (INSERT OR IGNORE, :71-75)
    assert ds.append_idempotent(batch(spark, 0, 5)) == 0
    assert ds.read().count() == 8
    # partial overlap: only the new tail lands
    assert ds.append_idempotent(batch(spark, 6, 10)) == 2
    assert ds.read().count() == 10


def test_resume_offset_is_stats_only(spark, ds, monkeypatch):
    """After per-key staging, resume must come from the manifest alone
    — no Spark job. Poison spark.read to prove no data I/O happens."""
    ds.append_idempotent(batch(spark, 0, 5))
    ds.append_idempotent(batch(spark, 0, 3, symbol="BTC/USD"))

    def boom(*a, **k):  # pragma: no cover - must not be reached
        raise AssertionError("resume_offset touched data files")

    monkeypatch.setattr(ds.spark.read, "parquet", boom)
    assert ds.resume_offset("e", "XRP/USD", "1m") == T0 + 4 * MIN
    assert ds.resume_offset("e", "BTC/USD", "1m") == T0 + 2 * MIN
    assert ds.resume_offset("e", "DOGE/USD", "1m") is None


def test_read_prunes_files_from_manifest(spark, ds):
    ds.append_idempotent(batch(spark, 0, 5))
    ds.append_idempotent(batch(spark, 0, 5, symbol="BTC/USD"))
    ds.append_idempotent(batch(spark, 5, 9))
    # symbol filter keeps only that symbol's files
    files = ds.store.pruned_files({"symbol": ("BTCUSD", "BTCUSD")})
    all_files = ds.store.manifest()["files"]
    assert 0 < len(files) < len(all_files)
    assert ds.read(symbol="BTC/USD").count() == 5
    # time filter prunes the older commit's files
    tail = ds.store.pruned_files({"timestamp": (T0 + 5 * MIN, None)})
    assert len(tail) < len(all_files)
    assert ds.read(symbol="XRP/USD", since_ms=T0 + 5 * MIN).count() == 4


def test_concurrent_overlapping_appends_keep_pk_unique(spark, tmp_path):
    """Two writers race appends with OVERLAPPING timestamps: the loser
    rebases, detects the key conflict in the winner's delta, re-stages
    minus the conflicts — PK uniqueness holds with no lock."""
    path = str(tmp_path / "candles")
    a, b = SnapshotCandleDataset(spark, path), SnapshotCandleDataset(spark, path)
    a.append_idempotent(batch(spark, 0, 5))

    class Racy(SnapshotCandleDataset):
        def __init__(self, spark, path, sneak):
            super().__init__(spark, path)
            self._sneak = sneak
            self._fired = False
            store = self.store
            outer = self
            orig = store._try_commit

            def hooked(base, files, op, txn=None):
                if op == "append" and not outer._fired:
                    outer._fired = True
                    outer._sneak()  # winner commits rows [5, 8) first
                    return False
                return orig(base, files, op, txn=txn)

            store._try_commit = hooked

    racy = Racy(
        spark, path, sneak=lambda: b.append_idempotent(batch(spark, 5, 8))
    )
    # loser carries rows [5, 10): 3 conflict with the winner, 2 survive
    n = racy.append_idempotent(batch(spark, 5, 10))
    assert n == 2
    df = a.read()
    assert df.count() == 10
    # exactly one row per timestamp — the reference's PK invariant
    dup = df.groupBy("timestamp").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def _pinned_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_append_releases_its_pins(spark, tmp_path, monkeypatch):
    """Every exit of append_idempotent (a commit, a no-op re-append, a
    lost CAS that re-stages minus the winner's keys) releases the
    batches it localCheckpoint-ed: appends leave no RDD pinned."""
    path = str(tmp_path / "candles")
    ds, winner = SnapshotCandleDataset(spark, path), SnapshotCandleDataset(spark, path)
    before = _pinned_rdds(spark)
    assert ds.append_idempotent(batch(spark, 0, 5)) == 5
    assert ds.append_idempotent(batch(spark, 5, 8)) == 3
    assert ds.append_idempotent(batch(spark, 0, 5)) == 0  # no-op re-append
    commit = ds.store._try_commit

    def lose_once(base, files, op, txn=None):
        monkeypatch.setattr(ds.store, "_try_commit", commit)
        winner.append_idempotent(batch(spark, 8, 10))  # rows [8, 10) win
        return False

    monkeypatch.setattr(ds.store, "_try_commit", lose_once)
    assert ds.append_idempotent(batch(spark, 8, 12)) == 2
    assert _pinned_rdds(spark) - before == set()
    assert ds.read().count() == 12


def test_txn_makes_streaming_batches_exactly_once(spark, ds):
    assert ds.append_idempotent(batch(spark, 0, 4), txn=("w1", 0)) == 4
    # re-delivered batch id: skipped by the log, not by content
    assert ds.append_idempotent(batch(spark, 0, 4), txn=("w1", 0)) == 0
    assert ds.append_idempotent(batch(spark, 4, 6), txn=("w1", 1)) == 2
    assert ds.read().count() == 6


def test_time_travel_and_retention(spark, ds):
    v1_rows = batch(spark, 0, 5)
    ds.append_idempotent(v1_rows)
    ds.append_idempotent(batch(spark, 5, 9))
    head = ds.store.latest_version()
    assert ds.read(version=head - 1).count() == 5  # time travel
    # metadata-only retention: drop files wholly older than the cutoff
    dropped = ds.retention(older_than_ms=T0 + 5 * MIN)
    assert dropped >= 1
    assert ds.read().count() == 4
    assert ds.read().agg(F.min("timestamp")).collect()[0][0] == T0 + 5 * MIN
    # physical space returns at vacuum (age gate bypassed for the test)
    assert len(ds.vacuum(min_age_seconds=0)) >= 1
    assert ds.read().count() == 4


def _key_stats(ds) -> list[tuple]:
    """The (exchange, symbol, timeframe) key of every head file, asserting
    that each file holds exactly one key (min == max on the key stats)."""
    m = ds.store.manifest()
    keys = []
    for f in m["files"]:
        fs = m["stats"][f]
        assert all(fs[c][0] == fs[c][1] for c in PARTITION_COLS), (f, fs)
        keys.append(tuple(fs[c][0] for c in PARTITION_COLS))
    return keys


def test_compact_clusters_and_keeps_stats_pruning(spark, ds, monkeypatch):
    """compact() writes exactly one file per (exchange, symbol, timeframe)
    key. Uneven row counts are the shape where a sampled range
    partitioner puts bounds inside the big key and merges small keys
    into one file; resume_offset must stay stats-only afterwards."""
    sizes = {"BTC/USD": 40, "ETH/USD": 5, "LTC/USD": 3, "XRP/USD": 7}
    for lo in range(0, 40, 5):
        for sym, n in sizes.items():
            if lo < n:
                ds.append_idempotent(batch(spark, lo, min(lo + 5, n), symbol=sym))
    n_files_before = len(ds.store.manifest()["files"])
    ds.compact()
    keys = _key_stats(ds)
    assert len(keys) == len(set(keys)) == len(sizes) < n_files_before
    assert ds.read().count() == sum(sizes.values())
    # compacted files carry fresh stats; per-symbol pruning still works
    assert len(ds.store.pruned_files({"symbol": ("BTCUSD", "BTCUSD")})) == 1

    def boom(*a, **k):  # pragma: no cover - must not be reached
        raise AssertionError("resume_offset touched data files")

    monkeypatch.setattr(ds.spark.read, "parquet", boom)
    for sym, n in sizes.items():
        assert ds.resume_offset("e", sym, "1m") == T0 + (n - 1) * MIN


def test_multi_key_append_stages_one_file_per_key(spark, ds):
    """One append whose batch holds 3 symbols (the streaming sink's
    micro-batch shape) stages exactly one file per key, also when the
    anti-join drops part of the batch."""
    first = batch(spark, 0, 20, "BTC/USD").unionByName(
        batch(spark, 0, 3, "ETH/USD")
    ).unionByName(batch(spark, 0, 8, "XRP/USD"))
    assert ds.append_idempotent(first) == 31
    assert sorted(_key_stats(ds)) == [
        ("e", "BTCUSD", "1m"), ("e", "ETHUSD", "1m"), ("e", "XRPUSD", "1m")
    ]
    second = batch(spark, 15, 25, "BTC/USD").unionByName(
        batch(spark, 2, 5, "ETH/USD")
    ).unionByName(batch(spark, 0, 8, "XRP/USD"))
    assert ds.append_idempotent(second) == 5 + 2
    assert sorted(_key_stats(ds)) == [
        ("e", "BTCUSD", "1m"), ("e", "BTCUSD", "1m"),
        ("e", "ETHUSD", "1m"), ("e", "ETHUSD", "1m"), ("e", "XRPUSD", "1m"),
    ]
    assert ds.read().count() == 25 + 5 + 8


def test_random_interleaved_candle_writers_never_lose_or_dup(spark, tmp_path):
    """Linearizability over candle ingest: writers append batches with
    random overlaps in a random (seeded) interleaving; the final table
    must hold exactly the union of all timestamps, each once."""
    import random

    rng = random.Random(23)
    path = str(tmp_path / "candles")
    writers = [SnapshotCandleDataset(spark, path) for _ in range(3)]
    # overlapping windows: [0,6) [4,10) [8,14) [2,8) [12,16)
    windows = [(0, 6), (4, 10), (8, 14), (2, 8), (12, 16)]
    rng.shuffle(windows)
    expected = set()
    for i, (lo, hi) in enumerate(windows):
        w = writers[i % len(writers)]
        n = w.append_idempotent(batch(spark, lo, hi))
        newly = {T0 + k * MIN for k in range(lo, hi)} - expected
        assert n == len(newly)
        expected |= newly
    df = writers[0].read()
    got = [r["timestamp"] for r in df.select("timestamp").collect()]
    assert sorted(got) == sorted(expected)
    # one row per key, decimal prices intact
    assert df.groupBy("timestamp").count().filter(F.col("count") > 1).count() == 0
    assert dict(df.dtypes)["open"].startswith("decimal")


def test_exchange_fanout_lockfree_on_snapshot_dataset(spark, ds):
    """fetch_exchange.sh analog on the commit log: 5 symbols, 4 worker
    threads, NO write lock — concurrent appends land via CAS rebase,
    totals add up, resume makes the re-run a no-op."""
    from ccxt_ohlcv_fetcher_spark.sources.catalog import Catalog, ExchangeMeta
    from ccxt_ohlcv_fetcher_spark.sources.paging import (
        FixturePagingSource,
        ingest_exchange,
    )

    symbols = [f"C{i}/USD" for i in range(5)]
    catalog = Catalog(
        {"kraken": ExchangeMeta("kraken", symbols=set(symbols), timeframes={"1m"})}
    )
    n_rows = 40
    now = T0 + n_rows * MIN
    sources = {
        s: FixturePagingSource(
            [
                [T0 + j * MIN, 1000.0 * i + j, 1000.0 * i + j + 1,
                 1000.0 * i + j - 1, 1000.0 * i + j, 5.0]
                for j in range(n_rows)
            ],
            page_size=25,
        )
        for i, s in enumerate(symbols)
    }
    stats = ingest_exchange(spark, catalog, sources, ds, "kraken", "1m", now_ms=now)
    assert all(st.rows_appended == n_rows for st in stats.values())
    assert ds.read(exchange="kraken").count() == 5 * n_rows
    # every commit in the log is an append; one consistent head
    assert {h["operation"] for h in ds.store.history()} == {"append"}
    rerun = ingest_exchange(spark, catalog, sources, ds, "kraken", "1m", now_ms=now)
    assert all(st.rows_appended == 0 for st in rerun.values())
    # per-symbol resume offsets answered from the manifest
    for s in symbols:
        assert ds.resume_offset("kraken", s, "1m") == T0 + (n_rows - 1) * MIN


def test_crashed_writer_files_invisible_and_reclaimable(spark, ds):
    ds.append_idempotent(batch(spark, 0, 4))
    # simulate a crash between stage and CAS
    ds.store._stage(batch(spark, 4, 8))
    assert ds.read().count() == 4
    assert ds.vacuum() == []  # age gate protects a possibly-live writer
    assert len(ds.vacuum(min_age_seconds=0)) == 1
    assert ds.read().count() == 4
    assert os.path.isdir(ds.path)


def test_restate_corrects_closed_candles(spark, ds):
    """restate(): matched keys take the revised OHLCV values (the
    correction path append_idempotent deliberately refuses), unseen
    keys insert, resume offset reflects any new tail, and the signed
    change feed carries -old/+new for downstream consumers."""
    from pyspark.sql import functions as F

    ds.append_idempotent(batch(spark, 0, 6))
    revised = batch(spark, 3, 7).withColumn(
        "close", (F.col("close") + 100).cast("decimal(38,12)")
    )
    r = ds.restate(revised)
    assert (r["matched"], r["inserted"]) == (3, 1)
    got = {
        row["timestamp"]: float(row["close"])
        for row in ds.read().collect()
    }
    assert len(got) == 7
    head = {
        row["timestamp"]: float(row["close"])
        for row in batch(spark, 0, 6).collect()
        if row["timestamp"] < T0 + 3 * MIN
    }
    rev = {
        row["timestamp"]: float(row["close"]) for row in revised.collect()
    }
    assert got == {**head, **rev}
    assert ds.resume_offset("e", "XRP/USD", "1m") == T0 + 6 * MIN
    ch = ds.store.read_row_changes(1).groupBy("_change").count().collect()
    assert {row["_change"]: row["count"] for row in ch} == {1: 4, -1: 3}
    # re-appending the ORIGINAL batch stays a no-op: restated values win
    assert ds.append_idempotent(batch(spark, 0, 6)) == 0
    got2 = {
        row["timestamp"]: float(row["close"]) for row in ds.read().collect()
    }
    assert got2 == got


def test_ohlcv_constraints_block_bad_candles(spark, tmp_path):
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
        ConstraintViolation,
    )

    ds = SnapshotCandleDataset(spark, str(tmp_path / "t"))
    ds.append_idempotent(batch(spark, 0, 5))
    ds.enable_ohlcv_constraints()
    # an inverted candle (low above the body) must be refused atomically
    bad = project_ohlcv_rows(
        spark,
        [[T0 + 100 * MIN, 100.0, 101.0, 100.5, 100.2, 5.0]],  # low > close
        "e", "XRP/USD", "1m",
    )
    with pytest.raises(ConstraintViolation, match="low_le_body"):
        ds.append_idempotent(bad)
    assert ds.read().count() == 5
    # well-formed candles still flow
    ds.append_idempotent(batch(spark, 5, 8))
    assert ds.read().count() == 8


def test_dv_delete_then_refetch_lands_corrected_row(spark, ds):
    """ADVICE r6 (high): existing-key reads must be DV-aware. After a
    bad candle is removed with delete_where_dv (merge-on-read), its key
    still sits in the physical file — a DV-blind idempotency anti-join
    would silently drop the re-ingested corrected row, and a stats-only
    resume would report the DELETED candle as the newest offset."""
    ds.append_idempotent(batch(spark, 0, 5))
    bad_ts = T0 + 4 * MIN
    ds.delete_where_dv(f"timestamp = {bad_ts}")
    assert ds.read().count() == 4
    # resume: the DV'd file is inconclusive for stats-only, and the
    # data-scan fallback must not see the deleted row
    assert ds.resume_offset("e", "XRP/USD", "1m") == T0 + 3 * MIN
    # refetch the window containing the corrected candle: it must LAND
    assert ds.append_idempotent(batch(spark, 3, 5)) == 1
    assert ds.read().count() == 5
    assert ds.read(since_ms=bad_ts).count() == 1
    # and resume moves forward again
    assert ds.resume_offset("e", "XRP/USD", "1m") == bad_ts


def test_compact_auto_fragmentation_trigger(spark, ds):
    """compact --auto's other half: the manifest-only fragmentation
    report counts files per key, and when_files_per_key_above compacts
    only once a key's file count exceeds the threshold — a healthy
    table is a true no-op."""
    for lo in range(0, 12, 3):  # 4 appends -> ~4 files for the one key
        ds.append_idempotent(batch(spark, lo, lo + 3))
    frag = ds.fragmentation()
    assert frag["max_files_per_key"] >= 4
    assert sum(frag["files_per_key"].values()) == frag["n_files"]

    head = ds.store.latest_version()
    # healthy by a loose threshold -> no commit
    assert ds.compact(when_files_per_key_above=10) is None
    assert ds.store.latest_version() == head
    # fragmented by a tight threshold -> compacts, data unchanged
    v = ds.compact(when_files_per_key_above=2)
    assert v == ds.store.latest_version()
    assert ds.fragmentation()["max_files_per_key"] == 1
    assert ds.read().count() == 12
    # post-compact the same trigger is quiet again
    assert ds.compact(when_files_per_key_above=2) is None


POLL_CYCLE_JOB_CEILING = 9


def test_poll_cycle_job_budget(spark, ds):
    """One poll cycle's job count, harvested from the JVM status store
    under its own job group, stays within the committed ceiling."""
    from ccxt_ohlcv_fetcher_spark.sources.paging import (
        FixturePagingSource,
        ingest_candles,
    )

    # uneven history per symbol: a sampled range partitioner would split
    # BTC and merge XRP with LTC, and XRP's resume would scan data
    pages = {"BTC/USD": 3, "ETH/USD": 1, "LTC/USD": 1, "XRP/USD": 2}
    page, n_rows = 50, 200
    now = T0 + n_rows * MIN
    sources = {s: FixturePagingSource(grid(n_rows), page_size=page) for s in pages}
    for s, n in pages.items():
        ingest_candles(spark, sources[s], ds, "e", s, "1m", now_ms=now, max_pages=n)
    ds.compact()

    sc = spark.sparkContext
    group = "test_poll_cycle_job_budget"
    sc.setJobGroup(group, "one poll cycle")
    try:
        stats = ingest_candles(
            spark, sources["XRP/USD"], ds, "e", "XRP/USD", "1m", now_ms=now, max_pages=1
        )
        last = ds.resume_offset("e", "XRP/USD", "1m")
        tail = ds.read("e", "XRP/USD", "1m", since_ms=last - 9 * MIN).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (stats.rows_appended, last, tail) == (page - 1, T0 + (3 * page - 3) * MIN, 10)

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)  # a Scala Seq of JobData
    groups = (jobs.apply(i).jobGroup() for i in range(jobs.size()))
    n_jobs = sum(1 for g in groups if g.isDefined() and g.get() == group)
    assert 0 < n_jobs <= POLL_CYCLE_JOB_CEILING
