"""Property tests for the ingest core — the four reference invariants
(SURVEY.md §5): idempotent re-append (R3), overlap drop (R9),
incomplete-tail trim at bucket boundaries (R10), gap/dupe-free resume
across restarts (R4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.operators.ingest import (
    OHLCV_COLS,
    CandleDataset,
    drop_incomplete_tail,
    drop_overlap,
    project_ohlcv_rows,
)
from ccxt_ohlcv_fetcher_spark.sources.catalog import Catalog, ExchangeMeta
from ccxt_ohlcv_fetcher_spark.sources.paging import FixturePagingSource, ingest_candles

T0 = 1700000000 * 1000 - (1700000000 % 60) * 1000  # minute-aligned epoch ms
MIN = 60_000


def grid(n: int, t0: int = T0) -> list[list]:
    """Contiguous 1m candle grid (FIXTURES.md §B generation notes)."""
    return [
        [t0 + i * MIN, 100.0 + i, 101.0 + i, 99.0 + i, 100.5 + i, 10.0 * (i + 1)]
        for i in range(n)
    ]


@pytest.fixture(params=["logged", "plain"])
def dataset(spark, tmp_path, request):
    """Every ingest-contract test runs against BOTH layouts: the
    snapshot-logged dataset (the CLI default since round 7) and the
    plain-parquet escape hatch — same read / resume_offset /
    append_idempotent semantics."""
    if request.param == "logged":
        from ccxt_ohlcv_fetcher_spark.operators.candle_log import (
            SnapshotCandleDataset,
        )

        return SnapshotCandleDataset(spark, str(tmp_path / "candles"))
    return CandleDataset(spark, str(tmp_path / "candles"))


def test_project_ohlcv_rows_named_and_typed(spark):
    df = project_ohlcv_rows(spark, grid(3), "bitfinex", "XRP/USD", "1m")
    assert df.columns == [
        "timestamp", "open", "high", "low", "close", "volume",
        "exchange", "symbol", "timeframe",
    ]
    row = df.orderBy("timestamp").first()
    assert row["symbol"] == "XRPUSD"  # '/' stripped (gen_db_name :135)
    assert row["timestamp"] == T0 and isinstance(row["timestamp"], int)


def test_project_ohlcv_rows_int_and_none_fields_match_float_input(spark):
    """Some exchanges return int-valued fields (``volume`` 0) or None.
    They project to the same decimal values and dtypes as float input.
    The page is an Arrow-backed JVM relation: scanning it runs no
    Python worker, so no ``PythonRDD`` sits in its lineage."""
    ints = [[T0, 100, 101, 99, 100, 0], [T0 + MIN, 101, None, 100, 101, 7]]
    floats = [[r[0], *(None if v is None else float(v) for v in r[1:])] for r in ints]
    got = project_ohlcv_rows(spark, ints, "e", "S/X", "1m")
    want = project_ohlcv_rows(spark, floats, "e", "S/X", "1m")
    assert got.dtypes == want.dtypes
    assert {dict(got.dtypes)[c] for c in OHLCV_COLS} == {"decimal(38,12)"}
    rows = got.orderBy("timestamp").collect()
    assert rows == want.orderBy("timestamp").collect()
    assert rows[0]["volume"] == 0 and rows[1]["high"] is None
    assert "PythonRDD" not in got._jdf.queryExecution().toRdd().toDebugString()


def test_overlap_drop(spark):
    # page 2 starts with page 1's last row, like a real ccxt response (:104)
    rows = grid(5)
    df = project_ohlcv_rows(spark, rows, "e", "S/X", "1m")
    out = drop_overlap(df, since_ms=rows[2][0])
    assert out.count() == 2
    assert out.agg(F.min("timestamp")).collect()[0][0] == rows[3][0]


def test_incomplete_tail_boundary(spark):
    rows = grid(4)  # candles open at t0..t0+3m
    df = project_ohlcv_rows(spark, rows, "e", "S/X", "1m")
    # now exactly at close of candle 2 (t0+3m): candles 0,1,2 complete,
    # candle 3 (opened t0+3m, closes t0+4m) still open -> dropped
    now = T0 + 3 * MIN
    kept = drop_incomplete_tail(df, "1m", now_ms=now)
    assert kept.count() == 3
    # one ms earlier, candle 2 is still open too
    kept = drop_incomplete_tail(df, "1m", now_ms=now - 1)
    assert kept.count() == 2


def test_idempotent_reappend(spark, dataset):
    df = project_ohlcv_rows(spark, grid(10), "e", "S/X", "1m")
    dataset.append_idempotent(df)
    dataset.append_idempotent(df)  # R3: re-append is a no-op (:71-75)
    assert dataset.read("e", "SX", "1m").count() == 10


def test_partial_overlap_append(spark, dataset):
    dataset.append_idempotent(project_ohlcv_rows(spark, grid(10), "e", "S/X", "1m"))
    # new batch overlaps rows 5..9, adds 10..14
    dataset.append_idempotent(
        project_ohlcv_rows(spark, grid(10, T0 + 5 * MIN), "e", "S/X", "1m")
    )
    got = dataset.read("e", "SX", "1m")
    assert got.count() == 15
    assert got.select("timestamp").distinct().count() == 15


def test_partition_isolation(spark, dataset):
    dataset.append_idempotent(project_ohlcv_rows(spark, grid(5), "e1", "A/B", "1m"))
    dataset.append_idempotent(project_ohlcv_rows(spark, grid(5), "e2", "A/B", "1m"))
    # same timestamps, different exchange -> both kept
    assert dataset.read().count() == 10
    assert dataset.read("e1").count() == 5


def test_resume_offset(spark, dataset):
    assert dataset.resume_offset("e", "SX", "1m") is None
    dataset.append_idempotent(project_ohlcv_rows(spark, grid(7), "e", "S/X", "1m"))
    assert dataset.resume_offset("e", "SX", "1m") == T0 + 6 * MIN


def test_ingest_loop_restart_no_gaps_no_dupes(spark, dataset):
    """R4 invariant: stop mid-history, restart, end state == one-shot run."""
    rows = grid(1000)
    now = T0 + 1000 * MIN  # all candles closed
    src = FixturePagingSource(rows, page_size=100)
    ingest_candles(
        spark, src, dataset, "e", "S/X", "1m", now_ms=now,
        since_ms=T0, max_pages=4,  # simulated crash after 4 pages
    )
    n_partial = dataset.read().count()
    assert 0 < n_partial < 1000
    # restart: resume from stored offset (since_ms=None)
    calls_before = src.calls
    st = ingest_candles(spark, src, dataset, "e", "S/X", "1m", now_ms=now)
    got = dataset.read("e", "SX", "1m")
    assert got.count() == 1000
    ts = [r[0] for r in got.select("timestamp").orderBy("timestamp").collect()]
    assert ts == [T0 + i * MIN for i in range(1000)]  # contiguous, no dupes
    # the restart truly RESUMED (did not re-page history from the start)
    assert src.calls - calls_before <= 8
    assert st.rows_appended == 1000 - n_partial


def test_ingest_loop_trims_open_candle(spark, dataset):
    rows = grid(10)
    now = T0 + 9 * MIN + 30_000  # candle 9 opened 30s ago -> incomplete
    src = FixturePagingSource(rows, page_size=100)
    ingest_candles(spark, src, dataset, "e", "S/X", "1m", now_ms=now, since_ms=T0)
    assert dataset.read().count() == 9


def test_catalog_validation():
    cat = Catalog(
        {
            "bitfinex": ExchangeMeta(
                "bitfinex", symbols={"XRP/USD"}, timeframes={"1m", "1h"}
            ),
            "emulated_ex": ExchangeMeta("emulated_ex", has_fetch_ohlcv="emulated"),
        }
    )
    cat.validate("bitfinex", "XRP/USD", "1m")
    with pytest.raises(ValueError, match="unknown exchange"):
        cat.validate("nope", "XRP/USD", "1m")
    with pytest.raises(ValueError, match="native OHLCV"):
        cat.validate("emulated_ex", "XRP/USD", "1m")
    with pytest.raises(ValueError, match="timeframe"):
        cat.validate("bitfinex", "XRP/USD", "3m")
    with pytest.raises(ValueError, match="symbol"):
        cat.validate("bitfinex", "BTC/USD", "1m")
    with pytest.raises(ValueError, match="invalid timeframe"):
        cat.validate("bitfinex", "XRP/USD", "1x")
    assert cat.symbols_of("bitfinex") == ["XRP/USD"]
    assert (
        cat.dataset_path("/data/candles", "bitfinex", "XRP/USD", "1m")
        == "/data/candles/exchange=bitfinex/symbol=XRPUSD/timeframe=1m"
    )


def test_export_csv_roundtrip(spark, tmp_path):
    """R5 (`sqlite2csv.sh:11-17`): full-scan export -> headered CSV."""
    from ccxt_ohlcv_fetcher_spark.sources.catalog import export_csv

    df = project_ohlcv_rows(
        spark, [[T0 + i * 60_000, 1.0, 2.0, 0.5, 1.5, 10.0] for i in range(5)],
        "bitfinex", "XRP/USD", "1m",
    )
    out = str(tmp_path / "export")
    export_csv(df, out)
    back = spark.read.option("header", True).option("inferSchema", True).csv(out)
    assert back.count() == 5
    assert set(back.columns) == set(df.columns)
    assert back.agg(F.min("timestamp")).first()[0] == T0


def test_ingest_error_backoff_retries_same_cursor(spark, dataset):
    """R1 error path (`:27,:99-101`): a failed fetch backs off and
    retries the SAME cursor — no page skipped, no rows lost."""
    from ccxt_ohlcv_fetcher_spark.sources.paging import (
        FixturePagingSource,
        ingest_candles,
    )

    rows = grid(10)

    class Flaky(FixturePagingSource):
        def __init__(self, rows, fail_first):
            super().__init__(rows, page_size=4)
            self.fail_first = fail_first

        def fetch_ohlcv(self, since_ms):
            if self.fail_first > 0:
                self.fail_first -= 1
                raise ConnectionError("transient")
            return super().fetch_ohlcv(since_ms)

    src = Flaky(rows, fail_first=2)
    now_ms = rows[-1][0] + 120_000  # all candles closed
    stats = ingest_candles(
        spark, src, dataset, "e", "S/X", "1m", now_ms=now_ms,
        error_backoff_secs=0.0, max_errors=5,
    )
    assert stats.errors == 2
    got = dataset.read("e", "SX", "1m")
    assert got.count() == 10
    assert got.select("timestamp").distinct().count() == 10


def test_ingest_error_limit_raises(spark, dataset):
    from ccxt_ohlcv_fetcher_spark.sources.paging import (
        FixturePagingSource,
        ingest_candles,
    )

    class Dead(FixturePagingSource):
        def fetch_ohlcv(self, since_ms):
            raise ConnectionError("down")

    with pytest.raises(ConnectionError):
        ingest_candles(
            spark, Dead(grid(3)), dataset, "e", "S/X", "1m",
            now_ms=grid(3)[-1][0] + 120_000,
            error_backoff_secs=0.0, max_errors=2,
        )


def test_compaction_restores_one_file_per_partition(spark, tmp_path):
    """Micro-batch appends leave a file per batch; compact() rewrites
    each partition to one sorted file with identical contents.
    (Hive-layout-specific: asserts partition-directory file counts;
    the logged dataset's compaction contract is pinned in
    test_candle_log.py.)"""
    import glob

    dataset = CandleDataset(spark, str(tmp_path / "candles"))

    rows = grid(20)
    for i in range(0, 20, 4):  # 5 separate appends = 5 files
        df = project_ohlcv_rows(spark, rows[i : i + 4], "e", "S/X", "1m")
        dataset.append_idempotent(df)
    part_glob = f"{dataset.path}/exchange=e/symbol=SX/timeframe=1m/*.parquet"
    assert len(glob.glob(part_glob)) == 5
    before = {r["timestamp"]: r for r in dataset.read().collect()}

    assert dataset.compact() == 1
    assert len(glob.glob(part_glob)) == 1
    after = {r["timestamp"]: r for r in dataset.read().collect()}
    assert before.keys() == after.keys() and len(after) == 20
    for k in before:
        assert before[k] == after[k]
    # dataset still accepts appends after compaction
    more = project_ohlcv_rows(
        spark, [[rows[-1][0] + 60_000, 1.0, 2.0, 0.5, 1.5, 3.0]], "e", "S/X", "1m"
    )
    assert dataset.append_idempotent(more) == 1
    assert dataset.read().count() == 21


def test_exchange_fanout_concurrent_symbols(spark, dataset):
    """fetch_exchange.sh analog: 6 symbols, 4 workers, one dataset —
    per-symbol data lands intact, totals add up, re-run is a no-op."""
    from ccxt_ohlcv_fetcher_spark.sources.paging import ingest_exchange

    symbols = [f"C{i}/USD" for i in range(6)]
    catalog = Catalog({"kraken": ExchangeMeta("kraken", symbols=set(symbols), timeframes={"1m"})})
    n_rows = 120
    now = T0 + n_rows * MIN  # all candles closed
    sources = {
        s: FixturePagingSource(
            [[T0 + j * MIN, 1000.0 * i + j, 1000.0 * i + j + 1, 1000.0 * i + j - 1,
              1000.0 * i + j, 5.0] for j in range(n_rows)],
            page_size=50,  # force multiple pages per symbol
        )
        for i, s in enumerate(symbols)
    }
    stats = ingest_exchange(spark, catalog, sources, dataset, "kraken", "1m", now_ms=now)
    assert sorted(stats) == sorted(symbols)
    assert all(st.rows_appended == n_rows for st in stats.values())

    df = dataset.read(exchange="kraken", timeframe="1m")
    assert df.count() == 6 * n_rows
    per_sym = {
        r["symbol"]: (r["n"], float(r["lo"]), float(r["hi"]))
        for r in df.groupBy("symbol")
        .agg(F.count("*").alias("n"), F.min("open").alias("lo"), F.max("open").alias("hi"))
        .collect()
    }
    for i, s in enumerate(symbols):
        assert per_sym[s.replace("/", "")] == (n_rows, 1000.0 * i, 1000.0 * i + n_rows - 1)

    # caught-up re-run: every symbol resumes from its offset, appends nothing
    rerun = ingest_exchange(spark, catalog, sources, dataset, "kraken", "1m", now_ms=now)
    assert all(st.rows_appended == 0 for st in rerun.values())


def test_candle_quality_rules_catch_planted_violations(spark):
    """check_rules flags exactly the planted invariant breaches (one
    long-format row per failed rule), quarantine() splits clean/bad,
    and a clean resample output passes everything."""
    from ccxt_ohlcv_fetcher_spark.operators.quality import (
        candle_rules,
        check_rules,
        quarantine,
    )

    tf = 60_000
    rows = [
        # timestamp, open, high, low, close, volume
        (0 * tf, 10.0, 12.0, 9.0, 11.0, 5.0),        # clean
        (1 * tf, 10.0, 12.0, 10.5, 11.0, 5.0),       # low above open
        (2 * tf, 10.0, 10.5, 9.0, 11.0, 5.0),        # high below close
        (3 * tf, 10.0, 12.0, 9.0, 11.0, -1.0),       # negative volume
        (3 * tf + 7, 10.0, 12.0, 9.0, 11.0, 5.0),    # off-grid timestamp
        (5 * tf, 10.0, 12.0, 9.0, 11.0, None),       # NULL volume -> violation
    ]
    df = spark.createDataFrame(
        rows,
        "timestamp long, open double, high double, low double, close double, "
        "volume double",
    )
    viol = {
        (r["timestamp"], r["rule"])
        for r in check_rules(df, candle_rules(tf), ("timestamp",)).collect()
    }
    assert viol == {
        (1 * tf, "low_le_body"),
        (2 * tf, "high_ge_body"),
        (3 * tf, "volume_non_negative"),
        (3 * tf + 7, "ts_grid_aligned"),
        (5 * tf, "volume_non_negative"),
    }
    clean, bad = quarantine(df, candle_rules(tf), ("timestamp",))
    assert {r["timestamp"] for r in clean.collect()} == {0}
    assert bad.count() == 5
