"""Manifest checkpoints (round-8 verdict item 1): per-commit
manifests are DELTAS (O(changed files) to write), a full-state
checkpoint lands every ``checkpoint_interval`` commits, and readers
reconstruct any snapshot from (newest checkpoint at-or-below it) +
(≤ interval delta manifests) — so head-read cost is bounded by the
cadence, never by table size or commit count. Interop pins: vacuum
prune_log re-checkpoints the retention boundary; a deleted checkpoint
only lengthens the walk (never breaks a read); time travel, stats
pruning, DV carry-forward, and the change stream all reconstruct the
same state the old full-list manifests recorded.
"""

import json
import os
import shutil

import pytest

from ccxt_ohlcv_fetcher_spark.operators.snapshots import SnapshotStore


def _one(spark, v: int):
    return spark.range(v, v + 1).selectExpr("id as v")


@pytest.fixture(scope="module")
def _store105_src(spark, tmp_path_factory):
    """The 105-commit log built ONCE per module (105 sequential commits
    cost ~17 s); each test gets a private directory COPY below —
    manifests record relative paths, so a copied log is
    indistinguishable from a freshly built one."""
    base = str(tmp_path_factory.mktemp("store105_src") / "t")
    store = SnapshotStore(
        spark, base, stats_cols=["v"], checkpoint_interval=20
    )
    for i in range(105):
        assert store.append(_one(spark, i)) == i + 1
    return base


@pytest.fixture()
def store105(spark, _store105_src, tmp_path):
    """105 single-row append commits at interval 20 (checkpoints at
    20, 40, 60, 80, 100; head 105 = checkpoint 100 + 5-delta tail).
    Private per-test copy: mutating tests (prune/vacuum) stay
    isolated."""
    dst = str(tmp_path / "t")
    shutil.copytree(_store105_src, dst)
    return SnapshotStore(
        spark, dst, stats_cols=["v"], checkpoint_interval=20
    )


def test_head_read_touches_checkpoint_plus_tail_only(spark, store105):
    # a FRESH store object (cold cache — a new reader process) resolves
    # the head from exactly one checkpoint + the post-checkpoint tail
    fresh = SnapshotStore(
        spark, store105.path, stats_cols=["v"], checkpoint_interval=20
    )
    assert fresh.read().count() == 105
    touched = fresh.last_head_read
    assert touched["version"] == 105
    assert touched["checkpoint"] == 100
    assert touched["tail_manifests"] == 5
    # and the bound holds for ANY version, not just the head
    fresh2 = SnapshotStore(spark, store105.path, checkpoint_interval=20)
    assert fresh2.read(version=47).count() == 47
    t = fresh2.last_head_read
    assert t["checkpoint"] == 40 and t["tail_manifests"] == 7


def test_delta_manifest_size_stays_flat(store105):
    # the O(files)-per-commit failure mode: manifest v105 would list
    # 105 files in the old format; the delta lists ~1. Allow slack for
    # stats payload but pin the order of magnitude.
    p = store105._manifest_path
    early = os.path.getsize(p(3))
    late = os.path.getsize(p(105))
    assert late < 3 * early
    m = json.load(open(p(105)))
    assert m["format"] == 2 and len(m["add"]) >= 1 and m["remove"] == []
    assert "files" not in m


def test_checkpoint_reconstruction_matches_delta_replay(spark, store105):
    # state(100) from the checkpoint file must equal state(100) rebuilt
    # by replaying all 100 deltas (checkpoint deleted, cold cache)
    via_ckpt = SnapshotStore(spark, store105.path).manifest(100)
    os.remove(store105._ckpt_path(100))
    via_replay = SnapshotStore(spark, store105.path).manifest(100)
    assert via_ckpt == via_replay
    assert len(via_ckpt["files"]) == 100
    # a missing checkpoint NEVER breaks a read — the walk just extends
    # back to the previous checkpoint (80)
    fresh = SnapshotStore(spark, store105.path)
    assert fresh.read().count() == 105
    assert fresh.last_head_read["checkpoint"] == 80
    assert fresh.last_head_read["tail_manifests"] == 25


def test_time_travel_and_stats_pruning_survive_checkpointing(spark, store105):
    assert store105.read(version=37).count() == 37
    # manifest min/max stats carried through checkpoint + delta replay:
    # an equality probe on v prunes to exactly the owning file
    fresh = SnapshotStore(spark, store105.path, stats_cols=["v"])
    kept = fresh.pruned_files({"v": (42, 42)})
    assert len(kept) == 1
    total = len(fresh.manifest()["files"])
    assert total == 105


def test_prune_log_checkpoints_the_boundary(spark, store105):
    store105.vacuum(retain_versions=10, min_age_seconds=0, prune_log=True)
    lo = 105 - 10 + 1  # 96
    assert os.path.exists(store105._ckpt_path(lo))
    fresh = SnapshotStore(spark, store105.path)
    assert fresh.read().count() == 105
    assert fresh.read(version=100).count() == 100
    # versions before the window are gone — manifests AND checkpoints
    with pytest.raises(FileNotFoundError):
        fresh.manifest(95)
    assert not os.path.exists(store105._ckpt_path(80))
    assert [h["version"] for h in fresh.history()] == list(range(96, 106))


def test_checkpoint_preserves_dv_txn_constraints(spark, tmp_path):
    """The non-file manifest state (deletion vectors, txn watermarks,
    CHECK constraints, schema) must survive a checkpoint + tail
    reconstruction bit-for-bit."""
    store = SnapshotStore(spark, str(tmp_path / "t"), checkpoint_interval=5)
    store.append(spark.range(10).selectExpr("id as v"))
    store.add_constraint("nonneg", "v >= 0")
    store.delete_where_dv("v = 3")
    store.append(_one(spark, 99), txn=("app", 7))
    for i in range(3):  # push past the interval so a checkpoint lands
        store.append(_one(spark, 200 + i))
    assert os.path.exists(store._ckpt_path(5))
    fresh = SnapshotStore(spark, store.path, checkpoint_interval=5)
    m = fresh.manifest()
    assert m["constraints"] == {"nonneg": "v >= 0"}
    assert m["txn"] == {"app": 7}
    assert m.get("dvs")  # the DV survived reconstruction
    vals = {r["v"] for r in fresh.read().collect()}
    assert 3 not in vals and 99 in vals and len(vals) == 13
    # and the exactly-once txn check still works through the checkpoint
    assert fresh.append(_one(spark, 100), txn=("app", 7)) is None


def test_change_stream_reads_delta_manifests(spark, tmp_path):
    """The snapshot_changes source consumes format-2 logs: appends via
    the delta's own add-list, schema resolved by the walk-back."""
    from ccxt_ohlcv_fetcher_spark.sources.change_stream import register

    store = SnapshotStore(spark, str(tmp_path / "t"), checkpoint_interval=4)
    for i in range(9):
        store.append(_one(spark, i))
    store.delete_where("v = 2")
    register(spark)
    out = str(tmp_path / "out")
    (
        spark.readStream.format("snapshot_changes")
        .option("path", store.path)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    rows = spark.read.parquet(out).collect()
    plus = {r["v"] for r in rows if r["_change"] == 1}
    minus = {r["v"] for r in rows if r["_change"] == -1}
    assert plus == set(range(9)) and minus == {2}


# --- parquet checkpoint format (round-9, wishlist r8 #5) ------------------


def _rich_store(spark, tmp_path, fmt):
    """A store exercising every checkpointed state facet: stats,
    DVs, constraints, txn watermarks, a merge (changes/added
    annotations), pushed past the interval so checkpoints land."""
    store = SnapshotStore(
        spark,
        str(tmp_path / f"t_{fmt}"),
        stats_cols=["v"],
        checkpoint_interval=5,
        checkpoint_format=fmt,
    )
    store.append(spark.range(10).selectExpr("id as v"))
    store.add_constraint("nonneg", "v >= 0")
    store.delete_where_dv("v = 3")
    store.append(_one(spark, 99), txn=("app", 7))
    store.merge_into(
        spark.range(8, 12).selectExpr("id as v"), on=["v"]
    )
    for i in range(4):
        store.append(_one(spark, 200 + i))
    return store


def test_parquet_checkpoint_state_equals_delta_replay(spark, tmp_path):
    """Every version's state reconstructed THROUGH a parquet checkpoint
    must equal the state from pure delta replay (the shared,
    format-agnostic ground truth) — over a log exercising stats,
    DVs, constraints, txn watermarks, and a merge's
    changes/added annotations."""
    sp = _rich_store(spark, tmp_path, "parquet")
    head = sp.latest_version()
    ckpts = [
        v for v in range(1, head + 1)
        if os.path.exists(sp._ckpt_parquet_path(v))
    ]
    assert ckpts and not os.path.exists(sp._ckpt_path(ckpts[0]))
    via_ckpt = {
        v: SnapshotStore(spark, sp.path).manifest(v)
        for v in range(1, head + 1)
    }
    for v in ckpts:  # force pure replay: no checkpoint may serve
        os.remove(sp._ckpt_parquet_path(v))
    for v in range(1, head + 1):
        replayed = SnapshotStore(spark, sp.path).manifest(v)
        assert _plain(via_ckpt[v]) == _plain(replayed), (
            f"state diverged at version {v}"
        )


def _plain(state: dict) -> dict:
    """Normalize a reconstructed state for comparison: force the lazy
    stats/dvs mappings (round-10/11: checkpoint decode defers both
    parses) into plain dicts, drop an empty stats (the lazy path
    attaches the key unconditionally — it cannot know emptiness
    without forcing; the eager path omits it), then JSON-round-trip to
    canonical containers."""
    out = {
        k: (dict(v) if k in ("stats", "dvs") else v)
        for k, v in state.items()
    }
    if not out.get("stats"):
        out.pop("stats", None)
    return json.loads(json.dumps(out))


def test_parquet_checkpoint_read_transparent(spark, tmp_path):
    """checkpoint_format is a write-side choice: a default(json)-
    configured reader resolves heads through parquet checkpoints, uses
    them (bounded walk), and mixed-format logs replay fine."""
    store = SnapshotStore(
        spark,
        str(tmp_path / "t"),
        checkpoint_interval=5,
        checkpoint_format="parquet",
    )
    for i in range(7):
        store.append(_one(spark, i))
    reader = SnapshotStore(spark, store.path)  # json-default reader
    assert reader.read().count() == 7
    assert reader.last_head_read["checkpoint"] == 5
    assert reader.last_head_read["tail_manifests"] == 2
    # switch the WRITER's format mid-life: json checkpoints now land,
    # and both kinds serve reconstruction
    switched = SnapshotStore(
        spark, store.path, checkpoint_interval=5, checkpoint_format="json"
    )
    for i in range(5):
        switched.append(_one(spark, 100 + i))
    assert os.path.exists(switched._ckpt_path(10))
    cold = SnapshotStore(spark, store.path)
    assert cold.read().count() == 12
    assert cold.last_head_read["checkpoint"] == 10
    assert cold.read(version=6).count() == 6
    assert cold.last_head_read["checkpoint"] == 5


def test_prune_log_pins_and_deletes_parquet_checkpoints(spark, tmp_path):
    store = SnapshotStore(
        spark,
        str(tmp_path / "t"),
        checkpoint_interval=100,  # no cadence checkpoint before vacuum
        checkpoint_format="parquet",
    )
    for i in range(12):
        store.append(_one(spark, i))
    store.vacuum(retain_versions=4, min_age_seconds=0, prune_log=True)
    lo = 12 - 4 + 1  # 9
    assert os.path.exists(store._ckpt_parquet_path(lo))
    fresh = SnapshotStore(spark, store.path)
    assert fresh.read().count() == 12
    assert fresh.read(version=lo).count() == lo
    with pytest.raises(FileNotFoundError):
        fresh.manifest(lo - 1)


def test_parquet_checkpoint_format_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="checkpoint_format"):
        SnapshotStore(spark, str(tmp_path / "t"), checkpoint_format="avro")


@pytest.mark.parametrize("fmt", ["json", "parquet"])
def test_corrupt_checkpoint_only_lengthens_the_walk(spark, tmp_path, fmt):
    """A checkpoint that exists but cannot be decoded (torn write that
    survived a crash, truncation, bit rot) must behave exactly like a
    missing one: checkpoints are derived caches, the delta manifests
    stay the ground truth, so reads fall back to the longer walk and
    return the same state — never an error, never partial content."""
    store = SnapshotStore(
        spark,
        str(tmp_path / "t"),
        checkpoint_interval=5,
        checkpoint_format=fmt,
    )
    for i in range(12):
        store.append(_one(spark, i))
    truth = SnapshotStore(spark, store.path).manifest(12)
    ckpt = (
        store._ckpt_parquet_path(10)
        if fmt == "parquet"
        else store._ckpt_path(10)
    )
    assert os.path.exists(ckpt)
    with open(ckpt, "wb") as fh:  # truncate mid-content
        fh.write(b"\x00garbage not a checkpoint")
    fresh = SnapshotStore(spark, store.path)
    assert fresh.manifest(12) == truth
    # the corrupt v10 checkpoint was skipped; the cold walk reached v5's
    # (read() below would hit the state cache and reset the counters)
    assert fresh.last_head_read["checkpoint"] == 5
    assert fresh.last_head_read["tail_manifests"] == 7
    assert fresh.read().count() == 12


def test_checkpoint_write_failure_never_escapes_append(spark, tmp_path):
    """ADVICE r9 (medium): _write_checkpoint is best-effort, but only
    OSError was caught — the parquet path raises ValueError/TypeError
    through pyarrow, which then propagated out of append() AFTER the
    commit manifest existed. Any checkpoint-write exception must be
    swallowed; the commit stands and readers just walk a longer delta
    tail."""
    import ccxt_ohlcv_fetcher_spark.operators.snapshots as snap

    store = SnapshotStore(
        spark, str(tmp_path / "t"), checkpoint_interval=2,
        checkpoint_format="parquet",
    )
    store.append(_one(spark, 0))
    orig = snap._ckpt_write_parquet

    def boom(state, path):
        raise ValueError("injected pyarrow-style failure")

    snap._ckpt_write_parquet = boom
    try:
        # lands exactly on the checkpoint cadence — must still commit
        assert store.append(_one(spark, 1)) == 2
    finally:
        snap._ckpt_write_parquet = orig
    assert store.read().count() == 2
    assert not os.path.exists(store._ckpt_parquet_path(2))
    # next cadence point checkpoints normally again
    store.append(_one(spark, 2))
    assert store.append(_one(spark, 3)) == 4
    assert os.path.exists(store._ckpt_parquet_path(4))


def test_prune_log_refuses_to_delete_without_readable_checkpoint(
    spark, tmp_path
):
    """ADVICE r9 (medium), the dangerous half: vacuum(prune_log=True)
    pins a checkpoint at the retention boundary, but if that
    best-effort write silently fails, deleting the pre-window delta
    manifests would leave every retained version unreconstructable.
    The prune must re-verify the checkpoint reads back and SKIP the
    deletion otherwise."""
    import ccxt_ohlcv_fetcher_spark.operators.snapshots as snap

    store = SnapshotStore(
        spark, str(tmp_path / "t"), checkpoint_interval=1000,
        checkpoint_format="parquet",
    )
    for i in range(12):
        store.append(_one(spark, i))
    orig = snap._ckpt_write_parquet

    def boom(state, path):
        raise ValueError("injected failure")

    snap._ckpt_write_parquet = boom
    try:
        store.vacuum(retain_versions=5, min_age_seconds=0, prune_log=True)
    finally:
        snap._ckpt_write_parquet = orig
    # no manifest was deleted: every version still reconstructs
    fresh = SnapshotStore(spark, store.path)
    assert fresh.read().count() == 12
    assert fresh.read(version=8).count() == 8
    assert fresh.manifest(1)["version"] == 1
    # and a later healthy vacuum completes the prune
    store.vacuum(retain_versions=5, min_age_seconds=0, prune_log=True)
    fresh2 = SnapshotStore(spark, store.path)
    assert fresh2.read().count() == 12
    with pytest.raises(FileNotFoundError):
        fresh2.manifest(3)


def test_head_read_list_only_never_forces_stats_parse(spark, tmp_path):
    """Round-10 verdict item 1: a head read that only lists files must
    not materialize the per-file stats dicts (~6 s per million files,
    in BOTH checkpoint formats). The checkpoint decode hands back a
    lazy mapping; the delta-tail replay derives views without forcing;
    only a consumer that actually touches stats (pruned read,
    checkpoint write, partial compact) pays the parse."""
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import _LazyStats

    for fmt in ("parquet", "json"):
        store = SnapshotStore(
            spark, str(tmp_path / f"t_{fmt}"), stats_cols=["v"],
            checkpoint_interval=5, checkpoint_format=fmt,
        )
        for i in range(12):
            store.append(_one(spark, i))
        fresh = SnapshotStore(
            spark, store.path, stats_cols=["v"], checkpoint_interval=5
        )
        assert fresh.read().count() == 12, fmt
        assert fresh.last_head_read["checkpoint"] == 10
        state = fresh._state_cache[12]
        lazy = state["stats"]
        assert isinstance(lazy, _LazyStats), fmt
        assert lazy._dict is None, (
            f"{fmt}: list-only head read forced the stats parse"
        )
        # a pruning call consults stats: the same cached state now
        # forces, and the pruned file set is still exact
        assert len(fresh.pruned_files({"v": (3, 3)})) == 1, fmt
        assert lazy._dict is not None, fmt
        # forced content == a pure-delta-replay reconstruction's stats
        for v in range(1, 13):
            for p in (
                store._ckpt_parquet_path(v), store._ckpt_path(v),
            ):
                if os.path.exists(p):
                    os.remove(p)
        replay = SnapshotStore(
            spark, store.path, checkpoint_interval=10**9
        ).manifest(12)
        assert dict(lazy.items()) == dict(replay["stats"]), fmt


def test_history_walks_deltas_without_per_version_reconstruction(
    spark, tmp_path
):
    """history() (round 10) accumulates n_files from the raw deltas —
    one bounded base reconstruction + O(versions) small parses. Must
    equal the per-version manifest() ground truth over a log mixing
    appends, a row-level delete, a compact, and a pruned prefix."""
    store = SnapshotStore(
        spark, str(tmp_path / "t"), stats_cols=["v"], checkpoint_interval=4
    )
    for i in range(6):
        store.append(_one(spark, i))
    store.delete_where("v = 2")
    store.compact()
    store.append(_one(spark, 99))
    got = store.history()
    want = []
    for v in range(1, store.latest_version() + 1):
        m = store.manifest(v)
        entry = {
            "version": m["version"],
            "parent": m["parent"],
            "operation": m["operation"],
            "n_files": len(m["files"]),
        }
        if m.get("ts") is not None:  # commit stamp (round 11)
            entry["ts"] = m["ts"]
        want.append(entry)
    assert got == want
    # prefix pruning: history starts at the oldest retained version
    store.vacuum(retain_versions=3, min_age_seconds=0, prune_log=True)
    fresh = SnapshotStore(spark, store.path)
    pruned_hist = fresh.history()
    assert [h["version"] for h in pruned_hist] == [7, 8, 9]
    assert pruned_hist == want[6:]


def test_history_survives_interrupted_prune_hole(spark, tmp_path):
    """Review r10: a vacuum(prune_log=True) killed mid-deletion leaves
    a HOLE (some low manifests gone, checkpoint pinned higher).
    history() must not crash, must not silently mis-accumulate
    n_files across the hole — it re-bases at the next reconstructible
    version and lists from there."""
    store = SnapshotStore(
        spark, str(tmp_path / "t"), checkpoint_interval=4
    )
    for i in range(10):
        store.append(_one(spark, i))
    # simulate the interrupted prune: v1-v3 and v5 deleted, checkpoints
    # at 4 and 8 survive
    for v in (1, 2, 3, 5):
        os.remove(store._manifest_path(v))
    fresh = SnapshotStore(spark, store.path, checkpoint_interval=4)
    hist = fresh.history()
    versions = [h["version"] for h in hist]
    # v4 reconstructs (checkpoint 4); v6/v7 genuinely need the deleted
    # v5 delta, so they are unlistable — exactly the set the old
    # per-version manifest() walk could serve; the walk re-bases at
    # checkpoint 8 and accumulates deltas from there
    assert versions == [4, 8, 9, 10]
    by_v = {h["version"]: h["n_files"] for h in hist}
    for v in versions:
        assert by_v[v] == v, (v, by_v)


def test_corrupt_stats_payload_degrades_to_no_stats(spark, tmp_path):
    """Review r10: the deferred stats parse moved outside
    _read_checkpoint's corrupt-checkpoint guard — a payload that
    decodes structurally but whose stats are garbage must degrade to
    NO stats at force time (pruning keeps every file, conservatively),
    never throw from inside a read path."""
    store = SnapshotStore(
        spark, str(tmp_path / "t"), stats_cols=["v"], checkpoint_interval=2
    )
    for i in range(4):
        store.append(_one(spark, i))
    ck = store._ckpt_path(4)
    assert os.path.exists(ck)
    doc = json.load(open(ck))
    assert "stats_blob" in doc
    doc["stats_blob"] = '"broken'  # structurally inside the doc, but
    json.dump(doc, open(ck, "w"))  # not parseable as fragments
    fresh = SnapshotStore(spark, store.path, stats_cols=["v"])
    assert fresh.read().count() == 4  # list-only read: untouched
    kept = fresh.pruned_files({"v": (2, 2)})
    assert len(kept) == 4, "no stats -> conservatively keep every file"
    # and the table stays fully writable/checkpointable
    assert store.append(_one(spark, 99)) == 5


def test_count_rows_is_metadata_only_and_exact(spark, tmp_path):
    """count_rows() (round 10): COUNT(*) from per-file `_rows` manifest
    stats minus DV footer counts — must equal read().count() across
    appends, a DV delete, a second DV delete, a merge, time travel,
    and checkpoint reconstruction; legacy files without `_rows` fall
    back to one footer read each."""
    store = SnapshotStore(
        spark, str(tmp_path / "t"), stats_cols=["v"], checkpoint_interval=3
    )
    store.append(spark.range(50).selectExpr("id as v"))
    store.append(spark.range(50, 80).selectExpr("id as v"))
    assert store.count_rows() == 80 == store.read().count()
    store.delete_where_dv("v < 5")
    assert store.count_rows() == 75 == store.read().count()
    store.delete_where_dv("v >= 70")
    assert store.count_rows() == 65 == store.read().count()
    store.merge_into(
        spark.range(60, 90).selectExpr("id as v"), on=["v"]
    )
    assert store.count_rows() == store.read().count()
    # time travel + cold reconstruction through a checkpoint
    assert store.count_rows(version=2) == 80
    fresh = SnapshotStore(spark, store.path, stats_cols=["v"])
    assert fresh.count_rows() == store.read().count()
    # legacy files without `_rows` (committed before round 10): strip
    # the counts from the cached head state and verify the per-file
    # footer-read fallback produces the same total
    m = fresh.manifest()
    stats = dict(m["stats"])
    assert all("_rows" in (stats.get(f) or {}) for f in m["files"])
    stripped = {
        f: {k: v for k, v in (stats.get(f) or {}).items() if k != "_rows"}
        for f in m["files"]
    }
    head = fresh.latest_version()
    doctored = {**fresh._state_cache[head], "stats": stripped}
    fresh._state_cache[head] = doctored
    assert fresh.count_rows() == store.read().count()


def test_history_counts_one_walk_matches_count_rows(spark, tmp_path):
    """history(counts=True) (round 11): per-version row counts ride the
    SAME single forward walk as the listing — equality to the
    per-version count_rows() answers across appends, DV deletes, a
    merge, a compact, and checkpoint reconstruction; cost pinned to
    ONE state reconstruction and at-most-once reads per DV parquet
    (the old CLI path ran count_rows per version: O(versions x files)
    state rebuilds and re-read every live DV parquet every version)."""
    store = SnapshotStore(
        spark, str(tmp_path / "t"), stats_cols=["v"], checkpoint_interval=3
    )
    store.append(spark.range(40).selectExpr("id as v"))
    store.append(spark.range(40, 60).selectExpr("id as v"))
    store.delete_where_dv("v < 5")
    store.append(spark.range(60, 70).selectExpr("id as v"))
    store.delete_where_dv("v >= 65")
    store.merge_into(spark.range(55, 68).selectExpr("id as v"), on=["v"])
    store.compact()
    store.append(spark.range(70, 75).selectExpr("id as v"))

    hist = store.history(counts=True)
    assert len(hist) == 8
    assert [h["rows"] for h in hist] == [
        store.count_rows(h["version"]) for h in hist
    ]
    assert hist[-1]["rows"] == store.read().count()

    # --- cost pins on a FRESH store (cold caches, a new reader) ---
    import pyarrow.parquet as pa_pq

    fresh = SnapshotStore(spark, store.path, stats_cols=["v"])
    n_state, n_dv_reads = 0, 0
    orig_state = SnapshotStore._state
    orig_read_table = pa_pq.read_table

    def counting_state(self, v):
        nonlocal n_state
        n_state += 1
        return orig_state(self, v)

    def counting_read_table(*a, **kw):
        nonlocal n_dv_reads
        if kw.get("columns") == ["_file"]:
            n_dv_reads += 1
        return orig_read_table(*a, **kw)

    SnapshotStore._state = counting_state
    pa_pq.read_table = counting_read_table
    try:
        hist2 = fresh.history(counts=True)
    finally:
        SnapshotStore._state = orig_state
        pa_pq.read_table = orig_read_table
    assert [h["rows"] for h in hist2] == [h["rows"] for h in hist]
    assert n_state <= 1, "one-walk: a single base reconstruction"
    # every DV parquet ever referenced is read AT MOST once
    distinct_dvs = set()
    for h in hist:
        m = store.manifest(h["version"])
        for lst in (m.get("dvs") or {}).values():
            distinct_dvs.update(lst)
    assert n_dv_reads <= len(distinct_dvs)

    # counts=False does no pyarrow work at all
    n_dv_reads = 0
    pa_pq.read_table = counting_read_table
    try:
        fresh.history()
    finally:
        pa_pq.read_table = orig_read_table
    assert n_dv_reads == 0

    # --- vacuum-reclaimed objects: unknowable versions report None and
    # the walk recovers once the reclaimed object leaves the state ---
    store.vacuum(retain_versions=1, min_age_seconds=0.0)
    hist3 = store.history(counts=True)
    for h in hist3:
        try:
            expect = store.count_rows(h["version"])
        except FileNotFoundError:
            expect = None
        assert h["rows"] == expect, f"v{h['version']}"
    assert hist3[-1]["rows"] == store.read().count()


def test_parquet_checkpoint_dv_decode_is_lazy(spark, tmp_path):
    """Round-11 verdict item 6: the parquet checkpoint's DV column
    must not materialize on list-only reads (_LazyStats's analog) —
    truthiness routing (read_bucketed's `if m.get("dvs")`) stays
    decode-free via the Arrow-side count, delta-tail replay derives
    without forcing, and the forced mapping is exactly what the eager
    decode produced (DV parity is a correctness property: degrading to
    empty would resurrect deleted rows)."""
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import _LazyDvs

    store = SnapshotStore(
        spark,
        str(tmp_path / "t"),
        stats_cols=["v"],
        checkpoint_interval=4,
        checkpoint_format="parquet",
    )
    store.append(spark.range(40).selectExpr("id as v"))
    store.append(spark.range(40, 60).selectExpr("id as v"))
    store.delete_where_dv("v < 5")
    store.append(spark.range(60, 70).selectExpr("id as v"))  # ckpt @ 4
    store.append(spark.range(70, 80).selectExpr("id as v"))
    expected_dvs = {
        f: list(v) for f, v in store.manifest()["dvs"].items()
    }
    assert expected_dvs

    # cold reader: checkpoint(4) + 1 delta — dvs arrive lazy and STAY
    # lazy through a files-only read and the truthiness probe
    fresh = SnapshotStore(
        spark, store.path, stats_cols=["v"], checkpoint_format="parquet"
    )
    m = fresh.manifest()
    assert fresh.last_head_read["checkpoint"] == 4
    assert len(m["files"]) == len(store.manifest()["files"])
    dvs = m["dvs"]
    assert isinstance(dvs, _LazyDvs)
    assert dvs._dict is None, "files-only read must not decode DVs"
    assert bool(dvs) is True
    assert dvs._dict is None, "truthiness must not decode DVs"
    # force: exact parity with the eagerly-built mapping
    assert {f: list(v) for f, v in dvs.items()} == expected_dvs
    # and the actual data read honors the vectors through the lazy map
    assert fresh.read().count() == 75
    assert fresh.count_rows() == 75

    # a delete commit AFTER the checkpoint (delta-tail dv entries) and
    # a remove-files commit (compact) keep correct through the chain
    store.delete_where_dv("v >= 78")
    fresh2 = SnapshotStore(
        spark, store.path, stats_cols=["v"], checkpoint_format="parquet"
    )
    assert fresh2.read().count() == 73
    store.compact()  # drops all DVs; truthiness must say so
    fresh3 = SnapshotStore(
        spark, store.path, stats_cols=["v"], checkpoint_format="parquet"
    )
    assert not fresh3.manifest().get("dvs")
    assert fresh3.read().count() == 73
