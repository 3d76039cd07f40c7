"""Spark 4 Python DataSource: STREAM a SnapshotStore table's change
feed (Delta's "streaming source over a table" semantics —
``spark.readStream.format("snapshot_changes").option("path", ...)``).

The commit log IS the offset axis: offset = manifest version. Each
micro-batch covers a version range and emits that range's SIGNED
row-level changes — +1 rows from append commits (and a merge's
added files), -1 rows from delete/merge change files — with the commit
version stamped on every row. Compact commits are row-preserving and
contribute nothing; an overwrite rewrites history row-lessly and FAILS
the stream (Delta raises the same way: a streaming consumer cannot
reconcile a rewritten past — restart from the current snapshot).

Scale shape: ``partitions(start, end)`` maps each changed FILE to one
``InputPartition``, so a batch's files are read as parallel executor
tasks with pyarrow — the driver touches only manifests (format-2 delta
JSON, O(changed files) per commit), never rows. Offsets are exactly-once by construction:
version ranges are half-open ``(start, end]``, so a restarted query
resumes from the checkpointed version with no overlap and no gap (the
same resume-from-log contract the snapshot sink's txn markers give the
write side — together they close the loop: table -> stream -> table).

Schema: pinned at stream start from the starting manifest, plus
``_change int`` (+1/-1) and ``_commit_version int``. Files written
before an add-column evolution null-fill the missing columns
(pyarrow-side conform, mirroring the batch reader's manifest-schema
rule); a schema that SHRINKS mid-stream fails loudly.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from ccxt_ohlcv_fetcher_spark.operators.snapshots import READER_VERSION

_EXTRA_DDL = "_change int, _commit_version int"


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, "_manifests", f"v{version:08d}.json")


def _read_manifest(root: str, version: int) -> dict:
    if version == 0:
        return {"version": 0, "files": [], "operation": "empty"}
    with open(_manifest_path(root, version)) as fh:
        return json.load(fh)


def _latest_version(root: str) -> int:
    # hint + forward probe (same resolution rule as SnapshotStore)
    hint = os.path.join(root, "_manifests", "_last")
    v = 0
    try:
        with open(hint) as fh:
            v = int(json.load(fh)["version"])
    except (OSError, ValueError, KeyError):
        import glob

        names = glob.glob(os.path.join(root, "_manifests", "v*.json"))
        v = max(
            (int(os.path.basename(p)[1:-5]) for p in names), default=0
        )
        return v
    while os.path.exists(_manifest_path(root, v + 1)):
        v += 1
    return v


def _added_files(root: str, m: dict) -> list:
    """Files whose rows are NEW in an append commit. Format-2 delta
    manifests carry the answer verbatim (``add`` — the checkpointed
    log's whole point: the stream reads O(changed files) of metadata
    per version, never a full file list); legacy full-list manifests
    fall back to the diff against the parent's list."""
    if "add" in m:
        return list(m["add"])
    prev = (
        set(_read_manifest(root, m["parent"]).get("files", ()))
        if m.get("parent")
        else set()
    )
    return [f for f in m["files"] if f not in prev]


def _starting_version_at_timestamp(root: str, ts: float) -> int:
    """startingTimestamp resolution for the FEED: the stream emits
    changes AFTER the newest commit at or before ``ts``. Unlike a
    snapshot read, a ``ts`` predating a COMPLETE log has a natural
    answer — version 0, i.e. everything (Delta's startingTimestamp
    rule): nothing committed before ``ts``, so nothing is missed. But
    when the pre-``ts`` history was PRUNED, the changes between ``ts``
    and the prune boundary are unrecoverable — streaming from the
    boundary would silently skip them, so that case still refuses."""
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
        _version_at_timestamp_walk,
    )

    head = _latest_version(root)
    if head == 0:
        # consumer-first deployment on a never-committed table: same
        # wait-for-the-producer behavior startingVersion=0 has
        return 0
    try:
        return _version_at_timestamp_walk(
            head, lambda v: _manifest_path(root, v), ts
        )
    except ValueError:
        if os.path.exists(_manifest_path(root, 1)):
            return 0  # complete log, all commits after ts: stream all
        raise


def _head_meta(root: str, head: int) -> tuple[list, int]:
    """The head snapshot's (schema pairs, min_reader): walk back from
    ``head`` until each key's most recent SETTING — format-2 deltas
    record them on change only — or a checkpoint file (full state,
    json or parquet) or a legacy full manifest (its own checkpoint,
    predating both keys). Bounded by the store's checkpoint cadence.
    The protocol floor matters because this reader must REFUSE
    features it does not implement rather than misread them."""
    _unset = object()
    schema, floor = _unset, _unset

    def _take(doc: dict, terminal: bool) -> None:
        nonlocal schema, floor
        if schema is _unset and ("schema" in doc or terminal):
            schema = [tuple(p) for p in (doc.get("schema") or [])]
        if floor is _unset and ("min_reader" in doc or terminal):
            floor = doc.get("min_reader") or 2

    v = head
    while v > 0 and _unset in (schema, floor):
        ckj = os.path.join(root, "_manifests", f"ckpt-v{v:08d}.json")
        ckp = os.path.join(root, "_manifests", f"ckpt-v{v:08d}.parquet")
        if os.path.exists(ckj):
            with open(ckj) as fh:
                _take(json.load(fh), terminal=True)
            break
        if os.path.exists(ckp):
            from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
                _ckpt_read_parquet,
            )

            _take(_ckpt_read_parquet(ckp), terminal=True)
            break
        m = _read_manifest(root, v)
        _take(m, terminal="files" in m)
        v -= 1
    return (
        [] if schema is _unset else schema,
        2 if floor is _unset else floor,
    )


class ChangeFilePartition(InputPartition):
    def __init__(self, path: str, sign: int, version: int):
        self.path = path
        self.sign = sign
        self.version = version


class SnapshotChangeStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.root = options["path"]
        self.start_version = int(options.get("startingVersion", "0"))
        ts_opt = options.get("startingTimestamp")
        if ts_opt is not None:
            if "startingVersion" in options:
                raise ValueError(
                    "pass startingVersion or startingTimestamp, not both"
                )
            # TIMESTAMP AS OF for the change feed: changes AFTER the
            # newest commit at-or-before the instant (the same rule as
            # SnapshotStore.version_at_timestamp, over this module's
            # own manifest helpers; driver-side, once, at stream
            # construction).
            self.start_version = _starting_version_at_timestamp(
                self.root, float(ts_opt)
            )
        self._committed_version = self.start_version
        # highest version this READER instance has handed to Spark via
        # partitions() — the anti-duplication floor for capped streams
        # after a checkpoint restart (see latestOffset / partitions)
        self._emitted_through = self.start_version
        self.max_versions = int(options.get("maxVersionsPerBatch", "0")) or None
        self.max_files = int(options.get("maxFilesPerBatch", "0")) or None
        head = _latest_version(self.root)
        # pin the HEAD schema (the evolution superset): files written
        # before an add-column evolution null-fill; pinning an older
        # version's schema would silently drop evolved columns. The
        # protocol floor is checked against the snapshot reader's —
        # refuse, never misread.
        self.schema_pairs = []
        if head:
            self.schema_pairs, floor = _head_meta(self.root, head)
            if floor > READER_VERSION:
                raise RuntimeError(
                    f"table at {self.root!r} requires reader protocol "
                    f"{floor}; snapshot_changes implements "
                    f"{READER_VERSION}"
                )

    # --- offsets ----------------------------------------------------------

    def initialOffset(self) -> dict:
        self._committed_version = self.start_version
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        head = _latest_version(self.root)
        if self.max_files is None and self.max_versions is None:
            return {"version": head}
        # admission control: advance the offset only as far as the
        # caps allow — version-count, or FILE-count (a single giant
        # backfill commit is indivisible: at least one version always
        # advances, so progress is guaranteed). The cursor the caps
        # advance FROM is self-healing: it ratchets to every offset
        # this method returns (and to every committed batch), so after
        # a checkpoint restart — where the reader cannot see the
        # checkpointed offset — a capped stream converges forward in a
        # few empty triggers instead of stalling, and never skips.
        # Exactly-once guard for that restart window: the first
        # latestOffset of a fresh reader can still compute from
        # start_version and land BELOW the checkpointed offset; Spark
        # would record that lower end and re-plan already-processed
        # versions. partitions() heals the cursor to every range it
        # sees AND self._emitted_through suppresses re-emission of
        # versions this reader already handed to Spark (a fresh
        # reader's floor is start_version, so legitimate replays of an
        # uncommitted batch after a full restart are unaffected).
        committed = max(self._committed_version, self._emitted_through)
        hi = head
        if self.max_versions is not None:
            hi = min(hi, committed + self.max_versions)
        if self.max_files is not None:
            budget = self.max_files
            v = committed
            while v < hi:
                m = _read_manifest(self.root, v + 1)
                n = len(self._version_files(m))
                if budget - n < 0 and v > committed:
                    break
                budget -= n
                v += 1
            hi = v
        hi = max(hi, committed)
        self._committed_version = hi  # ratchet (see above)
        return {"version": hi}

    def _version_files(self, m: dict) -> list:
        op = m["operation"]
        if op == "append":
            return _added_files(self.root, m)
        if op == "delete":
            return list(m.get("changes", []))
        if op == "merge":
            return list(m.get("added", [])) + list(m.get("changes", []))
        return []

    def partitions(self, start: dict, end: dict) -> list[ChangeFilePartition]:
        lo, hi = int(start["version"]), int(end["version"])
        # replayed-batch path of a restart: heal the caps' cursor to
        # BOTH ends (Spark has durably logged `end` by the time this
        # runs, and `start` was processed by a previous batch)
        self._committed_version = max(self._committed_version, lo, hi)
        # never re-emit a version at-or-below the floor: the floor is
        # every range END this reader emitted plus every range START
        # Spark has shown it (a start was processed by a prior batch —
        # in the post-restart inverted batch (checkpoint, lower_end],
        # `start` IS the checkpointed offset). After such a regression
        # Spark plans (lower_end, new_end], which overlaps versions a
        # previous run already processed — the floor skips them
        # (exactly-once under caps). A fresh reader's floor is
        # start_version, so the legitimate replay of an uncommitted
        # batch after a full restart is unaffected.
        eff_lo = max(lo, min(self._emitted_through, hi))
        self._emitted_through = max(self._emitted_through, lo, hi)
        lo = eff_lo
        parts: list[ChangeFilePartition] = []
        for v in range(lo + 1, hi + 1):
            m = _read_manifest(self.root, v)
            op = m["operation"]
            if op == "append":
                for f in _added_files(self.root, m):
                    parts.append(ChangeFilePartition(f, +1, v))
            elif op == "delete":
                for f in m.get("changes", []):
                    parts.append(ChangeFilePartition(f, -1, v))
            elif op == "merge":
                for f in m.get("added", []):
                    parts.append(ChangeFilePartition(f, +1, v))
                for f in m.get("changes", []):
                    parts.append(ChangeFilePartition(f, -1, v))
            elif op not in ("compact", "metadata"):
                raise ValueError(
                    f"snapshot change stream crossed non-row-level commit "
                    f"v{v} ({op}) — restart the stream from the current "
                    "snapshot"
                )
        return parts

    # --- reads (executor-side) --------------------------------------------

    def read(self, partition: ChangeFilePartition) -> Iterator[tuple]:
        import pyarrow.parquet as pq

        table = pq.read_table(os.path.join(self.root, partition.path))
        cols = []
        n = table.num_rows
        for name, _typ in self.schema_pairs:
            if name in table.column_names:
                cols.append(table.column(name).to_pylist())
            else:
                cols.append([None] * n)  # pre-evolution file: null-fill
        sign = [partition.sign] * n
        ver = [partition.version] * n
        yield from zip(*cols, sign, ver)

    def commit(self, end: dict) -> None:
        # remember progress for the admission-control caps; the log
        # itself is the durable source — nothing to release. RATCHET,
        # never assign: after a restart regression Spark commits the
        # stale lower end, which must not rewind the healed cursor.
        self._committed_version = max(
            self._committed_version, int(end["version"])
        )


class SnapshotChangeDataSource(DataSource):
    """``format("snapshot_changes")``: streaming change feed of a
    SnapshotStore table. Options: ``path`` (table root, required),
    ``startingVersion`` (default 0 = full history) or
    ``startingTimestamp`` (epoch seconds — changes after the newest
    commit at or before the instant; mutually exclusive), and admission
    control: ``maxVersionsPerBatch`` (bound how many commits one
    micro-batch absorbs) and ``maxFilesPerBatch`` (bound by CHANGED
    FILES — the knob that actually limits bytes when one backfill
    commit carries thousands of files; an indivisible oversized commit
    still advances alone, so progress is guaranteed). Caps clamp the
    OFFSET (not the partition list), so a capped stream checkpoints
    exactly what it emitted — nothing is skipped."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_changes"

    def schema(self) -> str:
        reader = SnapshotChangeStreamReader(self.options)
        if not reader.schema_pairs:
            raise ValueError(
                "snapshot change stream needs a committed table "
                "(no manifest schema found)"
            )
        base = ", ".join(f"{n} {t}" for n, t in reader.schema_pairs)
        return f"{base}, {_EXTRA_DDL}"

    def streamReader(self, schema) -> SnapshotChangeStreamReader:
        return SnapshotChangeStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(SnapshotChangeDataSource)


def apply_changes_batch(batch, target, keys: list[str]) -> None:
    """CDC-apply one micro-batch of signed changes onto ``target``
    (a SnapshotStore with the same schema): net out each key to its
    LATEST state in the batch (max ``_commit_version``; within a
    version the +1 of a merge-update outranks the -1 of the replaced
    row), then upsert the +1 survivors and delete the -1 ones via
    MERGE. Idempotent BY VALUE: replaying a batch re-updates keys to
    the values they already have and re-deletes keys that are already
    gone — no transaction bookkeeping needed, which is what makes the
    apply safe under foreachBatch's at-least-once replays."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    if "_commit_version" not in batch.columns:
        raise ValueError(
            "apply_changes_batch needs _commit_version to net keys to "
            "their latest state — use read_row_changes("
            "include_version=True) or the snapshot_changes stream"
        )
    w = W.partitionBy(*keys).orderBy(
        F.col("_commit_version").desc(), F.col("_change").desc()
    )
    top = (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn")
    )
    data_cols = [c for c in top.columns if c not in ("_change", "_commit_version")]
    ups = top.filter("_change = 1").select(*data_cols)
    dels = top.filter("_change = -1").select(*data_cols)
    # schema_evolution: a mirror FOLLOWS the source's add-column
    # evolutions (the stream already emits the head-schema superset,
    # null-filling pre-evolution rows)
    if not ups.isEmpty():
        target.merge_into(
            ups, on=keys, when_matched="update", schema_evolution=True
        )
    if not dels.isEmpty():
        target.merge_into(
            dels,
            on=keys,
            when_matched="delete",
            insert_not_matched=False,
            schema_evolution=True,
        )


def replicate_changes(
    spark,
    source_root: str,
    target,
    keys: list[str],
    checkpoint_dir: str,
    starting_version: int = 0,
):
    """Table MIRRORING over the change feed: stream ``source_root``'s
    snapshot log and CDC-apply every batch onto ``target`` — the
    composition that turns (change-feed source + MERGE) into Delta's
    `APPLY CHANGES INTO`. Returns the started streaming query
    (availableNow trigger: catches up through the current source head,
    then stops — call again to incrementally re-sync)."""
    register(spark)
    return (
        spark.readStream.format("snapshot_changes")
        .option("path", source_root)
        .option("startingVersion", str(starting_version))
        .load()
        .writeStream.foreachBatch(
            lambda b, _bid: apply_changes_batch(b, target, keys)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def content_fingerprint(df) -> tuple[int, int]:
    """Order-independent content fingerprint of a DataFrame: row count
    plus the exact decimal SUM of per-row xxhash64 over every column
    (commutative, so partitioning/ordering never matters; decimal sum
    so no overflow wrap under ANSI). Two relations with equal
    fingerprints are equal with xxhash64-collision probability. The
    anti-entropy primitive behind ``mirror --verify``: one scan per
    side, no shuffle beyond a scalar aggregate, no row movement."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(*[F.col(c) for c in df.columns]).cast(
                "decimal(38,0)"
            )
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def drain_available(start_query, max_rounds: int = 1000) -> int:
    """Drain loop for CAPPED availableNow streams (round-7 verdict
    item 7): Spark's simple-reader availableNow snapshots ONE capped
    offset per invocation — with maxVersionsPerBatch/maxFilesPerBatch
    set, a single ``trigger(availableNow=True).start()`` advances one
    admission-control step, not to the head (behavior pinned in
    tests/test_change_stream.py::test_available_now_caps_one_offset_
    per_invocation, which fails if Spark's semantics ever change).
    This helper re-invokes the query until a round processes zero rows,
    i.e. the checkpoint has converged on the head. ``start_query`` is a
    zero-arg callable returning a freshly STARTED StreamingQuery
    against the same checkpoint. Returns the number of rounds run
    (including the final empty one)."""
    rounds = 0
    while rounds < max_rounds:
        q = start_query()
        q.awaitTermination()
        rounds += 1
        total = sum(p["numInputRows"] for p in (q.recentProgress or []))
        if total == 0:
            break
    return rounds
