"""Snapshot-logged candle dataset: `CandleDataset`'s ingest contract
(R2/R3/R4/R6 — append-idempotent, resume offset, pruned reads) on top
of the `SnapshotStore` commit log, giving concurrent multi-writer
atomicity, time travel, and metadata-only retention.

Why this exists: the reference fans out FOUR worker processes per
exchange (`fetch_exchange.sh:18-23`), all appending into the same
storage tree. `CandleDataset` writes bare partitioned parquet, so
concurrent appenders share one `_temporary` staging dir and must be
serialized behind a lock (`sources/paging.py:ingest_exchange`). Here
every append is an optimistic commit-log transaction (stage → CAS →
rebase), so N writers append concurrently with no lock, readers always
see a consistent snapshot, and a crashed writer leaves only
unreferenced (vacuumable) files — the warehouse-grade translation of
the reference's one-SQLite-file-per-worker isolation.

Key-level idempotency (the reference's INSERT-OR-IGNORE, `ccxt-ohlcv-
fetch.py:71-75`) survives concurrency via Delta-style conflict
resolution on rebase: a writer that loses the CAS re-checks the
winner's delta files for overlapping (exchange,symbol,timeframe,
timestamp) keys and re-stages minus the conflicts, so the PK-uniqueness
invariant holds under any interleaving — not just under a lock.

File pruning comes from per-file min/max stats recorded in the
manifest (`SnapshotStore(stats_cols=...)`), replacing `CandleDataset`'s
Hive `dt=` directory pruning: partition values live as ordinary data
columns, and the log's stats answer "which files can hold symbol S
after T" with zero storage I/O.

Layout invariant: every data file holds exactly ONE (exchange, symbol,
timeframe) key. Appends and `compact()` both place rows with
`repartitionById` on a dense index of the keys they already know
(`_cluster`), never with a sampled range, so no file straddles two
keys. Each file's stats then have min == max on the partition columns,
and `resume_offset` is answered from the manifest alone — the 100 TB
analog of the reference's indexed `ORDER BY timestamp DESC LIMIT 1`
(`:86-91`).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.operators.ingest import (
    PARTITION_COLS,
    normalize_symbol,
)
from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
    CommitConflict,
    SnapshotStore,
)

KEY_COLS = (*PARTITION_COLS, "timestamp")
STATS_COLS = KEY_COLS


def _unpin(df: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint``-ed frame: its logical
    plan is the LogicalRDD over the checkpointed RDD. Through the
    SparkContext, because ``RDD.unpersist`` logs a warning for every
    locally checkpointed RDD, which would be one per append."""
    rdd = df._jdf.queryExecution().logical().rdd()
    df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd.id(), False)


def _key_index(keys: list[tuple]) -> Column:
    """Each row's position in ``keys``, a list of (exchange, symbol,
    timeframe) tuples: one literal map lookup, no join. A row whose key
    is missing from the list gets NULL."""
    if not keys:
        return F.lit(0)

    def key(values) -> Column:
        return F.struct(
            *(F.lit(v).cast("string").alias(c) for c, v in zip(PARTITION_COLS, values))
        )

    index = F.create_map(*(x for i, k in enumerate(keys) for x in (key(k), F.lit(i))))
    return index[F.struct(*PARTITION_COLS)]


class SnapshotCandleDataset:
    """Same logical contract as `operators.ingest.CandleDataset`, backed
    by the commit log. All appends are atomic and lock-free; reads are
    snapshot-isolated and support ``version=`` time travel."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.store = SnapshotStore(spark, path, stats_cols=list(STATS_COLS))

    # --- reads ------------------------------------------------------------

    def _ranges(
        self,
        exchange: str | None,
        symbol: str | None,
        timeframe: str | None,
        since_ms: int | None,
        until_ms: int | None,
    ) -> dict[str, tuple]:
        ranges: dict[str, tuple] = {}
        if symbol is not None:
            symbol = normalize_symbol(symbol)
        for col, val in zip(PARTITION_COLS, (exchange, symbol, timeframe)):
            if val is not None:
                ranges[col] = (val, val)
        if since_ms is not None or until_ms is not None:
            ranges["timestamp"] = (since_ms, until_ms)
        return ranges

    def _exists(self) -> bool:
        """Duck-type parity with ``CandleDataset._exists`` (rollup
        refresh probes it before reading): a logged table exists once it
        has a commit — a metadata read, no filesystem listing."""
        return self.store.latest_version() > 0

    def read(
        self,
        exchange: str | None = None,
        symbol: str | None = None,
        timeframe: str | None = None,
        since_ms: int | None = None,
        until_ms: int | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned snapshot read: file set chosen from the manifest
        (no listing, no footer I/O), residual predicates trimmed by
        Spark's row-group pushdown within the surviving files."""
        ranges = self._ranges(exchange, symbol, timeframe, since_ms, until_ms)
        files = self.store.pruned_files(ranges, version=version)
        if not files:
            # preserve the schema for empty results when the table has one
            df = self.store.read(version=version).limit(0)
        else:
            # manifest-schema read: no footer inference at plan time,
            # robust if the table schema ever evolves, and DV-aware
            # (deletion vectors of pruned-in files anti-joined out)
            df = self.store._read_files_live(
                files, self.store.manifest(version)
            )
        if symbol is not None:
            symbol = normalize_symbol(symbol)
        for col, val in zip(PARTITION_COLS, (exchange, symbol, timeframe)):
            if val is not None:
                df = df.filter(F.col(col) == val)
        if since_ms is not None:
            df = df.filter(F.col("timestamp") >= since_ms)
        if until_ms is not None:
            df = df.filter(F.col("timestamp") <= until_ms)
        return df

    def resume_offset(
        self, exchange: str, symbol: str, timeframe: str
    ) -> int | None:
        """R4: newest stored epoch-ms for the key, or None.

        Answered from manifest stats ALONE when every candidate file is
        single-keyed (its min==max on all three partition cols) — zero
        data I/O, the log is the index. Appends and compactions keep
        that invariant (`_cluster`). The pruned data scan is the
        fallback for files that break it: deletion vectors, files
        written by an older layout or by a raw `SnapshotStore` call.
        """
        if self.store.latest_version() == 0:
            return None
        ranges = self._ranges(exchange, symbol, timeframe, None, None)
        files = self.store.pruned_files(ranges)
        if not files:
            return None
        manifest = self.store.manifest()
        stats = manifest.get("stats", {})
        dvs = manifest.get("dvs", {})
        best: int | None = None
        conclusive = True
        for f in files:
            fs = stats.get(f, {})
            # a file carrying deletion vectors is never conclusive:
            # its footer stats still include logically-deleted rows,
            # so the stats-only max could be a deleted candle
            if f in dvs or "timestamp" not in fs or any(
                c not in fs or fs[c][0] != fs[c][1] for c in PARTITION_COLS
            ):
                conclusive = False
                break
            best = fs["timestamp"][1] if best is None else max(best, fs["timestamp"][1])
        if conclusive:
            return best
        row = (
            self.read(exchange, symbol, timeframe)
            .agg(F.max("timestamp").alias("m"))
            .collect()[0]
        )
        return row["m"]

    # --- writes -----------------------------------------------------------

    def _existing_keys(self, batch_ranges: list[dict], version: int) -> DataFrame | None:
        """Key columns of every head file that could overlap the batch.

        DV-aware: reads through ``_read_files_live`` so positions removed
        by ``delete_where_dv`` do NOT count as existing — otherwise a
        delete-then-refetch of a corrected candle would be silently
        dropped by the idempotency anti-join (the row is logically gone
        but its key still sits in the physical file)."""
        files: set[str] = set()
        for r in batch_ranges:
            files.update(self.store.pruned_files(r, version=version))
        if not files:
            return None
        return self.store._read_files_live(
            sorted(files), self.store.manifest(version)
        ).select(*KEY_COLS)

    def _batch_ranges(self, batch: DataFrame) -> list[dict]:
        """One stats-range per (exchange,symbol,timeframe) group in the
        batch, bounded below by the group's min ts — appends only ever
        overlap the tail, so older files prune away (CandleDataset's
        row-group trick, lifted to the manifest level)."""
        stats = (
            batch.groupBy(*PARTITION_COLS)
            .agg(F.min("timestamp").alias("_min_ts"))
            .collect()
        )
        return [
            {
                "exchange": (r["exchange"], r["exchange"]),
                "symbol": (r["symbol"], r["symbol"]),
                "timeframe": (r["timeframe"], r["timeframe"]),
                "timestamp": (r["_min_ts"], None),
            }
            for r in stats
        ]

    @staticmethod
    def _cluster(df: DataFrame, keys: list[tuple]) -> DataFrame:
        """Stage layout: exactly one sorted file per (exchange, symbol,
        timeframe) key in ``keys``, which must list every key in ``df``.
        Rows go to partition ``_key_index`` by id, so placement is exact
        and costs no sampling job; a range partitioner would sample
        bounds that can fall inside a key and mix two keys in one file.
        Single-keyed files keep manifest stats conclusive (stats-only
        resume) and the sort keeps row-group min/max selective (R13
        explicit order, reference `:70`)."""
        return df.repartitionById(
            max(1, len(keys)), _key_index(keys)
        ).sortWithinPartitions(*KEY_COLS)

    def append_idempotent(
        self,
        batch: DataFrame,
        txn: tuple[str, int] | None = None,
        max_retries: int = 10,
    ) -> int:
        """R2+R3 as a log transaction. Returns rows actually appended.

        Protocol: anti-join the batch against the head's (pruned)
        existing keys, stage the surviving rows, CAS the next manifest.
        On losing the CAS: diff the winner's file set, anti-join the
        staged rows against just those delta files' keys; if conflicts
        exist, re-stage the reduced batch; either way retry from the new
        head. Abandoned stage dirs stay unreferenced until vacuum.
        ``txn=(app_id, batch_id)`` adds per-writer batch idempotency
        (exactly-once foreachBatch), same as `SnapshotStore.append`.
        """
        store = self.store
        if txn is not None:
            last = store.last_txn(txn[0])
            if last is not None and txn[1] <= last:
                return 0
        ranges = self._batch_ranges(batch)
        if not ranges:
            return 0
        base = store.latest_version()
        existing = self._existing_keys(ranges, base)
        deduped = batch
        if existing is not None:
            deduped = batch.join(
                F.broadcast(existing), on=list(KEY_COLS), how="left_anti"
            ).select(*batch.columns)  # joins reorder; schema guard is exact
        deduped = deduped.localCheckpoint(eager=True)
        pins = [deduped]
        try:
            n = deduped.count()
            if n == 0:
                return 0
            keys = [tuple(r[c][0] for c in PARTITION_COLS) for r in ranges]
            files = store._stage(self._cluster(deduped, keys))
            staged_schema = store._pending_schema
            for _ in range(max_retries):
                head = store.latest_version()
                if txn is not None:
                    last = store.manifest(head).get("txn", {}).get(txn[0])
                    if last is not None and txn[1] <= last:
                        return 0
                head_manifest = store.manifest(head)
                head_schema = head_manifest.get("schema")
                if head_schema is not None and head_schema != staged_schema:
                    raise CommitConflict(
                        f"table schema changed concurrently: head has "
                        f"{head_schema}, staged append has {staged_schema}"
                    )
                if head != base:
                    # conflict resolution: keys committed since `base` may
                    # collide with ours — check ONLY the delta files
                    base_files = set(store.manifest(base)["files"])
                    delta = [f for f in head_manifest["files"] if f not in base_files]
                    if delta:
                        # DV-aware for the same delete-then-refetch reason
                        # as _existing_keys (a racing delete_where_dv may
                        # vector rows out of the winner's files)
                        delta_keys = self.store._read_files_live(
                            delta, head_manifest
                        ).select(*KEY_COLS)
                        reduced = (
                            deduped.join(
                                F.broadcast(delta_keys),
                                on=list(KEY_COLS),
                                how="left_anti",
                            )
                            .select(*deduped.columns)
                            .localCheckpoint(eager=True)
                        )
                        pins.append(reduced)
                        n_reduced = reduced.count()
                        if n_reduced < n:
                            if n_reduced == 0:
                                return 0  # every row already won elsewhere
                            deduped, n = reduced, n_reduced
                            files = store._stage(self._cluster(deduped, keys))
                    base = head
                merged = store.manifest(base)["files"] + files
                if store._try_commit(base, merged, "append", txn=txn):
                    return n
            raise CommitConflict(
                f"append lost the CAS race {max_retries} times"
            )
        finally:
            # the staged files are committed or abandoned: nothing reads
            # the pinned batches any more
            for df in pins:
                _unpin(df)

    # --- maintenance ------------------------------------------------------

    def fragmentation(self) -> dict:
        """Manifest-only fragmentation report: files per
        (exchange, symbol, timeframe) key, from per-file stats alone
        (files whose key stats are inconclusive — mixed keys — count
        under the ``None`` key). Zero storage I/O. The small-file
        complement of ``SnapshotStore.dv_stats`` for ``compact --auto``:
        appends add ~one file per key per batch, so files-per-key IS
        the read-amplification factor of a pruned key scan."""
        m = self.store.manifest()
        stats = m.get("stats", {})
        per_key: dict = {}
        for f in m["files"]:
            fs = stats.get(f, {})
            if all(
                c in fs and fs[c][0] == fs[c][1] for c in PARTITION_COLS
            ):
                key = tuple(fs[c][0] for c in PARTITION_COLS)
            else:
                key = None
            per_key[key] = per_key.get(key, 0) + 1
        return {
            "files_per_key": per_key,
            "max_files_per_key": max(per_key.values(), default=0),
            "n_files": len(m["files"]),
        }

    def compact(
        self,
        when_dv_ratio_above: float | None = None,
        when_files_per_key_above: int | None = None,
    ) -> int | None:
        """Clustered rewrite: one atomic 'compact' commit that writes
        the whole snapshot as exactly one file per (exchange, symbol,
        timeframe) key, sorted on timestamp (`_cluster`'s placement, with
        the keys from one distinct-keys job). Manifest stats then prune
        whole keys and `resume_offset` stays stats-only. A key that a
        concurrent writer commits after that job lands in file 0: the
        rows stay correct, but that file's stats stay inconclusive
        until the next compaction. Incremental
        (tail-bucket-only) compaction composes by filtering first and
        committing the rewrite of just those files; whole-snapshot is
        the fixture-scale form.

        Auto-compaction policy (the CLI's ``compact --auto``): when any
        trigger is given, rewrite ONLY if one fires — returns None with
        no commit otherwise (a healthy table costs nothing).

        - ``when_dv_ratio_above``: merge-on-read deletes
          (``delete_where_dv``) accumulated past the threshold
          (``SnapshotStore.dv_stats``).
        - ``when_files_per_key_above``: small-file fragmentation — some
          key's file count (:meth:`fragmentation`, manifest-only)
          exceeds the threshold; the reference's per-batch appends
          create exactly this shape over time."""
        triggers = [
            t
            for t in (when_dv_ratio_above, when_files_per_key_above)
            if t is not None
        ]
        if triggers:
            fired = False
            if when_dv_ratio_above is not None:
                fired |= (
                    self.store.dv_stats()["dv_ratio"] > when_dv_ratio_above
                )
            if not fired and when_files_per_key_above is not None:
                fired |= (
                    self.fragmentation()["max_files_per_key"]
                    > when_files_per_key_above
                )
            if not fired:
                return None
        head = self.store.latest_version()
        keys = [
            tuple(r)
            for r in self.store.read(version=head)
            .select(*PARTITION_COLS)
            .distinct()
            .collect()
        ]
        return self.store.compact(
            target_partitions=max(1, len(keys)),
            partition_id=_key_index(keys),
            order_by=list(KEY_COLS),
        )

    def retention(self, older_than_ms: int, max_retries: int = 10) -> int:
        """Drop every file whose newest timestamp is older than the
        cutoff — a METADATA-ONLY commit (operation 'retention'): no
        rewrite, no tombstones; physical space returns at vacuum. Files
        lacking conclusive ts stats are kept. Equivalent to
        `CandleDataset.vacuum`'s bucket-directory delete, decided from
        the log instead of the directory layout."""
        store = self.store
        for _ in range(max_retries):
            base = store.latest_version()
            m = store.manifest(base)
            stats = m.get("stats", {})
            keep = [
                f
                for f in m["files"]
                if "timestamp" not in stats.get(f, {})
                or stats[f]["timestamp"][1] >= older_than_ms
            ]
            dropped = len(m["files"]) - len(keep)
            if dropped == 0:
                return 0
            store._pending_schema = m.get("schema")
            store._pending_stats = {}
            if store._try_commit(base, keep, "retention"):
                return dropped
        raise CommitConflict(f"retention lost the CAS race {max_retries} times")

    def vacuum(self, min_age_seconds: float = 3600.0) -> list[str]:
        """Physical reclaim of unreferenced commit dirs (crashed/lost
        writers, post-retention, post-compact). Delegates to the store's
        mtime-retention vacuum — never touches a live writer's staged
        files."""
        return self.store.vacuum(min_age_seconds=min_age_seconds)

    def restate(self, batch: DataFrame) -> dict:
        """Candle RESTATEMENT: exchanges occasionally revise a closed
        candle (late trades, bust corrections). ``append_idempotent``
        deliberately IGNORES rows whose key already exists (the
        reference's INSERT-OR-IGNORE, ccxt-ohlcv-fetch.py:71-75), so
        corrections need the other merge mode: matched keys get the
        NEW values, unseen keys insert — one atomic MERGE commit whose
        change files let downstream incremental consumers retract the
        old candle and absorb the new one. Returns the merge stats."""
        return self.store.merge_into(batch, on=list(KEY_COLS))

    def delete_where(self, condition: str) -> tuple[int | None, int]:
        """Row-level delete on the logged candle table — the surgical
        complement to ``retention()``'s whole-file drops: remove one
        bad symbol's range, a single poisoned candle, rows matched by
        any predicate. Copy-on-write via the store (only
        match-containing files rewritten, change files recorded, time
        travel keeps the pre-delete snapshot)."""
        return self.store.delete_where(condition)

    def enable_ohlcv_constraints(self) -> list[int]:
        """Commit the OHLCV invariants (operators/quality.py
        candle_rules, minus the per-timeframe grid rule — a logged
        dataset may mix timeframes) as table CHECK constraints: every
        writer into this dataset — this process or any other — then
        refuses batches with inverted candles or negative volume at
        stage time, atomically, before the data is visible. The
        reactive quality gate (check_rules/quarantine) inspects; the
        constraint PREVENTS. Returns the metadata commit versions."""
        exprs = {
            "low_le_body": "low <= least(open, close)",
            "high_ge_body": "high >= greatest(open, close)",
            "volume_non_negative": "volume >= 0",
        }
        return [
            self.store.add_constraint(name, expr)
            for name, expr in exprs.items()
        ]

    def delete_where_dv(self, condition: str) -> tuple[int | None, int]:
        """Merge-on-read variant of :meth:`delete_where`: persists
        deletion vectors instead of rewriting files — the right mode
        for removing a few candles from a heavily-compacted dataset
        (write cost = deleted rows, not touched files). Vectors are
        materialized by the next ``compact()``."""
        return self.store.delete_where_dv(condition)
