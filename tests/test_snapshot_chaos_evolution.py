"""Chaos matrix, schema-evolution edition: randomized schedules
interleaving the SCHEMA ops — add-column re-adds and TYPE WIDENING
(both the append path and merge_into(schema_evolution=True)) — with
the row-level ops (append / DV-delete / merge / compact / restore)
across 3 real writer threads, verified against the segment-wise
serial oracle.

Why this matrix exists: stale pendings stamped by unrelated commits
and schema drift between a writer's manifest read and its stage are
protocol-corner defects no single-op test reaches.

Oracle rules, per commit class:
- restore's snapshot equals its recorded target's snapshot — schema
  and full positional rows (a restore to a version before an
  add-column also drops the column, so a later add re-adds one).
- between history rewrites, the signed row feed replays every
  version's (k, v) snapshot exactly (k and v are never retyped or
  dropped, so the projection is stable across any schema history).

Aborts are contractual: CommitConflict (rewrites racing rewrites,
restore never rebases) and ValueError (schema drift between a worker's
manifest read and its stage — e.g. appending yesterday's schema after
a racing widen or restore) abandon the op and must leave no trace.
"""

from __future__ import annotations

import os
import random
import threading
from collections import Counter

from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.operators.snapshots import (
    CommitConflict,
    SnapshotStore,
)

# r13: smoke-scale slice of the same randomized matrix by default
# (identical schedules/oracle/assertions); SPARK_GRAFT_NIGHTLY=1
# restores the full tier (see test_snapshot_chaos.py).
N_SCHEDULES = 12 if os.environ.get("SPARK_GRAFT_NIGHTLY") else 4
N_WRITERS = 3
OPS_PER_WRITER = 4


def _typed_rows(spark, schema_pairs, pairs):
    """Rows matching the CURRENT committed schema: (k, v) from pairs,
    every later column filled with a deterministic int cast to its
    committed type."""
    cols = [F.col("k"), F.col("v")]
    for n, t in schema_pairs[2:]:
        cols.append((F.col("k") % 50).cast(t).alias(n))
    return (
        spark.createDataFrame(pairs, "k bigint, v bigint").select(*cols)
    )


def _worker(spark, path, widx, seed, errors):
    rng = random.Random(seed)
    store = SnapshotStore(spark, path, stats_cols=["k"])
    base = 1000 * (widx + 1)
    counter = 0
    for _ in range(OPS_PER_WRITER):
        # the two schema ops draw 4 of every 9 ops between them
        op = rng.choices(
            [
                "append", "merge", "delete_dv", "compact", "restore",
                "widen", "merge_widen",
            ],
            weights=[1, 1, 1, 1, 1, 2, 2],
        )[0]
        try:
            schema = store.manifest().get("schema") or []
            # the newest column past (k, v): the one widen retypes
            last = schema[-1] if len(schema) > 2 else None
            if op == "append":
                pairs = [(base + counter, rng.randint(0, 99))]
                counter += 1
                store.append(_typed_rows(spark, schema, pairs))
            elif op == "merge":
                ks = rng.sample(range(10), 2)
                store.merge_into(
                    _typed_rows(
                        spark, schema,
                        [(k, rng.randint(100, 199)) for k in ks],
                    ),
                    on=["k"],
                    when_matched="update",
                )
            elif op == "delete_dv":
                store.delete_where_dv(f"v % 5 = {rng.randint(0, 4)}")
            elif op == "compact":
                store.compact(target_partitions=2)
            elif op == "restore":
                head = store.latest_version()
                if head >= 2:
                    store.restore(rng.randint(1, head - 1))
            elif op == "widen":
                if last is not None and last[1] == "int":
                    # append-path widening: int -> bigint
                    wide = list(schema)
                    wide[-1] = [last[0], "bigint"]
                    store.append(
                        _typed_rows(
                            spark, wide, [(base + counter, 1)]
                        ),
                        merge_schema=True,
                    )
                else:
                    # add an int column under a fresh name: the first,
                    # the next after a widen, or again after a restore
                    # reverted an earlier add
                    wide = list(schema) + [[f"z{widx}_{counter}", "int"]]
                    store.append(
                        _typed_rows(
                            spark, wide, [(base + counter, 2)]
                        ),
                        merge_schema=True,
                    )
                counter += 1
            else:  # merge_widen: the r12 merge_into widening path
                if last is not None and last[1] == "int":
                    wide = list(schema)
                    wide[-1] = [last[0], "bigint"]
                    ks = rng.sample(range(10), 2)
                    store.merge_into(
                        _typed_rows(
                            spark, wide,
                            [(k, rng.randint(200, 299)) for k in ks],
                        ),
                        on=["k"],
                        when_matched="update",
                        schema_evolution=True,
                    )
        except (CommitConflict, ValueError):
            pass  # documented aborts; must leave the table untouched
        except Exception as e:  # pragma: no cover - the failure signal
            errors.append((widx, op, repr(e)))
            return


def _full(store, version) -> Counter:
    return Counter(tuple(r) for r in store.read(version=version).collect())


def _kv(store, version) -> Counter:
    return Counter(
        (r["k"], r["v"]) for r in store.read(version=version).collect()
    )


def _verify(spark, path) -> int:
    store = SnapshotStore(spark, path, stats_cols=["k"])
    head = store.latest_version()
    kv = {v: _kv(store, v) for v in range(1, head + 1)}
    for v in range(1, head + 1):
        m = store.manifest(v)
        if m["operation"] == "restore":
            t = m["restore_of"]
            tm = store.manifest(t)
            assert m.get("schema") == tm.get("schema"), f"restore v{v}"
            assert _full(store, v) == _full(store, t), f"restore v{v} rows"
    # segment-wise signed-feed replay on the stable (k, v) projection
    restores = [
        v for v in range(1, head + 1)
        if store.manifest(v)["operation"] == "restore"
    ]
    segments, prev = [], 0
    for r in restores:
        segments.append((prev, r - 1))
        prev = r
    segments.append((prev, head))
    for lo, hi in segments:
        if hi <= lo:
            continue
        model = kv.get(lo, Counter()).copy()
        feed = store.read_row_changes(lo, hi, include_version=True)
        rows = feed.select("k", "v", "_change", "_commit_version").collect()
        by_v: dict[int, list] = {}
        for r in rows:
            by_v.setdefault(r["_commit_version"], []).append(r)
        for v in range(lo + 1, hi + 1):
            for r in by_v.get(v, ()):
                key = (r["k"], r["v"])
                model[key] += r["_change"]
                assert model[key] >= 0, (v, key)
            assert +model == kv[v], f"segment replay diverged at v{v}"
    return head


def test_chaos_with_schema_evolution_ops(spark, tmp_path):
    total = 0
    widened = added = 0
    for seed in range(N_SCHEDULES):
        path = str(tmp_path / f"t{seed}")
        st = SnapshotStore(spark, path, stats_cols=["k"])
        st.append(
            spark.createDataFrame(
                [(k, k % 7) for k in range(10)], "k bigint, v bigint"
            )
        )
        errors: list = []
        threads = [
            threading.Thread(
                target=_worker,
                args=(spark, path, w, seed * 157 + w, errors),
            )
            for w in range(N_WRITERS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        total += _verify(spark, path)
        # count which schema transitions the schedules' own writes hit
        # (a restore reverting to an older schema is not one)
        fresh = SnapshotStore(spark, path, stats_cols=["k"])
        prev_schema = None
        for v in range(1, fresh.latest_version() + 1):
            m = fresh.manifest(v)
            s = [tuple(c) for c in (m.get("schema") or [])]
            if prev_schema is not None and m["operation"] != "restore":
                if len(s) == len(prev_schema) and s != prev_schema:
                    widened += 1
                elif len(s) > len(prev_schema):
                    added += 1
            prev_schema = s
    assert total >= N_SCHEDULES * 3
    # the matrix must actually exercise the schema ops, not no-op them
    assert added >= 2 and widened >= 2, (added, widened)
