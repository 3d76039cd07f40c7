"""Snapshot/manifest table format (a minimal Delta-style commit log)
for parquet datasets: atomic appends, snapshot-isolated reads, time
travel, and safe vacuum — without a table-format dependency.

Why: plain `df.write.mode("append").parquet(path)` has two failure
modes this repo has already hit (ROUND_NOTES "Decisions"): concurrent
appends collide in the shared ``_temporary`` staging dir (forcing
`ingest_exchange` to serialize commits behind a lock), and a reader
racing a writer can list a half-written file set. The standard fix is
the log-structured table format (Delta/Iceberg): data files are
immutable once written, and a COMMIT is the atomic creation of the
next numbered manifest that references them.

Layout::

    path/data/commit-<token>/part-*.parquet   (one dir per commit)
    path/_manifests/v00000001.json            (commit DELTA: add/remove)
    path/_manifests/ckpt-v00000020.json       (full state, every N commits;
    path/_manifests/ckpt-v00000040.parquet     json or parquet per store
                                               config — readers take either)

Protocol (Delta's, scaled down):

- a writer stages its parquet files into a fresh ``commit-<token>``
  dir (its own ``_temporary`` — no cross-writer collision), then
  creates ``v{N+1}.json`` with ``open(..., "x")``: the exclusive
  create IS the compare-and-swap. If another writer won version N+1,
  the create fails and the writer rebases: re-reads the new head,
  re-merges its (already staged, immutable) file list, and retries at
  N+2. Data files are never rewritten on retry.
- readers resolve the head by listing manifests (max N), then read
  exactly the files that manifest names — a consistent snapshot, never
  a half-commit; ``version=`` pins any historical snapshot.
- ``vacuum()`` deletes commit dirs referenced by NO retained manifest
  — which is also what makes a crashed writer harmless: its staged
  dir was never referenced, so it is invisible and reclaimable.

Scale notes: on a real object store the exclusive create maps to
put-if-absent (S3 conditional PUT / GCS generation-0 precondition),
exactly how open-source Delta commits on those stores. Since round 8
each per-commit manifest records only the commit's DELTA — files
added/removed, new txn watermarks, schema/constraints only when they
change — so a commit writes O(changed files), not O(table files). A
full-state CHECKPOINT (``ckpt-v*.json``, Delta's checkpoint-parquet
pattern) is written every ``checkpoint_interval`` commits; readers
reconstruct any snapshot from the newest checkpoint at-or-below it
plus the ≤interval delta tail, so resolving the head costs
O(checkpoint + interval) file reads regardless of how many commits or
files the table has — the bound that keeps driver-side metadata cost
flat at millions of files / high commit rates. Reads still bypass
directory listing entirely — the slow operation at 100 TB. Cite:
reference stores one SQLite file per symbol with no multi-writer
story (ccxt-ohlcv-fetch.py:125-139); this is the warehouse-grade
replacement.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflict(RuntimeError):
    """Raised when max_retries rebases all lose the CAS race."""


#: Protocol version this reader implements (Delta's minReaderVersion
#: idea, scaled down): a manifest may stamp ``min_reader`` when a
#: commit introduces a feature older readers would MISREAD rather than
#: merely miss, and readers refuse tables whose ``min_reader`` exceeds
#: this — a loud error instead of wrong data. Version 3 was column
#: mapping (files under generated physical column names), which older
#: engines stamped on every mapped table; this reader reads files by
#: their logical names only, so it implements 2 and refuses those.
READER_VERSION = 2


class ConstraintViolation(ValueError):
    """Raised when staged rows violate a table CHECK constraint."""


def _version_at_timestamp_walk(head: int, manifest_path, ts: float) -> int:
    """Shared TIMESTAMP AS OF resolution (SnapshotStore and the
    snapshot_changes source): newest version whose commit stamp —
    manifest ``ts``, mtime fallback for pre-stamp manifests — is at or
    before ``ts``. No early break: WRITTEN stamps are monotonic, but
    the mtime fallback is not (a log migrated between hosts can carry
    arbitrary mtimes), and the walk is O(versions) small JSON reads
    either way. Raises ValueError when nothing qualifies."""
    best = 0
    for v in range(1, head + 1):
        path = manifest_path(v)
        try:
            with open(path) as fh:
                m = json.load(fh)
        except FileNotFoundError:
            continue  # pruned version: its time travel is gone
        vts = m.get("ts")
        if vts is None:
            try:
                vts = os.path.getmtime(path)
            except OSError:
                continue
        if vts <= ts:
            best = v
    if best == 0:
        raise ValueError(
            f"no retained commit at or before timestamp {ts} "
            "(predates the log, or that history was pruned)"
        )
    return best


# --- delta-manifest reconstruction (checkpoint + tail) --------------------


def _empty_state() -> dict:
    return {"version": 0, "parent": None, "files": [], "operation": "empty"}


class _LazyStats:
    """Read-only, parse-on-demand per-file stats mapping (round-9
    verdict item 1): head reads that only need the FILE LIST — the
    common read when no pruning predicate is given — used to pay ~6 s
    per million files materializing a million tiny stats dicts out of
    the checkpoint, in both formats, even though nothing consulted
    them. The checkpoint decode now hands back this mapping, which
    holds the raw column/blob and parses it only when a consumer
    (stats pruning, a checkpoint write, partial compact) actually
    touches the stats. ``_apply_delta`` chains derive filtered views
    without forcing, so the laziness survives the delta-tail replay;
    the chain depth is bounded by the checkpoint cadence.

    Two modes: a SOURCE (``thunk`` returning the full dict, e.g. the
    Arrow-column join+parse) or a DERIVED view (``parent`` mapping
    minus ``drop`` paths, plus ``overlay`` of new entries). Any dict
    access forces and memoizes. Instances are treated read-only, like
    every nested dict in a reconstructed state."""

    __slots__ = ("_thunk", "_parent", "_drop", "_overlay", "_dict")

    def __init__(self, thunk=None, parent=None, drop=None, overlay=None):
        self._thunk = thunk
        self._parent = parent
        self._drop = drop
        self._overlay = overlay
        self._dict = None

    def _force(self) -> dict:
        if self._dict is None:
            if self._thunk is not None:
                try:
                    d = self._thunk()
                except Exception:
                    # the deferred parse moved OUT of _read_checkpoint's
                    # corrupt-checkpoint try/except; keep that contract
                    # here: stats are a derived pruning cache, so a
                    # payload that decodes structurally but fails the
                    # stats parse degrades to NO stats — every consumer
                    # treats a missing entry conservatively (pruning
                    # keeps the file, compact_partial skips it) — never
                    # an exception deep inside a read path
                    d = {}
            else:
                p = self._parent
                base = p._force() if isinstance(p, _LazyStats) else p
                if self._drop:
                    d = {
                        f: s for f, s in base.items() if f not in self._drop
                    }
                else:
                    d = dict(base)
                if self._overlay:
                    d.update(self._overlay)
            self._dict = d
            self._thunk = self._parent = self._drop = self._overlay = None
        return self._dict

    def __getitem__(self, k):
        return self._force()[k]

    def get(self, k, default=None):
        return self._force().get(k, default)

    def __contains__(self, k):
        return k in self._force()

    def __iter__(self):
        return iter(self._force())

    def __len__(self):
        return len(self._force())

    def __bool__(self):
        # NEVER force for truthiness (`if stats:` gates only whether
        # the key is attached to a state): without this, __len__ would
        # be used and the decode-time `if stats:` re-materialized the
        # million dicts laziness exists to avoid. A derived view can
        # therefore be truthy-but-empty; every consumer uses .get()
        # with defaults, so that is harmless.
        return True if self._dict is None else bool(self._dict)

    def keys(self):
        return self._force().keys()

    def values(self):
        return self._force().values()

    def items(self):
        return self._force().items()

    def __eq__(self, other):
        if isinstance(other, _LazyStats):
            other = other._force()
        return self._force() == other

    def __ne__(self, other):
        return not self.__eq__(other)

    def __repr__(self):
        return f"_LazyStats({self._force()!r})"


class _LazyDvs:
    """Decode-on-demand deletion-vector mapping (round-11 verdict item
    6 — the ``_LazyStats`` analog for the parquet checkpoint's DV
    column): a DV-heavy million-file state paid a full
    ``to_pylist`` materialization of the path + DV-list columns on
    EVERY checkpoint decode, even for list-only head reads that never
    touch deletion vectors. Source mode holds the already-validated
    in-memory Arrow columns (``pq.read_table`` decoded and verified
    them — the deferred ``to_pylist`` is pure conversion and cannot
    fail, so unlike stats no degrade-to-empty guard is needed; and for
    DVs, degrading to empty would RESURRECT deleted rows — never
    acceptable). Derived mode (``_apply_delta`` chains) is parent
    minus ``drop`` plus ``overlay``, so laziness survives the
    delta-tail replay, chain depth bounded by the checkpoint cadence.

    Truthiness is EXACT without decoding in every case but one —
    consumers like ``read_bucketed`` route on ``if m.get("dvs")`` and
    a wrong answer there would be a correctness bug, not a perf bug:
    source mode carries the Arrow-side non-null count; a derived view
    with an overlay is truthy; an empty/falsy parent with no overlay
    is falsy; only parent-truthy + non-empty drop + no overlay (a
    file-removing commit over a DV'd table) must force to know."""

    __slots__ = ("_thunk", "_count", "_parent", "_drop", "_overlay", "_dict")

    def __init__(
        self, thunk=None, count=None, parent=None, drop=None, overlay=None
    ):
        self._thunk = thunk
        self._count = count
        self._parent = parent
        self._drop = drop
        self._overlay = overlay
        self._dict = None

    def _force(self) -> dict:
        if self._dict is None:
            if self._thunk is not None:
                d = self._thunk()
            else:
                p = self._parent
                base = p._force() if isinstance(p, _LazyDvs) else p
                if self._drop:
                    d = {
                        f: v for f, v in base.items() if f not in self._drop
                    }
                else:
                    d = dict(base)
                if self._overlay:
                    d.update(self._overlay)
            self._dict = d
            self._thunk = self._parent = self._drop = self._overlay = None
        return self._dict

    def __getitem__(self, k):
        return self._force()[k]

    def get(self, k, default=None):
        return self._force().get(k, default)

    def __contains__(self, k):
        return k in self._force()

    def __iter__(self):
        return iter(self._force())

    def __len__(self):
        return len(self._force())

    def __bool__(self):
        if self._dict is not None:
            return bool(self._dict)
        if self._thunk is not None:
            return bool(self._count)
        if self._overlay:
            return True
        if not self._parent:  # exact: parent answers without decoding
            return False  # (or is a genuinely empty plain dict)
        if not self._drop:
            return True
        return bool(self._force())  # the one ambiguous case

    def keys(self):
        return self._force().keys()

    def values(self):
        return self._force().values()

    def items(self):
        return self._force().items()

    def __eq__(self, other):
        if isinstance(other, _LazyDvs):
            other = other._force()
        return self._force() == other

    def __ne__(self, other):
        return not self.__eq__(other)

    def __repr__(self):
        return f"_LazyDvs({self._force()!r})"


def _stats_blob_encode(stats) -> str:
    """Per-file stats as ONE pre-joined blob of pre-keyed JSON
    fragments ('"path":{...},...') — the JSON checkpoint's stats
    encoding. Shared by the store writer and tools/ckpt_format_bench.py
    so the bench always times the format the store actually writes."""
    if isinstance(stats, _LazyStats):
        stats = stats._force()
    return ",".join(
        f"{json.dumps(f)}:{json.dumps(s)}" for f, s in stats.items()
    )


def _stats_blob_lazy(blob: str) -> "_LazyStats":
    """The matching decode: hold the blob unparsed; one C-speed loads
    on first actual stats use."""
    return _LazyStats(thunk=lambda: _fastjson.loads("{" + blob + "}"))


def _apply_delta(state: dict, d: dict) -> dict:
    """Apply one format-2 delta manifest to a reconstructed snapshot
    state, producing the next version's full state (same shape the old
    full-list manifests had, so every reader of ``manifest()`` is
    format-agnostic). Carry-forward rules mirror the old writer:
    txn watermarks accumulate, schema/constraints inherit unless the
    delta sets them, per-file stats follow their file, deletion
    vectors follow their file unless the delta drops or replaces
    them."""
    removed = set(d.get("remove", ()))
    files = [f for f in state["files"] if f not in removed]
    files += list(d.get("add", ()))
    out = {
        "version": d["version"],
        "parent": d["parent"],
        "operation": d["operation"],
        "files": files,
    }
    txn = {**state.get("txn", {}), **d.get("txn_new", {})}
    if txn:
        out["txn"] = txn
    schema = d["schema"] if "schema" in d else state.get("schema")
    if schema:
        out["schema"] = schema
    # protocol floor inherits like the schema; a delta may raise it
    # (never lower — a feature's files stay on disk once written)
    mr = d["min_reader"] if "min_reader" in d else state.get("min_reader")
    if mr:
        out["min_reader"] = mr
    # commit wall-clock (epoch seconds) — per-version, never inherited:
    # the basis of timestamp time travel (version_at_timestamp)
    if d.get("ts") is not None:
        out["ts"] = d["ts"]
    constraints = (
        d["constraints"] if "constraints" in d else state.get("constraints", {})
    )
    if constraints:
        out["constraints"] = constraints
    # physical-layout metadata (bucket key + count) inherits like the
    # schema: set by the commit that (re)declares the layout, carried
    # verbatim otherwise — readers of any version know how its files
    # were bucketed (operators/bucketed_log.py)
    bucket_spec = (
        d["bucket_spec"] if "bucket_spec" in d else state.get("bucket_spec")
    )
    if bucket_spec:
        out["bucket_spec"] = bucket_spec
    fset = set(files)
    base_stats = state.get("stats", {})
    if isinstance(base_stats, _LazyStats):
        # derive without forcing: entries die with their file, so
        # dropping this delta's removals (minus same-delta re-adds,
        # which the eager filter's `f in fset` retains) is equivalent
        # to the keep-surviving filter — but costs O(changed), not a
        # million-entry materialization
        drop = set(d.get("remove", ())) - set(d.get("add", ()))
        out["stats"] = _LazyStats(
            parent=base_stats, drop=drop, overlay=d.get("stats_add")
        )
    else:
        stats = {f: s for f, s in base_stats.items() if f in fset}
        stats.update(d.get("stats_add", {}))
        if stats:
            out["stats"] = stats
    base_dvs = state.get("dvs", {})
    if isinstance(base_dvs, _LazyDvs):
        # derive without forcing (the _LazyStats rule): DV entries die
        # with their file, so restricting to fset == dropping this
        # delta's removals minus same-delta re-adds; dv_drop joins the
        # drop set; the overlay applies after drops in _force, matching
        # the eager order (restrict, pop, set)
        drop = (set(d.get("remove", ())) - set(d.get("add", ()))) | set(
            d.get("dv_drop", ())
        )
        overlay = {
            f: list(lst)
            for f, lst in d.get("dv", {}).items()
            if f in fset and lst
        }
        dvs = _LazyDvs(parent=base_dvs, drop=drop, overlay=overlay)
    else:
        dvs = {
            f: list(v)
            for f, v in base_dvs.items()
            if f in fset
        }
        for f in d.get("dv_drop", ()):
            dvs.pop(f, None)
        for f, lst in d.get("dv", {}).items():
            if f in fset and lst:
                dvs[f] = list(lst)
    if dvs:
        out["dvs"] = dvs
    if d.get("changes") is not None:
        out["changes"] = d["changes"]
    if d.get("added") is not None:
        out["added"] = d["added"]
    if d.get("restore_of") is not None:
        out["restore_of"] = d["restore_of"]
    return out


# full-state checkpoint <-> parquet encoding (Delta's checkpoint-parquet
# pattern, scaled down): one row per table file carrying that file's
# stats + deletion vectors, change/added annotations as typed rows, and
# the table-level scalars (version/schema/constraints/txn/...) in the
# parquet footer's key-value metadata. The win over the JSON checkpoint
# is decode shape at scale: a million-file state is a columnar batch
# read, not a monolithic JSON document parse.

_CKPT_META_KEY = b"snapshot_state"

try:  # ~6x faster parse for the big checkpoint documents; read-side
    import orjson as _fastjson  # only (writes stay stdlib for stable
except ImportError:  # formatting), so logs stay interchangeable
    _fastjson = json


def _ckpt_write_parquet(state: dict, out_path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    stats = state.get("stats", {})
    if isinstance(stats, _LazyStats):
        stats = stats._force()  # checkpoint writes consult every entry
    dvs = state.get("dvs", {})
    kinds: list[str] = []
    paths: list[str] = []
    stats_col: list[str | None] = []
    dv_col: list[list[str] | None] = []
    for f in state["files"]:
        kinds.append("file")
        paths.append(f)
        s = stats.get(f)
        # per-file stats ride as a pre-keyed JSON fragment
        # ('"path":{...}'): their shape is open (min/max pairs,
        # _bytes, _rows, future fields) and the decode then reassembles
        # the whole stats dict with ONE C-speed json.loads over a join
        # of the column — a million tiny per-row parses (or per-row
        # key-quoting) on the read path is what made the naive decode
        # slower than the JSON checkpoint it replaces
        stats_col.append(
            None if s is None else f"{json.dumps(f)}:{json.dumps(s)}"
        )
        dv = dvs.get(f)
        dv_col.append(list(dv) if dv else None)
    for f in state.get("changes") or ():
        kinds.append("change")
        paths.append(f)
        stats_col.append(None)
        dv_col.append(None)
    for f in state.get("added") or ():
        kinds.append("added")
        paths.append(f)
        stats_col.append(None)
        dv_col.append(None)
    meta = {
        k: v
        for k, v in state.items()
        if k not in ("files", "stats", "dvs", "changes", "added")
    }
    # presence vs emptiness matters downstream ([] "changes" is still a
    # change-feed marker; absent means not a delete/merge commit)
    meta["_has"] = {
        "changes": "changes" in state,
        "added": "added" in state,
    }
    tbl = pa.table(
        {
            "kind": pa.array(kinds, pa.string()),
            "path": pa.array(paths, pa.string()),
            "stats": pa.array(stats_col, pa.string()),
            "dv": pa.array(dv_col, pa.list_(pa.string())),
        }
    ).replace_schema_metadata({_CKPT_META_KEY: json.dumps(meta).encode()})
    pq.write_table(tbl, out_path)


def _ckpt_read_parquet(path: str) -> dict:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    meta = json.loads(tbl.schema.metadata[_CKPT_META_KEY].decode())
    has = meta.pop("_has", {})
    kind = tbl.column("kind")
    ftbl = tbl.filter(pc.equal(kind, "file"))
    files = ftbl.column("path").to_pylist()
    # stats: drop nulls, join the pre-keyed fragments, single parse —
    # every row-wise step is an Arrow kernel, only the final loads and
    # the join touch Python-level data. The parse is DEFERRED behind a
    # _LazyStats: the drop_null is a cheap Arrow kernel, but the
    # to_pylist + loads materialize a million Python strings and dicts
    # — a list-only head read never pays that
    frag_arr = pc.drop_null(ftbl.column("stats"))
    stats = (
        _LazyStats(
            thunk=lambda: _fastjson.loads(
                "{" + ",".join(frag_arr.to_pylist()) + "}"
            )
        )
        if len(frag_arr)
        else {}
    )
    # DVs: like stats, the decode is DEFERRED — the Arrow-side non-null
    # count (a kernel, no Python objects) gives exact truthiness for
    # routing reads, and the to_pylist materialization of paths + DV
    # lists only runs when a consumer actually anti-joins/accounts
    # deletion vectors. read_table already decoded + validated the
    # columns, so the deferred conversion cannot fail.
    dmask = pc.is_valid(ftbl.column("dv"))
    n_dv = pc.sum(dmask).as_py() or 0
    if n_dv:
        dtbl = ftbl.filter(dmask)
        dvs = _LazyDvs(
            thunk=lambda: dict(
                zip(
                    dtbl.column("path").to_pylist(),
                    dtbl.column("dv").to_pylist(),
                )
            ),
            count=n_dv,
        )
    else:
        dvs = {}
    changes = tbl.filter(pc.equal(kind, "change")).column("path").to_pylist()
    added = tbl.filter(pc.equal(kind, "added")).column("path").to_pylist()
    state = dict(meta)
    state["files"] = files
    if stats:
        state["stats"] = stats
    if dvs:
        state["dvs"] = dvs
    if has.get("changes"):
        state["changes"] = changes
    if has.get("added"):
        state["added"] = added
    return state


class SnapshotStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        stats_cols: list[str] | None = None,
        checkpoint_interval: int = 20,
        checkpoint_format: str = "json",
    ):
        """``stats_cols``: column names whose per-file min/max are read
        from the parquet footers at stage time and recorded in the
        manifest (Iceberg-style file stats). Readers can then prune
        files from the LOG alone — no footer I/O, the operation that
        dominates listing-scale cost at 100 TB.

        ``checkpoint_format``: ``"json"`` (default) or ``"parquet"``
        (Delta's actual checkpoint encoding). A WRITE-side choice
        only — readers accept either format transparently, so stores
        can switch formats mid-life and mixed-format logs replay
        fine. Measured at a synthetic 1M-file state
        (tools/ckpt_format_bench.py, PERFORMANCE.md §13): parquet is
        ~4.5x smaller (40 vs 178 MB — the object-store GET/storage
        cost that dominates checkpoint reads at 100 TB) and ~1.3x
        faster to write; full-state DECODE is parity (both formats
        bottleneck on materializing the same per-file stats dicts in
        Python, ~6 s/M files), so choose parquet when checkpoints
        travel over a network or storage bills matter."""
        if checkpoint_format not in ("json", "parquet"):
            raise ValueError(
                f"checkpoint_format must be 'json' or 'parquet', "
                f"got {checkpoint_format!r}"
            )
        self.checkpoint_format = checkpoint_format
        self.spark = spark
        self.path = path
        self.stats_cols = tuple(stats_cols or ())
        self._manifest_dir = os.path.join(path, "_manifests")
        self._data_dir = os.path.join(path, "data")
        # full-state checkpoint cadence: every N commits the committer
        # also writes ckpt-v{N}.json so readers reconstruct any
        # snapshot from ≤ (1 checkpoint + interval deltas) file reads
        self.checkpoint_interval = max(1, int(checkpoint_interval))
        # version -> reconstructed state; bounded (immutable per
        # version, so never invalidated — only evicted)
        self._state_cache: dict[int, dict] = {}
        # instrumentation: what the last _state() reconstruction
        # touched — {"version", "checkpoint": v|None, "tail_manifests"}
        self.last_head_read: dict | None = None

    # --- log inspection ---------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifest_dir, f"v{version:08d}.json")

    def latest_version(self) -> int:
        """Head of the log; 0 = empty table (no commits).

        Resolution is hint + forward probe: committers leave a ``_last``
        pointer (best-effort, atomically replaced), so resolving the
        head costs one read plus however many commits landed since the
        hint — not a directory listing. On an object store that is the
        difference between O(1) GETs and a LIST over the whole log
        (Delta's ``_last_checkpoint`` trick). Falls back to the listing
        when no hint exists (old tables, hint never written)."""
        hint_path = os.path.join(self._manifest_dir, "_last")
        v = 0
        try:
            with open(hint_path) as fh:
                v = int(json.load(fh)["version"])
        except (OSError, ValueError, KeyError):
            if not os.path.isdir(self._manifest_dir):
                return 0
            versions = [
                int(os.path.basename(p)[1:-5])
                for p in glob.glob(os.path.join(self._manifest_dir, "v*.json"))
            ]
            return max(versions, default=0)
        # the hint may lag (it's written after the CAS, and a writer can
        # die in between): probe forward to the true head
        while os.path.exists(self._manifest_path(v + 1)):
            v += 1
        return v

    def _write_head_hint(self, version: int) -> None:
        tmp = os.path.join(self._manifest_dir, f"_last.{uuid.uuid4().hex[:8]}")
        try:
            with open(tmp, "w") as fh:
                json.dump({"version": version}, fh)
            os.replace(tmp, os.path.join(self._manifest_dir, "_last"))
        except OSError:  # best-effort: readers fall back to probing
            pass

    def _ckpt_path(self, version: int) -> str:
        return os.path.join(self._manifest_dir, f"ckpt-v{version:08d}.json")

    def _ckpt_parquet_path(self, version: int) -> str:
        return os.path.join(
            self._manifest_dir, f"ckpt-v{version:08d}.parquet"
        )

    def _read_checkpoint(self, version: int) -> dict | None:
        """Load the full-state checkpoint at ``version`` in whichever
        format exists (read side is format-agnostic — the configured
        ``checkpoint_format`` only governs writes, so mixed-format
        logs and mid-life format switches replay fine).

        A checkpoint that exists but fails to DECODE (torn write that
        survived a crash, bit rot, truncated copy) is treated exactly
        like a missing one: checkpoints are derived caches and the
        delta manifests remain the ground truth, so the only correct
        response is a longer walk — never a failed read, and never
        trusting partial content."""
        pp = self._ckpt_parquet_path(version)
        if os.path.exists(pp):
            try:
                return _ckpt_read_parquet(pp)
            except (ValueError, KeyError, OSError):
                pass  # ArrowInvalid/short file -> fall through
        jp = self._ckpt_path(version)
        if os.path.exists(jp):
            try:
                with open(jp, "rb") as fh:
                    doc = _fastjson.loads(fh.read())
                blob = doc.pop("stats_blob", None)
                if blob:
                    doc["stats"] = _stats_blob_lazy(blob)
                return doc
            except (ValueError, KeyError, OSError):
                pass
        return None

    def _cache_put(self, version: int, state: dict) -> None:
        if len(self._state_cache) >= 64:
            self._state_cache.pop(next(iter(self._state_cache)))
        self._state_cache[version] = state

    def _state(self, v: int) -> dict:
        """Reconstruct the full snapshot state of version ``v``: walk
        back from ``v`` until a cached state, a checkpoint file, or a
        legacy full-list manifest (format 1 is its own checkpoint),
        then replay the collected delta tail forward. Bounded by the
        checkpoint cadence: ≤ 1 checkpoint read + ``interval`` delta
        reads regardless of table size or commit count."""
        if v == 0:
            return _empty_state()
        cached = self._state_cache.get(v)
        if cached is not None:
            self.last_head_read = {
                "version": v, "checkpoint": None, "tail_manifests": 0,
            }
            return cached
        chain: list[dict] = []
        base: dict | None = None
        ckpt_used: int | None = None
        tail = 0
        cur = v
        while cur > 0:
            hit = self._state_cache.get(cur)
            if hit is not None:
                base = hit
                break
            ck = self._read_checkpoint(cur)
            if ck is not None:
                base = ck
                ckpt_used = cur
                break
            with open(self._manifest_path(cur)) as fh:
                m = json.load(fh)
            tail += 1
            if "files" in m:  # legacy full manifest: self-checkpointing
                base = m
                break
            chain.append(m)
            cur -= 1
        state = base if base is not None else _empty_state()
        for d in reversed(chain):
            state = _apply_delta(state, d)
        mr = state.get("min_reader") or 2
        if mr > READER_VERSION:
            raise RuntimeError(
                f"table at {self.path!r} requires reader protocol "
                f"{mr}, this reader implements {READER_VERSION} — "
                "upgrade before reading (refusing beats silently "
                "misreading a feature this reader does not know)"
            )
        self._cache_put(v, state)
        self.last_head_read = {
            "version": v, "checkpoint": ckpt_used, "tail_manifests": tail,
        }
        return state

    def _write_checkpoint(self, version: int, state: dict) -> None:
        """Best-effort full-state checkpoint (readers never REQUIRE
        one — a missing/failed checkpoint just lengthens the delta
        walk). Atomic content via temp + rename; only the committer of
        ``version`` writes it, so there is no write race."""
        tmp = os.path.join(
            self._manifest_dir, f"_ckpt_staging.{uuid.uuid4().hex[:12]}"
        )
        try:
            if self.checkpoint_format == "parquet":
                _ckpt_write_parquet(state, tmp)
                os.replace(tmp, self._ckpt_parquet_path(version))
            else:
                # stats ride as ONE pre-joined blob of pre-keyed
                # fragments ('"path":{...},...'): decoding the
                # checkpoint then allocates a single string for all
                # stats instead of a million dicts, and _read_checkpoint
                # re-keys it lazily (same deferred shape as the parquet
                # column). Legacy checkpoints with an inline "stats"
                # dict still read fine.
                doc = {k: v for k, v in state.items() if k != "stats"}
                blob = _stats_blob_encode(state.get("stats", {}))
                if blob:
                    doc["stats_blob"] = blob
                if isinstance(doc.get("dvs"), _LazyDvs):
                    # JSON serialization needs the plain dict; a
                    # checkpoint write consults every entry anyway
                    doc["dvs"] = doc["dvs"]._force()
                with open(tmp, "w") as fh:
                    json.dump(doc, fh)
                os.replace(tmp, self._ckpt_path(version))
        except Exception:
            # best-effort means best-effort for EVERY failure mode: the
            # parquet path can raise non-OSError (pyarrow ArrowInvalid
            # is a ValueError, ArrowTypeError a TypeError, ImportError
            # if pyarrow is absent), and append() has already committed
            # the manifest by the time this runs — a checkpoint failure
            # must never propagate out of a successful commit
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def version_at_timestamp(self, ts: float) -> int:
        """The newest version committed AT OR BEFORE epoch-seconds
        ``ts`` (Delta's ``TIMESTAMP AS OF``): one cheap raw-manifest
        walk reading only each delta's ``ts`` stamp — no state
        reconstruction. Commit stamps are forced monotonic per log at
        write time (a stepped-back clock cannot reorder them), so the
        walk's answer is unambiguous. Manifests from before the stamp
        existed fall back to the manifest file's mtime; versions pruned
        from the log are skipped (their time travel is gone by
        contract). Raises when ``ts`` predates the oldest retained
        commit."""
        return _version_at_timestamp_walk(
            self.latest_version(), self._manifest_path, ts
        )

    def manifest(self, version: int | None = None) -> dict:
        v = self.latest_version() if version is None else version
        if v == 0:
            return _empty_state()
        state = self._state(v)
        # shallow-protect the cached state: callers may extend the top
        # level / the files list; nested dicts are treated read-only
        # by every writer path (they copy before mutating)
        return {**state, "files": list(state["files"])}

    def history(self, counts: bool = False) -> list[dict]:
        """Every retained manifest, oldest first (op, version, counts).
        Versions pruned from the log (vacuum ``prune_log=True``) are
        skipped — their time travel is gone by design.

        Cost shape (round 10): ONE bounded state reconstruction for the
        oldest retained version, then a single forward walk over the
        raw delta manifests accumulating ``n_files += adds - removes``
        — O(versions) small JSON parses + O(files) once, instead of a
        full state materialization PER VERSION (O(versions x files),
        which thrashed the 64-entry state cache on long logs). Legacy
        full-list manifests reset the count from their own file list,
        so mixed-format logs walk identically.

        ``counts=True`` (round 11) stamps each entry's exact row count
        (``rows``) in the SAME walk, instead of running
        :meth:`count_rows` per version (which re-reconstructed state
        and re-read every live DV parquet for every version —
        O(versions x files) on long logs): a running per-file
        ``_rows`` map and a live deletion-vector tally are updated
        delta by delta (O(changed files) per version), each DV parquet
        is read at most ONCE across the whole walk (its per-file
        position counts are cached), and legacy files without stats
        cost one footer read each, also once. ``rows`` is None for
        versions whose count is unknowable — a live file's footer or a
        live DV parquet was reclaimed by vacuum — and recovers
        automatically once the unreadable object's last reference
        leaves the state; the per-version accounting matches
        :meth:`count_rows` exactly (pinned in
        tests/test_snapshot_checkpoint.py)."""
        import pyarrow.parquet as pq

        head = self.latest_version()
        out = []
        n_files: int | None = None  # None = needs a base reconstruction
        # --- counts-walk running state (all no-ops when counts=False)
        file_rows: dict[str, int | None] = {}  # live file -> _rows
        live_dvs: dict[str, list[str]] = {}  # live file -> DV parquets
        dv_counts: dict[str, dict[str, int] | None] = {}  # DV -> per-file
        rows_sum = 0  # sum of _rows over live files with known counts
        dv_sub = 0  # live deleted positions with known counts
        unknown = 0  # live refs whose number is unreadable (vacuumed)
        based = False  # running count state anchored to a real state?

        def _dv_per_file(p: str) -> dict[str, int] | None:
            # one read per DV parquet EVER: (file -> deleted positions)
            if p not in dv_counts:
                try:
                    col = pq.read_table(
                        os.path.join(self.path, p), columns=["_file"]
                    ).column(0)
                except (FileNotFoundError, OSError):
                    dv_counts[p] = None
                else:
                    cnt: dict[str, int] = {}
                    for f in col.to_pylist():
                        cnt[f] = cnt.get(f, 0) + 1
                    dv_counts[p] = cnt
            return dv_counts[p]

        def _set_dvs(f: str, paths) -> None:
            # replace file f's live DV reference list (None/[] = none) —
            # the _apply_delta rule: a delta's dv entry replaces
            # wholesale, dvs die with their file
            nonlocal dv_sub, unknown
            for p in live_dvs.pop(f, ()):
                per = dv_counts.get(p)  # loaded when the ref was added
                if per is None:
                    unknown -= 1
                else:
                    dv_sub -= per.get(f, 0)
            if paths:
                live_dvs[f] = list(paths)
                for p in paths:
                    per = _dv_per_file(p)
                    if per is None:
                        unknown += 1
                    else:
                        dv_sub += per.get(f, 0)

        def _add_file(f: str, stats_entry) -> None:
            nonlocal rows_sum, unknown
            n = (stats_entry or {}).get("_rows")
            if n is None:  # legacy file: one footer read, once ever
                try:
                    n = pq.ParquetFile(
                        os.path.join(self.path, f)
                    ).metadata.num_rows
                except (FileNotFoundError, OSError):
                    n = None
            file_rows[f] = n
            if n is None:
                unknown += 1
            else:
                rows_sum += n

        def _drop_file(f: str) -> None:
            nonlocal rows_sum, unknown
            n = file_rows.pop(f, 0)
            if n is None:
                unknown -= 1
            else:
                rows_sum -= n
            _set_dvs(f, None)

        def _rebase(state: dict) -> None:
            nonlocal rows_sum, dv_sub, unknown, based
            file_rows.clear()
            live_dvs.clear()
            rows_sum = dv_sub = unknown = 0
            stats = state.get("stats", {})
            for f in state["files"]:
                _add_file(f, stats.get(f))
            for f, lst in (state.get("dvs") or {}).items():
                if f in file_rows:
                    _set_dvs(f, lst)
            based = True

        for v in range(1, head + 1):
            try:
                with open(self._manifest_path(v)) as fh:
                    m = json.load(fh)
            except FileNotFoundError:
                # pruned prefix — or an interrupted prune's mid-log
                # hole: either way the running count is no longer
                # derivable from deltas alone; re-base at the next
                # reconstructible version
                n_files = None
                based = False
                continue
            if "files" in m:  # legacy full manifest: authoritative list
                n_files = len(m["files"])
                if counts:
                    _rebase(m)
            elif n_files is None:
                try:
                    state = self._state(v)
                except (FileNotFoundError, KeyError):
                    # not reconstructible (no checkpoint at-or-below,
                    # base manifests gone): list what we can, like the
                    # old per-version walk did
                    continue
                n_files = len(state["files"])
                if counts:
                    _rebase(state)
            else:
                n_files += len(m.get("add", ())) - len(m.get("remove", ()))
                if counts:
                    # format-2 writer guarantees add/remove disjoint,
                    # so drop-then-add ordering is safe; dv entries may
                    # reference files added in this same delta, so DV
                    # bookkeeping runs last
                    stats_add = m.get("stats_add", {})
                    for f in m.get("remove", ()):
                        _drop_file(f)
                    for f in m.get("add", ()):
                        _add_file(f, stats_add.get(f))
                    for f in m.get("dv_drop", ()):
                        _set_dvs(f, None)
                    for f, lst in m.get("dv", {}).items():
                        # empty list = no-op, unknown file = no-op
                        # (mirrors _apply_delta's `f in fset and lst`)
                        if lst and f in file_rows:
                            _set_dvs(f, lst)
            entry = {
                "version": m["version"],
                "parent": m["parent"],
                "operation": m["operation"],
                "n_files": n_files,
            }
            if m.get("ts") is not None:
                # commit wall-clock — what version_at_timestamp resolves
                entry["ts"] = m["ts"]
            if counts:
                entry["rows"] = (
                    rows_sum - dv_sub if based and unknown == 0 else None
                )
            out.append(entry)
        return out

    # --- schema helpers ---------------------------------------------------

    _INT_WIDTH = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}

    @classmethod
    def _widens(cls, frm: str, to: str) -> bool:
        """Whether reading ``frm``-typed parquet under a ``to`` read
        schema is LOSSLESS and supported by Spark's vectorized reader
        (verified on Spark 4): the integer chain, float->double, and
        decimal precision growth at the SAME scale. This is the safe
        subset of Delta's type widening — scale changes and
        cross-family casts (int->double) change values or semantics
        and stay refused."""
        if frm == to:
            return False
        iw = cls._INT_WIDTH
        if frm in iw and to in iw:
            return iw[frm] < iw[to]
        if frm == "float" and to == "double":
            return True
        if frm.startswith("decimal(") and to.startswith("decimal("):
            p1, s1 = map(int, frm[8:-1].split(","))
            p2, s2 = map(int, to[8:-1].split(","))
            return s1 == s2 and p2 > p1
        return False

    @staticmethod
    def _ddl(schema_pairs: list) -> str:
        return ", ".join(
            f"`{n.replace('`', '``')}` {t}" for n, t in schema_pairs
        )

    def _read_files(
        self, files: list[str], manifest: dict, extra_cols=()
    ) -> DataFrame:
        """Read exactly ``files`` under the table's MANIFEST schema.
        Passing the explicit schema (Delta's metadata-is-truth rule)
        does two things at once: Spark skips footer schema inference
        at plan time (no per-file metadata I/O — the listing-scale
        cost at 100 TB), and files written BEFORE an add-column schema
        evolution read back with NULL for the missing columns instead
        of poisoning the scan with a mixed-footer union.

        ``extra_cols``: extra Column expressions (``_metadata``-derived
        identity columns) selected beside the data columns, directly
        over the scan — hidden metadata columns resolve only against
        the scan output."""
        paths = [os.path.join(self.path, f) for f in files]
        reader = self.spark.read
        schema = manifest.get("schema")
        if schema:
            reader = reader.schema(self._ddl(schema))
        df = reader.parquet(*paths)
        if not extra_cols:
            return df
        return df.select(F.col("*"), *extra_cols)

    def _rel_file_col(self):
        """The scan's ``_metadata.file_path`` (``file:/abs/...``) as the
        manifest-relative path — the join key of the deletion-vector
        protocol. Pure string arithmetic on a constant prefix."""
        prefix = "file:" + os.path.abspath(self.path) + os.sep
        return F.expr(
            f"substr(_metadata.file_path, {len(prefix) + 1})"
        )

    def _with_positions(self, files: list[str], manifest: dict) -> DataFrame:
        """Read ``files`` with row identity: data columns plus ``_file``
        (manifest-relative) and ``_pos`` (parquet row index). Row index
        is the scan's ``_metadata.row_index`` — stable per immutable
        file, no stored id column needed."""
        return self._read_files(
            files,
            manifest,
            extra_cols=(
                self._rel_file_col().alias("_file"),
                F.col("_metadata.row_index").alias("_pos"),
            ),
        )

    def _read_files_live(
        self,
        files: list[str],
        manifest: dict,
        with_file_col: str | None = None,
    ) -> DataFrame:
        """Read ``files`` with the manifest's deletion vectors applied:
        a LEFT ANTI join of (file, row position) against the (small,
        broadcast) union of DV files for exactly these data files. When
        no DV touches the requested files this is ``_read_files``
        verbatim — zero overhead on the fast path.

        ``with_file_col``: also emit the manifest-RELATIVE source file
        path under this name. Callers needing per-file bookkeeping
        (delete/merge rewrite sets) must use this instead of
        ``input_file_name()``, which is not defined across the DV
        anti-join."""
        dvs = manifest.get("dvs", {})
        ent = {f: dvs[f] for f in files if f in dvs}
        if not ent:
            extra = (
                (self._rel_file_col().alias(with_file_col),)
                if with_file_col
                else ()
            )
            return self._read_files(files, manifest, extra_cols=extra)
        dv_paths = sorted({p for lst in ent.values() for p in lst})
        dv = self.spark.read.schema("_file string, _pos bigint").parquet(
            *[os.path.join(self.path, p) for p in dv_paths]
        )
        keyed = self._with_positions(files, manifest)
        data_cols = [c for c in keyed.columns if c not in ("_file", "_pos")]
        live = keyed.join(F.broadcast(dv), ["_file", "_pos"], "left_anti")
        if with_file_col:
            return live.select(
                *data_cols, F.col("_file").alias(with_file_col)
            )
        return live.select(*data_cols)

    @staticmethod
    def _conform(df: DataFrame, schema_pairs: list) -> DataFrame:
        """Project ``df`` to exactly the evolved schema: existing
        columns pass through, columns the frame lacks become typed
        NULLs (the add-column evolution contract). No implicit casts:
        a retyped column must be refused by the caller's own guard,
        not silently coerced here (append's WIDENING path casts
        explicitly, and only along the lossless _widens lattice)."""
        cols = [
            F.col(f"`{n}`") if n in df.columns
            else F.lit(None).cast(t).alias(n)
            for n, t in schema_pairs
        ]
        return df.select(*cols)

    # --- writes -----------------------------------------------------------

    def _write_stage_files(self, df: DataFrame, commit_dir: str) -> None:
        """Physically write a commit's data files. Subclasses override
        to impose a layout (BucketedSnapshotStore writes through
        Spark's bucketBy so EVERY commit — append, compact rewrite,
        delete survivor — keeps the bucketed file naming); the staging
        pipeline around it (zero-row filter, constraints, stats,
        relative paths) is layout-agnostic."""
        df.write.parquet(commit_dir)

    def _stage(self, df: DataFrame, allow_schema_change: bool = False) -> list[str]:
        # schema guard: an append whose columns drift from the committed
        # schema would silently corrupt every future multi-file read —
        # refuse it at stage time. overwrite() opts out (a full replace
        # MAY evolve the schema; the manifest records the new one).
        head = self.manifest()
        committed = head.get("schema")
        incoming = [[f.name, f.dataType.simpleString()] for f in df.schema]
        if (
            not allow_schema_change
            and committed is not None
            and incoming != committed
        ):
            raise ValueError(
                f"schema mismatch: table has {committed}, append has "
                f"{incoming} — use overwrite() for schema changes"
            )
        self._pending_schema = incoming
        token = uuid.uuid4().hex[:12]
        commit_dir = os.path.join(self._data_dir, f"commit-{token}")
        self._write_stage_files(df, commit_dir)
        files = sorted(
            glob.glob(os.path.join(commit_dir, "*.parquet"))
            + glob.glob(os.path.join(commit_dir, "**", "*.parquet"))
        )
        # zero-row part files (empty upstream partitions) carry no data
        # and no stats — referencing them would defeat stats pruning and
        # metadata-only retention, so they never enter the manifest.
        # Row counts captured in the same footer read ride the manifest
        # as per-file `_rows` (Iceberg's record_count): count_rows()
        # then answers COUNT(*) from metadata alone.
        import pyarrow.parquet as pq

        md_of = {f: pq.ParquetFile(f).metadata for f in files}
        rows_of = {f: md_of[f].num_rows for f in files}
        files = [f for f in files if rows_of[f] > 0]
        # CHECK constraints (Delta's table constraints): enforced on the
        # just-written staged files (page-cache warm, and avoids
        # recomputing a possibly-expensive input frame). SQL CHECK
        # semantics: NULL passes, only an explicit FALSE violates. On
        # violation the staged dir is deleted and the commit never
        # happens — the table is unchanged.
        constraints = dict(self.manifest().get("constraints", {}))
        constraints.update(getattr(self, "_pending_constraints", None) or {})
        self._staged_constraints = constraints
        if constraints and files:
            staged_df = self.spark.read.parquet(*files)
            for cname, expr in constraints.items():
                bad = staged_df.filter(
                    F.coalesce(F.expr(expr), F.lit(True)) == F.lit(False)
                )
                n_bad = bad.count()
                if n_bad:
                    example = bad.limit(1).collect()[0].asDict()
                    shutil.rmtree(commit_dir, ignore_errors=True)
                    raise ConstraintViolation(
                        f"constraint {cname!r} ({expr}) violated by "
                        f"{n_bad} staged row(s), e.g. {example} — "
                        "commit refused, table unchanged"
                    )
        # store paths relative to the table root so the table can move
        rel = [os.path.relpath(f, self.path) for f in files]
        self._pending_stats = (
            {
                r: self._footer_stats(f, md=md_of[f])
                for r, f in zip(rel, files)
            }
            if self.stats_cols
            else {r: {} for r in rel}
        )
        # per-file byte size always rides the manifest: the bin-packing
        # partial compact selects its rewrite set from the LOG alone
        # (no per-file HEAD/stat calls at maintenance time)
        for r, f in zip(rel, files):
            self._pending_stats[r]["_bytes"] = os.path.getsize(f)
            self._pending_stats[r]["_rows"] = rows_of[f]
        return rel

    def _footer_stats(self, path: str, md=None) -> dict:
        """Per-file [min, max] for each stats col, from parquet footer
        metadata (no data read). A col missing stats is omitted —
        readers treat that as "may contain anything". ``md`` reuses an
        already-opened footer (the stage path opens each file's footer
        once for the zero-row filter/_rows capture — no second open)."""
        import pyarrow.parquet as pq

        if md is None:
            md = pq.ParquetFile(path).metadata
        idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        out: dict = {}
        for col in self.stats_cols:
            if col not in idx:
                continue
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    mins = []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if mins:
                lo, hi = min(mins), max(maxs)
                if all(isinstance(v, (int, float, str, bool)) for v in (lo, hi)):
                    out[col] = [lo, hi]
        return out

    def pruned_files(
        self,
        ranges: dict[str, tuple],
        version: int | None = None,
    ) -> list[str]:
        """Relative paths of the snapshot's files that MAY satisfy
        ``ranges`` ({col: (lo, hi)}, None bound = unbounded; equality =
        (v, v)) — decided from manifest stats alone, zero I/O. A file
        lacking stats for a constrained col is conservatively kept."""
        m = self.manifest(version)
        stats = m.get("stats", {})
        keep = []
        for f in m["files"]:
            fs = stats.get(f, {})
            for col, (lo, hi) in ranges.items():
                if col not in fs:
                    continue
                fmin, fmax = fs[col]
                if (lo is not None and fmax < lo) or (
                    hi is not None and fmin > hi
                ):
                    break
            else:
                keep.append(f)
        return keep

    def _try_commit(
        self,
        base_version: int,
        files: list[str],
        operation: str,
        txn: tuple[str, int] | list[tuple[str, int]] | None = None,
        changes: list[str] | None = None,
        added: list[str] | None = None,
        dvs: dict[str, list[str]] | None = None,
        extra: dict | None = None,
    ) -> bool:
        version = base_version + 1
        base = self._state(base_version) if base_version else _empty_state()
        base_fset = set(base["files"])
        new_fset = set(files)
        # the commit manifest records the DELTA only — O(changed files)
        # per commit write, not O(table files); readers reconstruct
        # via checkpoint + tail (see _state)
        delta: dict = {
            "format": 2,
            "version": version,
            "parent": base_version,
            "operation": operation,
            "add": [f for f in files if f not in base_fset],
            "remove": [f for f in base["files"] if f not in new_fset],
        }
        # txn watermarks set by THIS commit (Delta's SetTransaction);
        # carry-forward is the reconstruction's job. A list stamps
        # several (app_id, batch) watermarks atomically in one commit.
        txn_new = {
            app: batch
            for app, batch in (
                [txn] if isinstance(txn, tuple) else (txn or [])
            )
        }
        if txn_new:
            delta["txn_new"] = txn_new
        schema = getattr(self, "_pending_schema", None) or base.get("schema")
        if schema != base.get("schema"):
            delta["schema"] = schema
        # commit wall-clock for timestamp time travel; monotonic
        # per-log by construction (max with the base's stamp) so a
        # clock step back cannot make version_at_timestamp ambiguous
        import time as _time

        delta["ts"] = max(
            _time.time(), (base.get("ts") or 0.0) + 1e-3
        )
        constraints = getattr(self, "_pending_constraints", None)
        if constraints is not None and constraints != base.get(
            "constraints", {}
        ):
            delta["constraints"] = constraints
        bucket_spec = getattr(self, "_pending_bucket_spec", None)
        if bucket_spec is not None and bucket_spec != base.get(
            "bucket_spec"
        ):
            delta["bucket_spec"] = bucket_spec
        # per-file stats ride with the files they describe:
        # only the staged (added) files' entries are written; retained
        # files keep theirs through reconstruction
        pending_stats = getattr(self, "_pending_stats", {})
        stats_add = {
            f: pending_stats[f] for f in delta["add"] if f in pending_stats
        }
        if stats_add:
            delta["stats_add"] = stats_add
        if extra:
            # operation-specific annotations carried verbatim into the
            # reconstructed state (e.g. restore's target version)
            delta.update(extra)
        if changes is not None:
            # row-level change files of a delete/merge commit (the
            # removed row versions), consumed by read_row_changes
            delta["changes"] = changes
        if added is not None:
            # files whose rows are NEW in a merge commit (updates +
            # inserts) — the +1 side of the row feed; survivor-rewrite
            # files are explicitly not in this list
            delta["added"] = added
        # deletion vectors: {data file -> [dv parquet files]} of row
        # positions logically deleted from that file (merge-on-read).
        # dvs=None carries the base's vectors forward RESTRICTED to
        # files still present (reconstruction's default — nothing to
        # write); an explicit dict records only the entries that
        # differ from the base, plus drops for retained files whose
        # vectors disappear (dvs={} clears all).
        if dvs is not None:
            base_dvs = base.get("dvs", {})
            live_dvs = {
                f: v for f, v in dvs.items() if f in new_fset and v
            }
            dv_delta = {
                f: v
                for f, v in live_dvs.items()
                if base_dvs.get(f) != v
            }
            dv_drop = [
                f
                for f in base_dvs
                if f in new_fset and f not in live_dvs
            ]
            if dv_delta:
                delta["dv"] = dv_delta
            if dv_drop:
                delta["dv_drop"] = dv_drop
        os.makedirs(self._manifest_dir, exist_ok=True)
        # write the full content to a temp file, then hard-link it into
        # place: os.link fails with FileExistsError when the target
        # exists (the atomic compare-and-swap of the log) AND the
        # manifest appears to readers only with complete content — a
        # bare open("x") + dump let a concurrent reader (e.g. the
        # _last forward probe) see the file mid-write and crash on
        # partial JSON
        tmp = os.path.join(
            self._manifest_dir, f"_staging.{uuid.uuid4().hex[:12]}"
        )
        with open(tmp, "w") as fh:
            json.dump(delta, fh)
        try:
            os.link(tmp, self._manifest_path(version))
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        # the committer already holds base state + delta: cache the new
        # head state and, on cadence, persist it as the checkpoint that
        # bounds every future reader's reconstruction walk
        state = _apply_delta(base, delta)
        self._cache_put(version, state)
        if version % self.checkpoint_interval == 0:
            self._write_checkpoint(version, state)
        self._write_head_hint(version)
        return True

    def last_txn(self, app_id: str) -> int | None:
        """Highest batch id committed by ``app_id`` (None = never)."""
        return self.manifest().get("txn", {}).get(app_id)

    def append(
        self,
        df: DataFrame,
        max_retries: int = 10,
        txn: tuple[str, int] | None = None,
        merge_schema: bool = False,
    ) -> int | None:
        """Atomic append; returns the committed version. Loser of a
        concurrent race rebases onto the winner's manifest and retries —
        staged data files are immutable and reused across retries.

        ``txn=(app_id, batch_id)`` makes the append IDEMPOTENT per
        writer: a batch id at or below the app's last committed one is
        skipped (returns None) — re-delivered foreachBatch micro-batches
        commit exactly once, checked under the same CAS that orders the
        commits (no window between check and commit).

        ``merge_schema=True`` permits ADD-COLUMN appends (Delta's
        mergeSchema): extra df columns append to the committed schema,
        existing files read back with NULL in them, and the df may
        itself omit committed columns (NULL-filled). It also permits
        TYPE WIDENING along the lossless lattice (``_widens``:
        tinyint<smallint<int<bigint, float<double, decimal precision
        growth at fixed scale — Delta's type-widening feature): an
        append carrying a WIDER type widens the committed column (old
        files read back upcast under the manifest schema — Spark's
        parquet reader upcasts losslessly, verified on Spark 4), and
        an append carrying a NARROWER type is upcast to the committed
        one (no schema change). Dropping a column, changing decimal
        scale, or any cross-family retype still refuses."""
        if txn is not None:
            last = self.last_txn(txn[0])
            if last is not None and txn[1] <= last:
                return None
        committed = self.manifest().get("schema")
        evolving = False
        if merge_schema and committed is not None:
            incoming = [
                [f.name, f.dataType.simpleString()] for f in df.schema
            ]
            names = {n for n, _ in incoming}
            widened: dict[str, str] = {}  # col -> new (wider) type
            upcast: dict[str, str] = {}  # col -> committed (wider) type
            bucket_key = (self.manifest().get("bucket_spec") or {}).get(
                "col"
            )
            for n, t in committed:
                if n in names and dict(incoming)[n] != t:
                    it = dict(incoming)[n]
                    if self._widens(t, it):
                        if n == bucket_key:
                            # murmur3(int) != murmur3(long) for the
                            # same value: widening the bucket key would
                            # route new files by a DIFFERENT hash while
                            # the manifest still declares one layout —
                            # the silent-wrong-joins corruption the
                            # rebucket() guard exists to prevent
                            raise ValueError(
                                f"cannot widen bucket key {n!r} "
                                f"({t} -> {it}): the hash layout is "
                                "type-dependent — rebucket() to the "
                                "wider type instead"
                            )
                        widened[n] = it
                    elif self._widens(it, t):
                        upcast[n] = t
                    else:
                        raise ValueError(
                            f"merge_schema cannot retype column {n!r}: "
                            f"table has {t}, append has {it} (only "
                            "lossless widening is allowed)"
                        )
            extra = [
                [n, t] for n, t in incoming
                if n not in {c for c, _ in committed}
            ]
            if (
                extra
                or widened
                or upcast
                or names < {n for n, _ in committed}
            ):
                out_schema = [
                    [n, widened.get(n, t)] for n, t in committed
                ] + extra
                if upcast:
                    # lossless by the lattice check; explicit so
                    # _conform never has to coerce anything itself
                    df = df.select(
                        *[
                            F.col(f"`{c}`").cast(upcast[c]).alias(c)
                            if c in upcast
                            else F.col(f"`{c}`")
                            for c in df.columns
                        ]
                    )
                df = self._conform(df, out_schema)
                evolving = bool(extra) or bool(widened)
        new_files = self._stage(df, allow_schema_change=evolving)
        staged_schema = self._pending_schema
        for _ in range(max_retries):
            base = self.latest_version()
            if txn is not None:
                last = self.manifest(base).get("txn", {}).get(txn[0])
                if last is not None and txn[1] <= last:
                    return None  # another attempt of this batch already won
            head_manifest = self.manifest(base)
            # metadata-conflict check on rebase (Delta's): the schema
            # guard in _stage ran against the head at STAGE time — if a
            # concurrent overwrite() evolved the table schema before this
            # retry wins the CAS, blindly committing would union
            # old-schema and new-schema files and stamp the manifest with
            # the stale schema. Surface the conflict instead. An
            # evolving append expects the head to still carry the schema
            # it evolved FROM.
            head_schema = head_manifest.get("schema")
            expected = committed if evolving else staged_schema
            if head_schema is not None and head_schema != expected:
                raise CommitConflict(
                    f"table schema changed concurrently: head has "
                    f"{head_schema}, staged append expects {expected} — "
                    f"re-read and re-append"
                )
            # same rule for CHECK constraints: _stage validated against
            # the constraint set at STAGE time; a constraint added
            # concurrently was never checked on these rows, so blindly
            # committing could violate it. Surface the conflict (the
            # caller re-appends, which re-validates).
            head_constraints = head_manifest.get("constraints", {})
            if set(head_constraints.items()) - set(
                getattr(self, "_staged_constraints", {}).items()
            ):
                raise CommitConflict(
                    "table constraints changed concurrently — re-append "
                    "to validate against the new constraint set"
                )
            merged = head_manifest["files"] + new_files
            if self._try_commit(base, merged, "append", txn=txn):
                return base + 1
        raise CommitConflict(f"append lost the CAS race {max_retries} times")

    def overwrite(
        self,
        df: DataFrame,
        max_retries: int = 10,
        txn: tuple[str, int] | list[tuple[str, int]] | None = None,
    ) -> int | None:
        """Atomic full replace (the snapshot references ONLY the new
        files; history still reaches the old ones until vacuum). The
        one operation allowed to change the table schema.

        ``txn=(app_id, batch_id)`` gives overwrite the same exactly-
        once contract as append — the incremental-view refresher
        (operators/incremental.py) stamps each state rewrite with the
        source version it reflects, so a crashed-and-retried refresh
        is recognized from the log and skipped (returns None). A LIST
        of (app_id, batch_id) pairs stamps several watermarks in one
        commit (a join view tracks one per source); the write is
        skipped only when EVERY pair was already applied."""
        txns = (
            [txn] if isinstance(txn, tuple) else list(txn or [])
        )

        def _already_applied(manifest_txn: dict) -> bool:
            return bool(txns) and all(
                manifest_txn.get(app) is not None
                and batch <= manifest_txn[app]
                for app, batch in txns
            )

        if _already_applied(self.manifest().get("txn", {})):
            return None
        new_files = self._stage(df, allow_schema_change=True)
        for _ in range(max_retries):
            base = self.latest_version()
            if _already_applied(self.manifest(base).get("txn", {})):
                return None
            if self._try_commit(base, new_files, "overwrite", txn=txns):
                return base + 1
        raise CommitConflict(f"overwrite lost the CAS race {max_retries} times")

    # --- table constraints (Delta-style CHECK) ----------------------------

    def add_constraint(
        self, name: str, expr: str, max_retries: int = 10
    ) -> int:
        """Add a CHECK constraint to the table metadata in one atomic
        commit (operation 'metadata', row-preserving). Existing rows
        are validated FIRST — a constraint the current table violates
        is refused, so a committed constraint is an invariant over the
        table's whole live history from its version onward. Every
        writer (this instance or any other process) then enforces it
        at stage time via the manifest — constraints travel with the
        TABLE, not the writer. NULL passes (SQL CHECK semantics)."""
        # metadata-only commit: never carry a schema pending a FAILED
        # earlier stage may have left on this instance (a lost
        # evolving append must not stamp its schema via a constraint)
        self._pending_schema = None
        live = self.read()
        bad = live.filter(
            F.coalesce(F.expr(expr), F.lit(True)) == F.lit(False)
        )
        n_bad = bad.count()
        if n_bad:
            example = bad.limit(1).collect()[0].asDict()
            raise ConstraintViolation(
                f"cannot add constraint {name!r} ({expr}): {n_bad} "
                f"existing row(s) violate it, e.g. {example}"
            )
        for _ in range(max_retries):
            base = self.latest_version()
            m = self.manifest(base)
            merged = dict(m.get("constraints", {}))
            merged[name] = expr
            self._pending_constraints = merged
            try:
                if self._try_commit(base, m["files"], "metadata"):
                    return base + 1
            finally:
                del self._pending_constraints
        raise CommitConflict(
            f"add_constraint lost the CAS race {max_retries} times"
        )

    def drop_constraint(self, name: str, max_retries: int = 10) -> int:
        """Remove a CHECK constraint (metadata-only commit)."""
        self._pending_schema = None
        for _ in range(max_retries):
            base = self.latest_version()
            m = self.manifest(base)
            merged = dict(m.get("constraints", {}))
            merged.pop(name, None)
            self._pending_constraints = merged
            try:
                if self._try_commit(base, m["files"], "metadata"):
                    return base + 1
            finally:
                del self._pending_constraints
        raise CommitConflict(
            f"drop_constraint lost the CAS race {max_retries} times"
        )

    def delete_where(
        self,
        condition,
        max_retries: int = 10,
        prune: dict[str, tuple] | None = None,
    ) -> tuple[int | None, int]:
        """Row-level ``DELETE ... WHERE`` in ONE atomic commit
        (Delta-style copy-on-write): only files that CONTAIN matching
        rows are rewritten without them; untouched files carry over by
        reference. The removed rows are persisted as per-commit CHANGE
        FILES (named in ``manifest['changes']``) so the signed
        row-level change feed (``read_row_changes``) stays incremental
        across deletes. Rows where the condition is NULL are KEPT
        (SQL DELETE semantics). Returns ``(version, n_deleted)``,
        ``(None, 0)`` when nothing matched.

        Concurrency: the delete applies to the snapshot it READ.
        Losing the CAS to a concurrent APPEND rebases and carries the
        appended files over untouched (they cannot contain rows this
        delete claimed — they were not in the read snapshot). Losing
        to overwrite/compact/another delete raises ``CommitConflict``:
        those rewrite files this delete read.

        ``prune``: optional {col: (lo, hi)} manifest-stats bounds that
        OVER-APPROXIMATE the condition (e.g. the timestamp range of a
        time-scoped purge). The match-locating scan then reads only
        files whose stats intersect the bounds — O(candidate files),
        not O(table) — exactly Delta's partition-predicate pruning on
        DELETE. Soundness is the CALLER's contract: a row matching
        ``condition`` outside ``prune``'s bounds is silently kept.
        ``last_scan_files`` records (scanned, total) for audit.
        """
        cond = F.expr(condition) if isinstance(condition, str) else condition
        cond = F.coalesce(cond, F.lit(False))
        base = self.latest_version()
        m = self.manifest(base)
        if not m["files"]:
            return (None, 0)
        cand = (
            self.pruned_files(prune, version=base)
            if prune else m["files"]
        )
        self.last_scan_files = (len(cand), len(m["files"]))
        if not cand:
            return (None, 0)
        full = self._read_files_live(cand, m, with_file_col="_f")
        matches = full.filter(cond)
        per_file = {
            r["_f"]: r["n"]
            for r in matches.groupBy("_f").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        if not per_file:
            return (None, 0)
        n_deleted = sum(per_file.values())
        touched = sorted(per_file)
        token = uuid.uuid4().hex[:12]
        chg_dir = os.path.join(self._data_dir, f"commit-{token}-chg")
        matches.drop("_f").write.parquet(chg_dir)
        chg_rel = sorted(
            os.path.relpath(f, self.path)
            for f in glob.glob(os.path.join(chg_dir, "*.parquet"))
        )
        survivors = self._read_files_live(touched, m).filter(~cond)
        staged = self._stage(survivors)
        for _ in range(max_retries):
            head = self.latest_version()
            for v in range(base + 1, head + 1):
                op = self.manifest(v)["operation"]
                if op != "append":
                    raise CommitConflict(
                        f"delete_where read v{base} but v{v} is {op!r} — "
                        "re-read and retry the delete"
                    )
            merged = [
                f for f in self.manifest(head)["files"] if f not in set(touched)
            ] + staged
            if self._try_commit(head, merged, "delete", changes=chg_rel):
                return (head + 1, n_deleted)
        raise CommitConflict(f"delete lost the CAS race {max_retries} times")

    def delete_where_dv(
        self,
        condition,
        max_retries: int = 10,
        prune: dict[str, tuple] | None = None,
    ) -> tuple[int | None, int]:
        """Row-level DELETE via DELETION VECTORS (merge-on-read, the
        Delta DV / Iceberg v2 position-delete design): instead of
        rewriting every file that contains a match (copy-on-write,
        write cost = size of touched files), persist only the (file,
        row position) pairs of the deleted rows and have every read
        anti-join them out. Write cost = size of the DELETED rows —
        the right trade for small deletes from large files (GDPR
        single-row erasure, point corrections), where copy-on-write
        rewrites gigabytes to drop kilobytes.

        Row identity is the parquet scan's ``_metadata.row_index``
        (position within the immutable file) — no stored id column.
        Positions are persisted as parquet change-dir files and named
        in ``manifest['dvs'][data_file]``; vectors accumulate across
        deletes, carry over appends, and are MATERIALIZED (applied and
        dropped) whenever the file is rewritten — compact(), a CoW
        delete, or a merge touching it. The same rows are also written
        as ordinary change files, so ``read_row_changes`` and every
        incremental consumer see an identical -1 feed regardless of
        which delete flavor produced it.

        Read cost until materialization: one broadcast anti-join per
        scan of a DV'd file (zero for files without vectors). Same
        concurrency contract as :meth:`delete_where` (appends rebase,
        rewrites conflict); ``prune`` as there. Returns
        ``(version, n_deleted)``."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        cond = F.coalesce(cond, F.lit(False))
        # the ONE commit path that never runs _stage: neutralize any
        # schema pending a FAILED earlier stage left on this instance
        # (the add_constraint rule) — a lost evolving append must not
        # stamp its schema through a DV delete
        self._pending_schema = None
        base = self.latest_version()
        m = self.manifest(base)
        if not m["files"]:
            return (None, 0)
        cand = (
            self.pruned_files(prune, version=base)
            if prune else m["files"]
        )
        self.last_scan_files = (len(cand), len(m["files"]))
        if not cand:
            return (None, 0)
        # scan LIVE rows with identity: already-deleted positions are
        # anti-joined out, so re-matching them is impossible (no
        # double-count, no duplicate DV entries)
        dvs_before = m.get("dvs", {})
        ent = {f: dvs_before[f] for f in cand if f in dvs_before}
        keyed = self._with_positions(cand, m)
        if ent:
            old_dv = self.spark.read.schema("_file string, _pos bigint").parquet(
                *[os.path.join(self.path, p)
                  for p in sorted({q for lst in ent.values() for q in lst})]
            )
            keyed = keyed.join(F.broadcast(old_dv), ["_file", "_pos"], "left_anti")
        matches = keyed.filter(cond).localCheckpoint(eager=False)
        per_file = {
            r["_file"]: r["n"]
            for r in matches.groupBy("_file")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if not per_file:
            return (None, 0)
        n_deleted = sum(per_file.values())
        token = uuid.uuid4().hex[:12]
        # -1 change feed rows (same contract as the CoW delete)
        chg_dir = os.path.join(self._data_dir, f"commit-{token}-chg")
        matches.drop("_file", "_pos").write.parquet(chg_dir)
        chg_rel = sorted(
            os.path.relpath(f, self.path)
            for f in glob.glob(os.path.join(chg_dir, "*.parquet"))
        )
        # the deletion vector itself: (file, pos) pairs
        dv_dir = os.path.join(self._data_dir, f"commit-{token}-dv")
        matches.select("_file", "_pos").coalesce(1).write.parquet(dv_dir)
        dv_rel = sorted(
            os.path.relpath(f, self.path)
            for f in glob.glob(os.path.join(dv_dir, "*.parquet"))
        )
        for _ in range(max_retries):
            head = self.latest_version()
            for v in range(base + 1, head + 1):
                op = self.manifest(v)["operation"]
                if op != "append":
                    raise CommitConflict(
                        f"delete_where_dv read v{base} but v{v} is {op!r} "
                        "— re-read and retry the delete"
                    )
            hm = self.manifest(head)
            new_dvs = {f: list(v) for f, v in hm.get("dvs", {}).items()}
            for f in per_file:
                new_dvs[f] = new_dvs.get(f, []) + dv_rel
            if self._try_commit(
                head, hm["files"], "delete", changes=chg_rel, dvs=new_dvs
            ):
                return (head + 1, n_deleted)
        raise CommitConflict(
            f"delete_where_dv lost the CAS race {max_retries} times"
        )

    def merge_into(
        self,
        source: DataFrame,
        on: list[str],
        when_matched: str | None = "update",
        insert_not_matched: bool = True,
        max_retries: int = 10,
        schema_evolution: bool = False,
        when_not_matched_by_source: str | None = None,
    ) -> dict:
        """Delta-style ``MERGE INTO`` in one atomic commit
        (copy-on-write): target rows whose key matches a source row
        are replaced by the source row (``when_matched="update"``),
        removed (``"delete"``), or left untouched (``None`` =
        insert-only merge, the reference's INSERT OR IGNORE); source
        rows matching no target key are inserted when
        ``insert_not_matched``. Only target files CONTAINING matched
        keys are rewritten; everything else carries over by reference.

        The commit records BOTH change directions in the manifest —
        old versions of matched rows as change files (-1), the
        updated+inserted rows' staged files as added files (+1) — so
        ``read_row_changes`` and count/sum incremental views stay
        delta-driven across upserts.

        ``source`` must be key-unique on ``on`` (multiple source
        matches for one target row is ambiguous — same rule as Delta;
        raises ValueError). Concurrency follows ``delete_where``:
        rebase over concurrent appends (the merge applies to its read
        snapshot — a racing append can introduce rows this merge never
        saw, exactly like Delta blind appends under WriteSerializable),
        conflict on anything else. Returns
        ``{"version", "matched", "inserted", "files_scanned",
        "files_total"}``.

        Scale: when any ``on`` column is in ``stats_cols``, the
        match-locating scan is pruned to files whose manifest min/max
        intersect the SOURCE's key bounds (one tiny agg on the source)
        — an upsert touching one day of a year-partitioned 100 TB
        table scans ~1/365th of its files, not all of them. Files
        outside the bounds provably contain no matched key and carry
        over by reference.

        ``schema_evolution=True`` permits ADD-COLUMN upserts (Delta's
        ``mergeSchema``): source columns beyond the committed schema
        are appended to it; carried-over and survivor rows read back
        with NULL in the new columns (manifest-schema reads — old
        files are never rewritten). Dropping or retyping committed
        columns is NOT evolution and raises either way.

        ``when_not_matched_by_source="delete"`` (Delta's WHEN NOT
        MATCHED BY SOURCE): target rows whose key matches NO source
        row are deleted — the full-sync upsert ("make the table equal
        the source" when combined with update+insert). This side is
        inherently O(table): non-matched rows live in essentially
        every file, so every file with live rows is rewritten and the
        stats-pruned match scan does not bound it (files_scanned
        reports the full count). Deleted rows join the -1 change feed
        exactly like a delete commit's; the return dict gains
        ``deleted_by_source``.
        """
        assert when_matched in ("update", "delete", None)
        assert when_not_matched_by_source in (None, "delete")
        spark = self.spark
        if not source.groupBy(*on).agg(
            F.count(F.lit(1)).alias("n")
        ).filter("n > 1").isEmpty():
            raise ValueError(f"merge source is not key-unique on {on}")
        source = source.localCheckpoint(eager=False)
        base = self.latest_version()
        m = self.manifest(base)
        committed = m.get("schema")
        src_schema = [
            [f.name, f.dataType.simpleString()] for f in source.schema
        ]
        out_schema = committed or src_schema
        widened: dict[str, str] = {}  # col -> new (wider) type
        if committed is not None:
            have = {n for n, _ in src_schema}
            missing = [n for n, _ in committed if n not in have]
            if missing:
                raise ValueError(
                    f"merge source lacks committed columns {missing} — "
                    "schema evolution only ADDS columns"
                )
            extra = [
                [n, t] for n, t in src_schema
                if n not in {c for c, _ in committed}
            ]
            if extra and not schema_evolution:
                raise ValueError(
                    f"merge source adds columns {[n for n, _ in extra]} "
                    "— pass schema_evolution=True to evolve the table"
                )
            # shared-column retypes reconcile along the same lossless
            # lattice as append(merge_schema=True) (_widens): a WIDER
            # source type widens the committed column (old files read
            # back upcast under the manifest schema), a NARROWER one is
            # upcast to the committed type (no schema change), anything
            # else (scale change, cross-family) refuses — a CDC upsert
            # feed whose upstream widened an int column must not dead-end
            src_t = dict(src_schema)
            upcast_src: dict[str, str] = {}  # col -> committed type
            bucket_key = (m.get("bucket_spec") or {}).get("col")
            for n, t in committed:
                it = src_t[n]
                if it == t:
                    continue
                if self._widens(t, it):
                    if not schema_evolution:
                        raise ValueError(
                            f"merge source widens column {n!r} "
                            f"({t} -> {it}) — pass schema_evolution="
                            "True to evolve the table"
                        )
                    if n == bucket_key:
                        # murmur3(int) != murmur3(long) for the same
                        # value: widening the bucket key would route
                        # new files by a DIFFERENT hash under one
                        # declared layout (the append-path rule)
                        raise ValueError(
                            f"cannot widen bucket key {n!r} ({t} -> "
                            f"{it}): the hash layout is type-dependent "
                            "— rebucket() to the wider type instead"
                        )
                    widened[n] = it
                elif self._widens(it, t):
                    upcast_src[n] = t
                else:
                    raise ValueError(
                        f"merge cannot retype column {n!r}: table has "
                        f"{t}, source has {it} (only lossless widening "
                        "— int chain, float->double, decimal precision "
                        "growth at fixed scale — is evolution)"
                    )
            if upcast_src:
                source = source.select(
                    *[
                        F.col(f"`{c}`").cast(upcast_src[c])
                        if c in upcast_src
                        else F.col(f"`{c}`")
                        for c in source.columns
                    ]
                )
            if extra or widened:
                out_schema = [
                    [n, widened.get(n, t)] for n, t in committed
                ] + extra
        keys = source.select(*on).distinct()
        # manifest-stats pushdown: only files whose key-column stats
        # intersect the source's key bounds can contain a match
        cand = m["files"]
        prune_cols = [c for c in on if c in self.stats_cols]
        if cand and prune_cols:
            aggs: list = []
            for c in prune_cols:
                aggs += [
                    F.min(c).alias(f"lo_{c}"),
                    F.max(c).alias(f"hi_{c}"),
                ]
            b = source.agg(*aggs).collect()[0]
            if b[f"lo_{prune_cols[0]}"] is None:
                cand = []  # empty source: nothing can match
            else:
                cand = self.pruned_files(
                    {c: (b[f"lo_{c}"], b[f"hi_{c}"]) for c in prune_cols},
                    version=base,
                )
        # delete-by-absence reads EVERY file anyway (non-matched rows
        # live in essentially all of them — O(table) is the operation's
        # inherent cost, same as Delta's), so both sides derive from
        # ONE checkpointed full scan instead of scanning twice
        nm_mode = when_not_matched_by_source == "delete"
        if nm_mode:
            cand = m["files"]
        per_file: dict = {}
        matched_t = None
        nm_t = None
        nm_per_file: dict = {}
        if cand:
            full = self._read_files_live(cand, m, with_file_col="_f")
            if nm_mode:
                full = full.localCheckpoint(eager=False)
            matched_t = full.join(keys, on, "left_semi").localCheckpoint(
                eager=False
            )
            per_file = {
                r["_f"]: r["n"]
                for r in matched_t.groupBy("_f")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            if nm_mode:
                nm_t = full.join(keys, on, "left_anti").localCheckpoint(
                    eager=False
                )
                nm_per_file = {
                    r["_f"]: r["n"]
                    for r in nm_t.groupBy("_f")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
        n_matched = sum(per_file.values())
        n_deleted_by_source = sum(nm_per_file.values())
        # files rewritten ONLY when some of their rows must change
        touched_set = (
            set(per_file) if (n_matched and when_matched is not None) else set()
        )
        touched_set |= set(nm_per_file)
        touched = sorted(touched_set)
        keys_in_target = (
            matched_t.select(*on).distinct() if n_matched else None
        )
        inserts = (
            source.join(keys_in_target, on, "left_anti")
            if (insert_not_matched and keys_in_target is not None)
            else (source if insert_not_matched else None)
        )
        added = None
        if when_matched == "update" and n_matched:
            added = source.join(keys_in_target, on, "left_semi")
        if inserts is not None:
            added = inserts if added is None else added.unionByName(inserts)
        n_inserted = inserts.count() if inserts is not None else 0
        scanned = {
            "files_scanned": (
                len(m["files"]) if nm_t is not None else len(cand)
            ),
            "files_total": len(m["files"]),
        }
        if (
            (n_matched == 0 or when_matched is None)
            and n_inserted == 0
            and n_deleted_by_source == 0
        ):
            return {
                "version": None,
                "matched": 0,
                "inserted": 0,
                "deleted_by_source": 0,
                **scanned,
            }
        # joins move key columns first — restage in the table's
        # (possibly evolved) schema order or the guard (rightly) balks
        evolving = committed is not None and out_schema != committed

        # -1 side: old versions of matched rows (update/delete only)
        # plus rows deleted by source absence
        minus = (
            matched_t.drop("_f")
            if (n_matched and when_matched is not None)
            else None
        )
        if nm_t is not None and n_deleted_by_source:
            nm_minus = nm_t.drop("_f")
            minus = (
                nm_minus if minus is None else minus.unionByName(nm_minus)
            )
        chg_rel: list[str] = []
        if minus is not None:
            token = uuid.uuid4().hex[:12]
            d = os.path.join(self._data_dir, f"commit-{token}-chg")
            minus.write.parquet(d)
            chg_rel = sorted(
                os.path.relpath(f, self.path)
                for f in glob.glob(os.path.join(d, "*.parquet"))
            )
        staged: list[str] = []
        if touched:
            if when_not_matched_by_source == "delete":
                # non-matched rows go; matched rows survive as-is only
                # under when_matched=None (update replaces them via
                # `added`, delete removes them) — else nothing survives
                survivors = (
                    self._read_files_live(touched, m).join(
                        keys, on, "left_semi"
                    )
                    if when_matched is None
                    else None
                )
            else:
                survivors = self._read_files_live(touched, m).join(
                    keys, on, "left_anti"
                )
            if survivors is not None:
                conformed = self._conform(survivors, out_schema)
                if widened:
                    # survivor rows come off OLD (narrow) files; cast
                    # them up so the staged files carry the evolved
                    # type (lossless along the _widens lattice)
                    conformed = conformed.select(
                        *[
                            F.col(f"`{n}`").cast(t)
                            if n in widened
                            else F.col(f"`{n}`")
                            for n, t in out_schema
                        ]
                    )
                staged = self._stage(
                    conformed,
                    allow_schema_change=evolving,
                )
        # _stage REASSIGNS _pending_stats; a second call in the same
        # commit must not drop the first call's stats or the
        # survivor files lose manifest pruning for good
        survivor_stats = dict(getattr(self, "_pending_stats", {})) if staged else {}
        add_staged: list[str] = []
        if added is not None and not added.isEmpty():
            add_staged = self._stage(
                self._conform(added, out_schema),
                allow_schema_change=evolving,
            )
            if survivor_stats:
                self._pending_stats = {
                    **survivor_stats,
                    **getattr(self, "_pending_stats", {}),
                }
        for _ in range(max_retries):
            head = self.latest_version()
            if nm_mode and head != base:
                # the rebase justification ("appended files cannot
                # contain rows this merge claimed") fails once the
                # by-absence branch claims EVERY non-matched row: a
                # concurrently appended key absent from the source
                # would survive, silently violating the full-sync
                # contract. Delta conflicts here too.
                raise CommitConflict(
                    f"merge_into(when_not_matched_by_source) read "
                    f"v{base} but the table is at v{head} — re-read "
                    "and retry the merge"
                )
            for v in range(base + 1, head + 1):
                op = self.manifest(v)["operation"]
                if op != "append":
                    raise CommitConflict(
                        f"merge_into read v{base} but v{v} is {op!r} — "
                        "re-read and retry the merge"
                    )
            merged = (
                [f for f in self.manifest(head)["files"] if f not in set(touched)]
                + staged
                + add_staged
            )
            if self._try_commit(
                head,
                merged,
                "merge",
                changes=chg_rel or None,
                added=add_staged or None,
            ):
                return {
                    "version": head + 1,
                    "matched": n_matched,
                    "inserted": n_inserted,
                    "deleted_by_source": n_deleted_by_source,
                    **scanned,
                }
        raise CommitConflict(f"merge lost the CAS race {max_retries} times")

    # --- reads ------------------------------------------------------------

    def read(
        self,
        version: int | None = None,
        timestamp: float | None = None,
    ) -> DataFrame:
        """Snapshot-isolated read: exactly the files the (pinned or
        head) manifest names — never a half-commit, no dir listing. A
        committed-but-empty table (e.g. after retention dropped every
        file) reads as zero rows with the manifest's recorded schema;
        only a never-written table (version 0, no schema) raises.
        ``timestamp=`` pins the snapshot as of an epoch-seconds wall
        clock instead of a version number (``TIMESTAMP AS OF``)."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version= or timestamp=, not both")
            version = self.version_at_timestamp(timestamp)
        m = self.manifest(version)
        if not m["files"]:
            schema = m.get("schema")
            if not schema:
                raise ValueError("empty table (version 0) has no schema")
            return self.spark.createDataFrame([], schema=self._ddl(schema))
        return self._read_files_live(m["files"], m)

    def count_rows(self, version: int | None = None) -> int:
        """COUNT(*) without scanning data files (Iceberg's
        record_count): per-file ``_rows`` stamped into the manifest at
        stage time, minus live deletion-vector positions. A DV parquet
        holds (file, pos) pairs for EVERY file one delete touched and
        is referenced from each of them, and a later rewrite
        materializes SOME files' pairs away — so DV footer counts
        cannot be trusted; instead the distinct DV files' ``_file``
        column is read (driver-side pyarrow, I/O bounded by the number
        of DELETED rows — small by the DV design) and only pairs whose
        (file, dv) reference is still live in the manifest are
        subtracted, mirroring the read path's per-file anti-join.
        LEGACY files committed before ``_rows`` existed fall back to
        one footer read each. No Spark job, no data-file scan, at any
        table size."""
        import pyarrow.parquet as pq

        m = self.manifest(version)
        stats = m.get("stats", {})
        total = 0
        for f in m["files"]:
            n = (stats.get(f) or {}).get("_rows")
            if n is None:
                n = pq.ParquetFile(
                    os.path.join(self.path, f)
                ).metadata.num_rows
            total += n
        total -= sum(self._live_dv_counts(m).values())
        return total

    def read_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change data feed for append-only history: the rows added
        AFTER ``from_version`` up to ``to_version`` (default head) are
        exactly the files those manifests reference beyond the base
        file set — an incremental consumer reads only the delta, never
        rescans the table. Raises if the range crosses a non-append
        commit (overwrite/compact rewrite history; a row-level diff
        would need persisted change files, Delta's CDF)."""
        to_v = self.latest_version() if to_version is None else to_version
        for v in range(from_version + 1, to_v + 1):
            op = self.manifest(v)["operation"]
            if op != "append":
                raise ValueError(
                    f"read_changes crosses non-append commit v{v} ({op})"
                )
        base = set(self.manifest(from_version)["files"])
        head = self.manifest(to_v)
        new = [f for f in head["files"] if f not in base]
        if not new:
            raise ValueError("no files added in range (empty change set)")
        return self._read_files(new, head)

    def read_row_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        include_version: bool = False,
    ) -> DataFrame:
        """SIGNED row-level change feed: the table columns plus a
        ``_change`` column, +1 for rows added by append commits (and a
        merge's updated+inserted rows), -1 for rows removed by delete
        commits and a merge's replaced row versions (both from their
        persisted change files). Compact commits are row-preserving
        and contribute nothing. Overwrite rewrites history row-lessly
        and raises — consumers fall back to a full recompute. This is
        what lets an incremental consumer (IncrementalAggView) stay
        delta-driven across deletes, upserts AND maintenance
        compactions. ``include_version=True`` adds ``_commit_version``
        — the column a CDC APPLY consumer needs to net a key to its
        LATEST state across a multi-commit range (apply_changes_batch:
        without it, add-then-delete vs delete-then-add of the same key
        are indistinguishable)."""
        to_v = self.latest_version() if to_version is None else to_version
        plus: list[tuple[str, int]] = []
        minus: list[tuple[str, int]] = []
        prev_files = set(self.manifest(from_version)["files"])
        for v in range(from_version + 1, to_v + 1):
            m = self.manifest(v)
            op = m["operation"]
            if op == "append":
                plus.extend((f, v) for f in m["files"] if f not in prev_files)
            elif op == "delete":
                minus.extend((f, v) for f in m.get("changes", []))
            elif op == "merge":
                plus.extend((f, v) for f in m.get("added", []))
                minus.extend((f, v) for f in m.get("changes", []))
            elif op not in ("compact", "metadata"):
                raise ValueError(
                    f"read_row_changes crosses non-row-level commit "
                    f"v{v} ({op})"
                )
            prev_files = set(m["files"])
        head = self.manifest(to_v)
        empty = self.read(version=to_v).limit(0)
        out = empty.withColumn("_change", F.lit(0).cast("int"))
        if include_version:
            out = out.withColumn("_commit_version", F.lit(0).cast("int"))

        def side(entries: list[tuple[str, int]], sign: int) -> None:
            nonlocal out
            # head-schema read: change files from before an add-column
            # evolution null-fill the new columns, matching what the
            # table read reports for those rows today. One read per
            # version-group only when versions are requested.
            if not include_version:
                files = [f for f, _v in entries]
                df = self._read_files(files, head).withColumn(
                    "_change", F.lit(sign).cast("int")
                )
                out = out.unionByName(df)
                return
            by_v: dict[int, list[str]] = {}
            for f, v in entries:
                by_v.setdefault(v, []).append(f)
            for v, files in sorted(by_v.items()):
                df = (
                    self._read_files(files, head)
                    .withColumn("_change", F.lit(sign).cast("int"))
                    .withColumn("_commit_version", F.lit(v).cast("int"))
                )
                out = out.unionByName(df)

        if plus:
            side(plus, 1)
        if minus:
            side(minus, -1)
        return out

    def dv_stats(self, version: int | None = None) -> dict:
        """Deletion-vector maintenance report: per DV'd file, how many
        row positions are logically deleted, plus table totals — the
        compact-scheduling signal (compact-when-dv-heavy: every read
        of a DV'd file pays the anti-join until a rewrite materializes
        the vectors). Reads only the small DV parquet files, never
        data files. Returns {"files": {file: n_deleted}, "n_deleted",
        "n_dv_files", "dv_ratio"} where dv_ratio = deleted positions
        over the snapshot's total live+deleted rows in DV'd files
        (from footer metadata — no data I/O)."""
        import pyarrow.parquet as pq

        m = self.manifest(version)
        dvs = m.get("dvs", {})
        if not dvs:
            return {"files": {}, "n_deleted": 0, "n_dv_files": 0, "dv_ratio": 0.0}
        per_file = self._live_dv_counts(m)
        n_deleted = sum(per_file.values())
        stats = m.get("stats", {})
        total_rows = 0
        for f in per_file:
            n = (stats.get(f) or {}).get("_rows")
            if n is None:  # legacy file committed before _rows existed
                n = pq.ParquetFile(
                    os.path.join(self.path, f)
                ).metadata.num_rows
            total_rows += n
        return {
            "files": per_file,
            "n_deleted": n_deleted,
            "n_dv_files": len({p for lst in dvs.values() for p in lst}),
            "dv_ratio": (n_deleted / total_rows) if total_rows else 0.0,
        }

    def _live_dv_counts(self, m: dict) -> dict[str, int]:
        """Per data file, how many of its row positions are deleted by
        the manifest's LIVE deletion vectors. One DV parquet holds
        (file, pos) pairs for every file a delete touched and a rewrite
        drops only that file's reference — so counting reads the
        distinct DV files' ``_file`` column (driver-side pyarrow, I/O
        bounded by deleted rows) and tallies only pairs whose
        (file, dv) reference the manifest still carries, mirroring the
        read path's per-file anti-join. Shared by count_rows() and
        dv_stats() so the liveness rule lives in exactly one place."""
        import pyarrow.parquet as pq

        dvs = m.get("dvs") or {}
        if not dvs:
            return {}
        live = {(f, p) for f, lst in dvs.items() for p in lst}
        per_file: dict[str, int] = {}
        for p in sorted({p for _, p in live}):
            col = pq.read_table(
                os.path.join(self.path, p), columns=["_file"]
            ).column(0)
            for f in col.to_pylist():
                if (f, p) in live:
                    per_file[f] = per_file.get(f, 0) + 1
        return per_file

    def compact(
        self,
        target_partitions: int = 1,
        max_retries: int = 10,
        order_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        when_dv_ratio_above: float | None = None,
        partition_id: Column | None = None,
    ) -> int | None:
        """Rewrite the current snapshot's many small files into
        ``target_partitions`` files in ONE atomic commit (operation
        'compact'): readers switch from the fragmented file set to the
        compacted one at a single manifest version, and the old files
        become vacuum-able. Unlike append, the rewrite is only valid
        against the exact version it read — losing the CAS race to a
        concurrent append means re-reading from the new head and
        re-staging, or the winner's rows would be silently dropped.
        The maintenance half of the small-file problem the
        date-bucketed CandleDataset solves by directory
        (operators/ingest.py) — here solved by log.

        ``when_dv_ratio_above``: the self-healing merge-on-read policy
        (Delta auto-OPTIMIZE's trigger, round-7 verdict item 5) —
        consult :meth:`dv_stats` first and rewrite ONLY when the
        snapshot's deleted-position ratio exceeds the threshold;
        otherwise return ``None`` with NO commit (a light table stays
        untouched — no version burn, nothing to vacuum). A triggered
        compact materializes every deletion vector (rewritten files
        drop their DV entries at commit), so the next ``dv_stats`` is
        empty and read amplification resets to zero.

        ``partition_id``: an integer column naming each row's output
        file (taken modulo ``target_partitions``; NULL goes to file 0).
        Placement is exact, with no range sampling, so a caller that
        numbers its keys densely gets one key per file; ``order_by``
        then only sorts within each file."""
        if when_dv_ratio_above is not None:
            if self.dv_stats()["dv_ratio"] <= when_dv_ratio_above:
                return None
        for _ in range(max_retries):
            base = self.latest_version()
            snapshot = self.read(version=base)
            if partition_id is not None:
                snapshot = snapshot.repartitionById(target_partitions, partition_id)
                if order_by:
                    snapshot = snapshot.sortWithinPartitions(*order_by)
            elif order_by:
                # clustered rewrite: range-partition + sort so each output
                # file owns a disjoint key range — min/max footer stats then
                # prune whole files on range predicates (OPTIMIZE ... ZORDER
                # for the 1-D case)
                snapshot = snapshot.repartitionByRange(
                    target_partitions, *order_by
                ).sortWithinPartitions(*order_by)
            elif zorder_by:
                # multi-D clustered rewrite (Delta's OPTIMIZE ZORDER BY):
                # range-partition + sort on the rank-quantized Z-curve so
                # every output file covers a tight BOX in all listed
                # dimensions — the manifest's min/max stats then prune
                # multi-predicate box queries that a 1-D sort can only
                # prune in its leading column
                from ccxt_ohlcv_fetcher_spark.operators.layout import (
                    zorder_column,
                )

                z = zorder_column(snapshot, zorder_by)
                snapshot = (
                    snapshot.withColumn("_z", z)
                    .repartitionByRange(target_partitions, "_z")
                    .sortWithinPartitions("_z")
                    .drop("_z")
                )
            else:
                snapshot = snapshot.coalesce(target_partitions)
            new_files = self._stage(snapshot)
            if self._try_commit(base, new_files, "compact"):
                return base + 1
        raise CommitConflict(f"compact lost the CAS race {max_retries} times")

    def restore(self, version: int, max_retries: int = 10) -> int:
        """Delta-style ``RESTORE TABLE ... TO VERSION``: roll the table
        back to ``version``'s snapshot as ONE NEW metadata-only commit
        — the old version's file set (with its schema, stats and
        deletion vectors) is re-referenced verbatim, no data is read or
        written, and the bad intermediate versions stay on the log for
        forensics until vacuumed. The operational answer to "that
        delete/merge was wrong": O(1) data cost at any table size.

        Refuses when any target file no longer exists (vacuum already
        reclaimed past the target — its time travel is gone by
        contract). The restore commit is NOT row-level (it rewrites
        history like overwrite), so the change feed refuses ranges
        crossing it and incremental consumers recompute."""
        target = self.manifest(version)
        if not target.get("schema"):
            raise ValueError(f"cannot restore to empty version {version}")
        missing = [
            f
            for f in target["files"]
            if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise ValueError(
                f"cannot restore to v{version}: {len(missing)} of its "
                f"files were vacuumed (e.g. {missing[0]})"
            )
        # the commit must re-carry the target's metadata: schema (a
        # later evolution may need reverting), per-file stats
        # (re-added files would otherwise lose manifest pruning), and
        # deletion vectors (re-added files keep their logical deletes)
        self._pending_schema = target.get("schema")
        self._pending_stats = dict(target.get("stats", {}))
        try:
            # NO rebase: a restore racing ANY concurrent commit must
            # conflict — blindly retrying onto the new head would
            # silently discard the racer's rows (the restore manifest
            # references only the target's files). Delta's RESTORE has
            # the same contract. max_retries kept for signature parity.
            base = self.latest_version()
            if self._try_commit(
                base,
                list(target["files"]),
                "restore",
                dvs=dict(target.get("dvs", {})),
                extra={"restore_of": version},
            ):
                return base + 1
        finally:
            del self._pending_schema
            del self._pending_stats
        raise CommitConflict(
            "restore lost the CAS race — the table changed concurrently; "
            "re-read the head and decide whether the restore still applies"
        )

    def compact_partial(
        self,
        small_file_bytes: int = 32 * 1024 * 1024,
        target_file_bytes: int | None = None,
        max_retries: int = 10,
        min_files: int = 2,
        order_by: list[str] | None = None,
    ) -> int | None:
        """Bin-packing PARTIAL compaction (Delta OPTIMIZE's actual
        shape; the 100 TB complement of :meth:`compact`): rewrite ONLY
        the snapshot's files smaller than ``small_file_bytes`` into
        ~``target_file_bytes`` outputs, carrying every other file over
        by reference. A full-snapshot rewrite to fix a trickle of small
        appended files is exactly the maintenance cost a 100 TB table
        cannot pay — this touches O(small files) data instead.

        Selection reads NO file metadata: per-file sizes ride the
        manifest (``_bytes``, recorded at stage time), so the rewrite
        set comes from the log alone; a legacy file lacking the entry
        falls back to one ``os.path.getsize``. Touched files' deletion
        vectors are materialized by the rewrite (they leave the
        manifest with their files); untouched files keep theirs.

        Concurrency: unlike the full compact (which must re-read from
        the exact head), the partial rewrite REBASES over concurrent
        appends — an appended file was not in the selected set and
        carries over untouched (same WriteSerializable argument as
        delete/merge). Losing to a delete/merge/compact raises
        ``CommitConflict`` (they may have rewritten or DV'd the
        selected files). Returns the committed version, or None when
        fewer than ``min_files`` files qualify (no commit, no version
        burn)."""
        base = self.latest_version()
        m = self.manifest(base)
        stats = m.get("stats", {})

        def _size(f: str) -> int:
            b = stats.get(f, {}).get("_bytes")
            if b is None:
                b = os.path.getsize(os.path.join(self.path, f))
            return b

        small = [f for f in m["files"] if _size(f) < small_file_bytes]
        if len(small) < min_files:
            return None
        target = target_file_bytes or small_file_bytes
        total = sum(_size(f) for f in small)
        n_out = max(1, min(len(small) - 1, (total + target - 1) // target))
        live = self._read_files_live(small, m)
        if order_by:
            # clustered bin-packing: each rewritten output owns a
            # disjoint key range, so the fresh files' manifest min/max
            # stats prune range predicates (the compact(order_by=...)
            # behavior, scoped to the small-file set)
            live = live.repartitionByRange(
                n_out, *order_by
            ).sortWithinPartitions(*order_by)
        else:
            live = live.coalesce(n_out)
        staged = self._stage(live)
        small_set = set(small)
        for _ in range(max_retries):
            head = self.latest_version()
            for v in range(base + 1, head + 1):
                op = self.manifest(v)["operation"]
                if op != "append":
                    raise CommitConflict(
                        f"compact_partial read v{base} but v{v} is {op!r} "
                        "— re-read and retry"
                    )
            merged = [
                f for f in self.manifest(head)["files"] if f not in small_set
            ] + staged
            if self._try_commit(head, merged, "compact"):
                return head + 1
        raise CommitConflict(
            f"compact_partial lost the CAS race {max_retries} times"
        )

    # --- maintenance ------------------------------------------------------

    def vacuum(
        self,
        retain_versions: int = 1,
        min_age_seconds: float = 3600.0,
        prune_log: bool = False,
    ) -> list[str]:
        """Delete commit dirs referenced by none of the last
        ``retain_versions`` manifests (older time travel breaks, space
        is reclaimed; uncommitted/crashed stage dirs go too). Returns
        the deleted dirs.

        ``min_age_seconds`` (Delta's vacuum retention, mtime-based):
        an unreferenced dir younger than this is SKIPPED — it may be a
        live writer's staged-but-not-yet-committed files, and deleting
        them would let that writer commit a manifest referencing
        deleted files (lost rows, broken head reads). Only pass 0 when
        no writer can possibly be in flight.

        ``prune_log=True`` also deletes the manifests OLDER than the
        retained window (each manifest is a FULL file list, so nothing
        needs them once their time travel is given up) — the log stays
        O(retain_versions) instead of O(total commits); head
        resolution is unaffected (the ``_last`` hint + forward probe
        never touches pruned versions)."""
        import time

        head = self.latest_version()
        keep_versions = range(max(1, head - retain_versions + 1), head + 1)
        referenced = set()
        for v in keep_versions:
            m = self.manifest(v)
            # data/commit-<token>/... — change files of retained delete
            # commits count as referenced too (read_row_changes needs
            # them as long as their version is reachable), as do the
            # deletion-vector files every live read anti-joins against
            dv_files = [p for lst in m.get("dvs", {}).values() for p in lst]
            for f in m["files"] + m.get("changes", []) + dv_files:
                referenced.add(f.split(os.sep)[1])
        deleted = []
        now = time.time()
        for d in sorted(glob.glob(os.path.join(self._data_dir, "commit-*"))):
            if os.path.basename(d) in referenced:
                continue
            # newest mtime in the dir tree, not just the dir's: a slow
            # writer touches files after the dir is created
            mtimes = [os.path.getmtime(d)] + [
                os.path.getmtime(p)
                for p in glob.glob(os.path.join(d, "**"), recursive=True)
                if os.path.exists(p)
            ]
            if now - max(mtimes) < min_age_seconds:
                continue
            shutil.rmtree(d)
            deleted.append(d)
        if prune_log:
            # refresh the head hint FIRST: if every commit's best-effort
            # hint write failed (hint arbitrarily stale), pruning past
            # hint+1 would strand latest_version()'s forward probe on a
            # missing manifest
            self._write_head_hint(head)
            lo = max(1, head - retain_versions + 1)
            # delta manifests reconstruct from a base at-or-below them:
            # before deleting the pre-window deltas, pin a checkpoint at
            # the window's OLDEST retained version so every retained
            # version still reconstructs (checkpoint + tail only)
            if self._read_checkpoint(lo) is None:
                self._write_checkpoint(lo, self._state(lo))
                # _write_checkpoint is best-effort (swallows failures);
                # pruning on a silently-failed write would delete the
                # only manifests that could reconstruct versions between
                # lo and the next surviving checkpoint. Re-verify the
                # checkpoint actually reads back before deleting.
                if self._read_checkpoint(lo) is None:
                    return deleted
            for v in range(1, lo):
                for p in (
                    self._manifest_path(v),
                    self._ckpt_path(v),
                    self._ckpt_parquet_path(v),
                ):
                    if os.path.exists(p):
                        os.remove(p)
                # pruned versions must also leave this instance's state
                # cache: their time travel is gone by contract
                self._state_cache.pop(v, None)
        return deleted


def streaming_snapshot_sink(
    stream: DataFrame,
    store: SnapshotStore,
    app_id: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    on_commit=None,
):
    """Exactly-once streaming sink into a SnapshotStore: foreachBatch
    appends with ``txn=(app_id, batch_id)``, so a re-delivered
    micro-batch (at-least-once foreachBatch) is skipped by the commit
    log itself — no content-based dedup needed, and readers only ever
    see whole committed batches (snapshot isolation). It dedups by
    BATCH (absorbs replays byte-free); overlapping re-fetches of the
    same KEY are the candle ingest's anti-join's job
    (``SnapshotCandleDataset.append_idempotent``).

    ``on_commit(version)`` fires after each batch that actually
    committed (skipped replays don't fire it) — the hook that keeps
    downstream incremental consumers current, e.g.
    ``lambda v: view.refresh()`` for an ``IncrementalAggView`` over
    this store (streaming continuous aggregates; both sides are
    txn-idempotent, so a crash between commit and refresh re-heals on
    the next fire).
    """

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        v = store.append(batch, txn=(app_id, batch_id))
        if v is not None and on_commit is not None:
            on_commit(v)

    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
