"""The engine's one store for build-once artifacts.

Some registry builders share an expensive intermediate across
executions and across queries: a checkpointed edge list, a trained
profile or codebook, a persisted index, an incremental view's state, a
bucketed or partitioned layout. Each is served by ``memo`` under one
key, ``(name, session_key(spark), fingerprint(sf_dir))``:

- ``name`` names the artifact and carries the call site's parameters
  (``"seeds/16"``, ``"bpe/oov"``, ``"bucketed/lineitem/l_orderkey/8"``).
- ``session_key`` is the SparkContext's ``applicationId``. It is stable
  for the life of the context, which is what owns the localCheckpoint
  blocks a memoized frame reads, and it is never recycled within a
  process. ``id(spark)`` is: the allocator can reuse it after a session
  is garbage-collected, and a checkpointed frame under a recycled id
  would silently serve the wrong data. Sessions sharing one context
  correctly share the store.
- ``fingerprint`` is the source data as the file system shows it: the
  absolute path plus every parquet part file's relative path, mtime and
  size. A fixture rewritten at the same path gets a new key, so nothing
  built from the old data is served after the rewrite.

An entry lives as long as its SparkContext's process: every artifact
here is a session memo. An artifact that lives on disk is built under
``artifact_dir``, one per-process root that an ``atexit`` hook
removes, and its build returns its directory; an entry whose directory
is gone is rebuilt. That is the store's only validity rule.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

_STORE: dict[tuple, object] = {}
_ROOT: str | None = None


def session_key(spark: SparkSession) -> str:
    """The session component of an artifact's key (module docstring)."""
    return spark.sparkContext.applicationId


def fingerprint(path: str) -> tuple:
    """``(abs path, ((relative part path, mtime_ns, size), ...))`` for
    a parquet file or for every parquet part file under a directory.
    Per part file: a part rewritten in place leaves its directory's own
    mtime and size unchanged."""
    root = os.path.abspath(path)
    if os.path.isdir(root):
        files = sorted(
            os.path.join(d, f)
            for d, _, names in os.walk(root)
            for f in names
            if f.endswith(".parquet")
        )
    else:
        files = [root]
    parts = []
    for f in files:
        st = os.stat(f)
        parts.append((os.path.relpath(f, root), st.st_mtime_ns, st.st_size))
    return root, tuple(parts)


def artifact_dir(prefix: str) -> str:
    """A fresh directory for an on-disk artifact under the per-process
    root, which is removed at exit: the artifacts live exactly as long
    as the store entries that point at them."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="spark_graft_artifacts_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_ROOT)


def memo(spark: SparkSession, sf_dir: str, name: str, build: Callable[[], T]) -> T:
    """``build()``'s result for ``name`` over the data under ``sf_dir``,
    built once per session and source content. A build that writes to
    disk returns its directory, and is run again if that is gone.

    Two threads that miss the same key at once both build, and the
    later result is kept: either is valid, and each disk build writes
    its own fresh directory."""
    key = (name, session_key(spark), fingerprint(sf_dir))
    if key in _STORE:
        hit = _STORE[key]
        if not isinstance(hit, str) or os.path.isdir(hit):
            return hit
    _STORE[key] = out = build()
    return out
