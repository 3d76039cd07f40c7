"""Persisted ANN index (op E35, the build-once/query-many shape).

`ann_cosine_topk` re-buckets the corpus on every query — right for
ad-hoc use, wrong for a served index over a 100 TB embedding store.
This module writes the sign-LSH layout to disk ONCE, Hive-partitioned
by bucket, so each query's probe set prunes to n_probe directories at
the SCAN (PartitionFilters, no shuffle, no full-corpus read):

- ``build_ann_index``: corpus -> (bucket=<b>/) parquet, vectors stored
  with their pre-computed norms (norm hoisting done at build time, not
  per query).
- ``query_ann_index``: load with a bucket IN (...) predicate from the
  queries' (multiprobe) bucket set, exact re-rank inside the probed
  partitions. The probed bucket ids are computed driver-side from the
  query vectors — a tiny collect (|Q| rows), which is what makes the
  partition pruning STATIC (visible in the plan as PartitionFilters)
  instead of a runtime join.

At 100 TB: the index write is one shuffle on bucket; a query touches
``|probes| / 2^n_planes`` of the directories. Rebuild = rerun build
(deterministic hyperplanes -> same layout).

``query_ann_index_scoreaware`` is the served probe (same rows as
``query_ann_index``, fewer probed partitions); ``build_opq_index_logged``
/ ``query_opq_index_logged`` persist the OPQ tier on a SnapshotStore.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.functions.arrays import dot_product
from ccxt_ohlcv_fetcher_spark.operators.similarity import (
    _with_norm,
    plane_dots,
    sign_lsh_buckets,
)


def build_ann_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Write the bucket-partitioned LSH index; returns #buckets written."""
    indexed = sign_lsh_buckets(
        _with_norm(corpus, vec_col, "norm"), vec_col, n_planes, dim
    ).select(id_col, vec_col, "norm", "bucket")
    indexed.write.mode("overwrite").partitionBy("bucket").parquet(path)
    return 2**n_planes


def _probed_queries(
    queries: DataFrame,
    dim: int,
    n_planes: int,
    multiprobe: int,
    query_vec: str,
) -> DataFrame:
    """Queries with their probe bucket set: home bucket + the
    ``multiprobe`` tightest-margin single-bit flips (the adaptive rule
    shared with ``ann_cosine_topk``), one row per (query, probe)."""
    q = sign_lsh_buckets(
        _with_norm(queries, query_vec, "_qn"), query_vec, n_planes, dim
    )
    if multiprobe:
        m = min(multiprobe, n_planes)
        dots = plane_dots(query_vec, n_planes, dim)
        margins = F.transform(
            dots, lambda d, i: F.struct(F.abs(d).alias("m"), i.alias("j"))
        )
        flips = F.slice(F.array_sort(margins), 1, m)["j"]
        probes = F.concat(
            F.array(F.col("bucket")),
            F.transform(
                flips,
                lambda j: F.col("bucket").bitwiseXOR(
                    F.pow(F.lit(2.0), j.cast("double")).cast("bigint")
                ),
            ),
        )
        q = q.withColumn("bucket", F.explode(probes))
    return q


def _exact_topk(
    index: DataFrame,
    q: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id: str,
    query_vec: str,
) -> DataFrame:
    candidates = index.join(F.broadcast(q), "bucket").select(
        query_id,
        F.col(id_col),
        (dot_product(vec_col, query_vec) / (F.col("norm") * F.col("_qn"))).alias(
            "score"
        ),
    )
    item = F.struct((-F.col("score")).alias("neg"), F.col(id_col).alias("id"))
    return (
        candidates.groupBy(query_id)
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("_top"))
        .select(query_id, F.posexplode("_top").alias("pos", "item"))
        .select(
            query_id,
            F.col("item.id").alias(id_col),
            (-F.col("item.neg")).alias("score"),
            (F.col("pos") + 1).alias("rank"),
        )
    )


def query_ann_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 4,
    multiprobe: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "q_id",
    query_vec: str = "q_vec",
) -> DataFrame:
    """Top-k against the stored index. The probe buckets (home + the
    ``multiprobe`` tightest-margin flips per query, same adaptive rule
    as ``ann_cosine_topk``) become a STATIC ``bucket IN (...)``
    predicate, so the parquet scan prunes to the probed directories."""
    q = _probed_queries(queries, dim, n_planes, multiprobe, query_vec)
    # driver-side probe set (|Q| * (1+m) longs) -> static partition
    # filter. No distinct() before the collect (r13): the set() dedupes
    # driver-side, and the distinct was a full shuffle + its own AQE
    # job wave just to shrink an already-bounded collect.
    probe_buckets = sorted(
        {r["bucket"] for r in q.select("bucket").collect()}
    )
    index = spark.read.parquet(path).filter(F.col("bucket").isin(probe_buckets))
    return _exact_topk(index, q, k, id_col, vec_col, query_id, query_vec)


def _plane_norms(n_planes: int, dim: int, salt: str = "lsh") -> list[float]:
    """L2 norms of the deterministic LSH hyperplanes (driver-side
    constants — same md5 derivation as ``plane_dots``)."""
    import math

    from ccxt_ohlcv_fetcher_spark.functions.hashing import md5_long_py

    return [
        math.sqrt(
            sum(
                (float(md5_long_py(f"{salt}|{j}|{i}")) / float(2**59) - 1.0) ** 2
                for i in range(dim)
            )
        )
        for j in range(n_planes)
    ]


def query_ann_index_scoreaware(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 4,
    multiprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    stats_out: dict | None = None,
) -> DataFrame:
    """Score-aware two-phase probing: SAME result as
    ``query_ann_index(multiprobe=m)``, fewer probed partitions.

    Phase 1 probes each query's home bucket and takes its running k-th
    best cosine ``s_k``. Every vector in a depth-1 flip of plane ``j``
    lies across hyperplane ``j`` from the query, so its cosine with the
    query is at most ``sqrt(1 - m_j^2)`` where ``m_j`` is the query's
    normalized margin to that plane (angle to the cutting plane =
    ``asin(m_j)``; crossing it costs at least that much angle). Phase 2
    therefore probes only the flips whose bound could still displace
    the current top-k (``bound >= s_k``) — a sound skip, so the output
    is row-identical to fixed-depth multiprobe; the saving is real
    scan I/O (whole pruned partitions), largest exactly when it should
    be: high-similarity matches in the home bucket (near-dup lookup,
    self-join-ish workloads) push ``s_k`` above the flip bounds.

    ``stats_out`` (optional dict) receives probe telemetry:
    ``flip_pairs`` vs ``full_flip_pairs`` is the pruned fraction.
    """
    q = (
        sign_lsh_buckets(
            _with_norm(queries, query_vec, "_qn"), query_vec, n_planes, dim
        )
        .withColumn("_dots", plane_dots(query_vec, n_planes, dim))
        # three consumers (home-bucket collect, the home probe join,
        # the flip derivation) otherwise each re-run the query-side
        # scan + bucket/dot computation; the query workload is the
        # bounded side, so caching it is scale-safe (r12)
        .localCheckpoint(eager=False)
    )
    # ONE read of the index path (r13): each spark.read.parquet() call
    # re-runs footer schema inference as its own driver job; both probe
    # phases filter the same relation
    index = spark.read.parquet(path)
    # bounded |Q|-row collect; set() dedupes, so no distinct shuffle (r13)
    home_buckets = sorted(
        {r["bucket"] for r in q.select("bucket").collect()}
    )
    idx1 = index.filter(F.col("bucket").isin(home_buckets))
    cand_home = (
        idx1.join(
            F.broadcast(q.select(query_id, "bucket", "_qn", query_vec)), "bucket"
        )
        .select(
            query_id,
            F.col(id_col),
            (
                dot_product(vec_col, query_vec) / (F.col("norm") * F.col("_qn"))
            ).alias("score"),
        )
        .localCheckpoint(eager=False)  # reused by s_k and the final union
    )
    sk = (
        cand_home.groupBy(query_id)
        .agg(F.slice(F.array_sort(F.collect_list(-F.col("score"))), 1, k).alias("_t"))
        .select(
            query_id,
            F.when(F.size("_t") >= k, -F.element_at("_t", k))
            .otherwise(F.lit(-1.0))
            .alias("_sk"),
        )
    )
    m = min(multiprobe, n_planes)
    # candidate flips ordered by RAW |dot| — must match _probed_queries'
    # tightest-margin rule exactly so the equality contract holds
    mstruct = F.transform(
        F.col("_dots"), lambda d, i: F.struct(F.abs(d).alias("m"), i.alias("j"))
    )
    pn = F.lit(_plane_norms(n_planes, dim))
    probe2 = (
        q.withColumn("_f", F.explode(F.slice(F.array_sort(mstruct), 1, m)))
        .join(sk, query_id, "left")
        .withColumn(
            "_nm",
            F.col("_f.m") / (F.element_at(pn, F.col("_f.j") + 1) * F.col("_qn")),
        )
        .withColumn(
            "_bound",
            F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - F.col("_nm") * F.col("_nm"))),
        )
        .filter(F.col("_sk").isNull() | (F.col("_bound") >= F.col("_sk")))
        .select(
            query_id,
            "_qn",
            query_vec,
            F.col("bucket")
            .bitwiseXOR(
                F.pow(F.lit(2.0), F.col("_f.j").cast("double")).cast("bigint")
            )
            .alias("bucket"),
        )
        .localCheckpoint(eager=False)
    )
    # bounded collect (<= |Q| * m rows); set() dedupes driver-side (r13)
    flip_buckets = sorted(
        {r["bucket"] for r in probe2.select("bucket").collect()}
    )
    if stats_out is not None:
        stats_out["home_buckets"] = len(home_buckets)
        stats_out["flip_buckets"] = len(flip_buckets)
        stats_out["flip_pairs"] = probe2.count()
        stats_out["full_flip_pairs"] = queries.count() * m
    scored = cand_home
    if flip_buckets:
        idx2 = index.filter(F.col("bucket").isin(flip_buckets))
        cand_flip = idx2.join(F.broadcast(probe2), "bucket").select(
            query_id,
            F.col(id_col),
            (
                dot_product(vec_col, query_vec) / (F.col("norm") * F.col("_qn"))
            ).alias("score"),
        )
        scored = cand_home.unionByName(cand_flip)
    item = F.struct((-F.col("score")).alias("neg"), F.col(id_col).alias("id"))
    return (
        scored.groupBy(query_id)
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("_top"))
        .select(query_id, F.posexplode("_top").alias("pos", "item"))
        .select(
            query_id,
            F.col("item.id").alias(id_col),
            (-F.col("item.neg")).alias("score"),
            (F.col("pos") + 1).alias("rank"),
        )
    )


# --- snapshot-logged OPQ index: rotation + trained codes on the log ----


def _opq_meta_path(path: str, version: int) -> str:
    import os as _os

    return _os.path.join(path, f"_opq_meta_v{version}.json")


def _write_opq_meta(path: str, version: int, payload: dict) -> None:
    """Atomic sidecar write (ADVICE r7: a plain open/write could be
    seen half-written, and a crash mid-write left a corrupt file the
    loader would choke on): full content to a temp file, then
    ``os.replace`` into the version-stamped name."""
    import json as _json
    import os as _os
    import uuid as _uuid

    tmp = _os.path.join(path, f"_opq_meta_staging.{_uuid.uuid4().hex[:12]}")
    with open(tmp, "w") as fh:
        _json.dump(payload, fh)
    _os.replace(tmp, _opq_meta_path(path, version))


def _load_opq_meta(path: str, version: int, store=None) -> dict:
    """Newest OPQ meta sidecar at-or-below ``version`` by NUMERIC
    version (the load_bpe lesson: unpadded filenames sort v10 < v2).

    Staleness refusal (ADVICE r7): the sidecar lands AFTER the store
    commit, so a crash in that window leaves a new build whose head
    rows would silently decode under the PREVIOUS build's rotation/
    codebooks. When ``store`` is passed, the loader walks back from
    ``version`` to the latest overwrite (= build/retrain) commit and
    refuses a sidecar older than it — fail loud, never mis-decode."""
    import glob as _glob
    import json as _json
    import os as _os

    parsed = [
        (int(_os.path.basename(p)[len("_opq_meta_v"):-len(".json")]), p)
        for p in _glob.glob(_os.path.join(path, "_opq_meta_v*.json"))
    ]
    best = max((c for c in parsed if c[0] <= version), default=None)
    if best is None:
        raise FileNotFoundError(
            f"no OPQ meta sidecar at or below version {version}"
        )
    if store is not None:
        rebuild_v = 0
        for v in range(version, 0, -1):
            try:
                op = store.manifest(v)["operation"]
            except FileNotFoundError:
                break  # log pruned below here: nothing newer to refuse on
            if op == "overwrite":
                rebuild_v = v
                break
        if best[0] < rebuild_v:
            raise RuntimeError(
                f"OPQ meta sidecar v{best[0]} is OLDER than the index's "
                f"last rebuild commit v{rebuild_v} — the build crashed "
                "between commit and sidecar write; re-run "
                "build_opq_index_logged (decoding the new rows with the "
                "old meta would silently return wrong neighbors)"
            )
    with open(best[1]) as fh:
        return _json.load(fh)


def _opq_store(spark: SparkSession, path: str):
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import SnapshotStore

    return SnapshotStore(spark, path, stats_cols=["c0"])


def _opq_encode(
    rot: DataFrame,
    codebooks: list,
    n_files: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, rotated vector) -> the stored index row
    (id, vector, codes, rn, c0): PQ codes + reconstructed norm from the
    FROZEN codebooks (broadcast data, no plan literals), clustered by
    the first subspace code so files have code locality — the
    compaction key, and a manifest-stats prune axis for free."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity import (
        _codebook_row,
        _pq_codes,
        _pq_recon_norm,
    )

    sub = len(codebooks[0][0])
    cb_row = _codebook_row(rot.sparkSession, codebooks)
    coded = (
        rot.withColumn("_one", F.lit(1))
        .join(F.broadcast(cb_row), "_one")
        .withColumn("codes", _pq_codes(vec_col, sub))
        .select(
            id_col,
            vec_col,
            "codes",
            _pq_recon_norm().alias("rn"),
            F.element_at("codes", 1).alias("c0"),
        )
        # pin before the range repartition: its boundary SAMPLING job
        # would otherwise recompute the whole encode a second time
        # (round-8 cold-path profile — encode+commit was 4.4 s)
        .localCheckpoint()
    )
    return coded.repartitionByRange(
        max(1, n_files), "c0", id_col
    ).sortWithinPartitions("c0", id_col)


def _fold_rotate(
    df: DataFrame, comps: list, dim: int, id_col: str, vec_col: str
) -> DataFrame:
    """SERVE-side rotation, Python-free: the rotation matrix travels as
    broadcast DATA (a 1-row frame, the round-4 codebook-delivery
    lesson), and the projection is ONE transform-over-axes expression —
    d plan-literal fold expressions (pca_project's shape) compile d
    separate codegen aggregates, which at dim=64 dominated the warm
    query time (~4.5 s measured, almost all plan compile). Fold order
    per axis is identical to pca_project's (sequential sum over
    components of x*c with x cast to double), so results are
    bit-identical to the literal form."""
    spark = df.sparkSession
    rot_row = F.broadcast(
        spark.createDataFrame(
            [([[float(c) for c in axis] for axis in comps],)],
            "_rot array<array<double>>",
        ).withColumn("_one", F.lit(1))
    )
    rotated = F.transform(
        F.col("_rot"),
        lambda axis: F.aggregate(
            F.zip_with(
                F.col(vec_col), axis, lambda x, c: x.cast("double") * c
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return (
        df.withColumn("_one", F.lit(1))
        .join(rot_row, "_one")
        .select(id_col, rotated.alias(vec_col))
    )


def build_opq_index_logged(
    corpus: DataFrame,
    path: str,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    train_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained: tuple | None = None,
) -> int:
    """Persist the FULL OPQ serving tier (round-7 verdict item 4) as a
    SnapshotStore table: variance-balanced rotation of the corpus
    (opq_balanced_rotation — the measured -5.5% quantization-error cut,
    PERFORMANCE.md §10), PQ codebooks TRAINED in rotated space, and the
    rotated+coded rows (id, vector, codes, rn, c0) committed atomically.
    The rotation matrix + codebooks — the frozen encode contract — ride
    a version-stamped meta sidecar (the save_bpe pattern), so queries
    at any version reproduce the exact build-time encoding,
    and a retrain is an atomic overwrite+sidecar swap with the old
    index still time-travelable. Returns the commit version.

    ``trained=(comps, rot, codebooks)``: reuse an already-trained
    rotation + rotated corpus + codebooks (the round-8 cold-path fix:
    ann_cosine_topk_opq and this build run the identical deterministic
    training pipeline over the same corpus — computing it twice per
    session doubled the cold cost for zero information)."""
    from ccxt_ohlcv_fetcher_spark.operators.embeddings import (
        opq_balanced_rotation,
        rotate_partial,
    )
    from ccxt_ohlcv_fetcher_spark.operators.similarity import (
        train_pq_codebooks,
    )

    spark = corpus.sparkSession
    if trained is not None:
        comps, rot, codebooks = trained
    else:
        comps, _mean = opq_balanced_rotation(
            corpus, dim=dim, m=m, id_col=id_col, vec_col=vec_col
        )
        rot = rotate_partial(
            corpus, comps, [0.0] * dim, id_col=id_col, vec_col=vec_col
        ).localCheckpoint()
        codebooks = train_pq_codebooks(
            rot, dim, m, n_codes, n_iter=train_iters,
            corpus_id=id_col, vec_col=vec_col,
        )
    store = _opq_store(spark, path)
    version = store.overwrite(
        _opq_encode(rot, codebooks, n_codes, id_col, vec_col)
    )
    _write_opq_meta(
        path,
        version,
        {
            "version": version,
            "dim": dim,
            "m": m,
            "n_codes": n_codes,
            "comps": comps,
            "codebooks": codebooks,
        },
    )
    return version


def query_opq_index_logged(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    version: int | None = None,
) -> DataFrame:
    """Top-k against the persisted OPQ index: RAW queries in, the
    version's frozen rotation applied plan-literally (codegen fold, no
    Python boundary), then the exact pq_cosine_topk serving shape over
    the STORED codes — the ADC candidate scan reads (id, codes, rn)
    only (parquet column pruning keeps the vector column on disk),
    and the ``rerank*k`` shortlist re-reads stored rotated vectors for
    exact cosines (rotation is orthonormal, so they ARE the raw-space
    cosines up to float association). Bit-equal to the in-memory
    ``pq_cosine_topk`` over the same rotated corpus + frozen codebooks
    (pinned). ``version=`` pins a historical index snapshot, meta and
    rows together."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity import (
        _codebook_row,
        _pq_adc,
        _pq_query_lut,
    )

    store = _opq_store(spark, path)
    v = store.latest_version() if version is None else version
    meta = _load_opq_meta(path, v, store=store)
    dim, n_codes = meta["dim"], meta["n_codes"]
    sub = dim // meta["m"]
    rq = _fold_rotate(queries, meta["comps"], dim, query_id, query_vec)
    q = _with_norm(rq, query_vec, "_qn")
    cb_row = _codebook_row(spark, meta["codebooks"])
    q_lut = (
        q.withColumn("_one", F.lit(1))
        .join(F.broadcast(cb_row), "_one")
        .select(
            "_one", query_id, "_qn", _pq_query_lut(query_vec, sub).alias("_lut")
        )
    )
    index = store.read(version=v)
    scored = (
        index.select(id_col, "codes", "rn")
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(q_lut), "_one")
        .select(
            query_id,
            F.col(id_col),
            (_pq_adc() / (F.col("rn") * F.col("_qn"))).alias("score"),
        )
    )

    def topk(df: DataFrame, n: int) -> DataFrame:
        item = F.struct((-F.col("score")).alias("neg"), F.col(id_col).alias("id"))
        return (
            df.groupBy(query_id)
            .agg(F.slice(F.array_sort(F.collect_list(item)), 1, n).alias("_top"))
            .select(query_id, F.posexplode("_top").alias("pos", "item"))
            .select(
                query_id,
                F.col("item.id").alias(id_col),
                (-F.col("item.neg")).alias("score"),
                (F.col("pos") + 1).alias("rank"),
            )
        )

    if not rerank:
        return topk(scored, k)
    shortlist = topk(scored, rerank * k).select(query_id, id_col)
    exact = (
        shortlist.join(
            _with_norm(index.select(id_col, vec_col), vec_col, "_cn"), id_col
        )
        .join(F.broadcast(q), query_id)
        .select(
            query_id,
            F.col(id_col),
            (
                dot_product(vec_col, query_vec) / (F.col("_cn") * F.col("_qn"))
            ).alias("score"),
        )
    )
    return topk(exact, k)
