"""Embedding statistics tier (operators/embeddings.py): the exact
relational Gram is the oracle-checked anchor; these tests pin the
Arrow-batched partial-Gram scale path to it, and the distributed PCA
pipeline to numpy's reference decomposition.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.operators.embeddings import (
    covariance_from_moments,
    gram_moments,
    gram_moments_partial,
    pca_components,
    pca_project,
)
from ccxt_ohlcv_fetcher_spark.sources.tables import load_table

DIM = 64


def _np_matrix(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    return np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64), [
        r["vec_id"] for r in rows
    ]


def test_partial_gram_matches_exact_tier(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["i"], r["j"]): (r["n"], r["sum_xy"], r["sum_x"], r["sum_y"])
        for r in gram_moments(emb).collect()
    }
    partial = {
        (r["i"], r["j"]): (r["n"], r["sum_xy"], r["sum_x"], r["sum_y"])
        for r in gram_moments_partial(emb, DIM).collect()
    }
    assert set(exact) == set(partial)
    assert len(exact) == DIM * (DIM + 1) // 2
    for k, (n, xy, x, y) in exact.items():
        pn, pxy, px, py = partial[k]
        assert pn == n
        # float partials sum in partition order: close, not bit-equal
        assert xy == pytest.approx(pxy, rel=1e-9, abs=1e-9)
        assert x == pytest.approx(px, rel=1e-9, abs=1e-9)
        assert y == pytest.approx(py, rel=1e-9, abs=1e-9)


def test_covariance_matches_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cov_df = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_from_moments(gram_moments(emb)).collect()
    }
    mat, _ = _np_matrix(spark, sf_dir)
    ref = np.cov(mat, rowvar=False, ddof=1)
    for (i, j), c in cov_df.items():
        assert c == pytest.approx(ref[i, j], rel=1e-8, abs=1e-12)


def test_pca_projection_matches_numpy_reference(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    comps, variances, mean = pca_components(emb, dim=DIM, k=4)
    mat, ids = _np_matrix(spark, sf_dir)
    centered = mat - mat.mean(axis=0)
    ref_cov = np.cov(mat, rowvar=False, ddof=1)
    vals, vecs = np.linalg.eigh(ref_cov)
    order = np.argsort(vals)[::-1][:4]
    # explained variance matches the reference spectrum
    for got, idx in zip(variances, order):
        assert got == pytest.approx(vals[idx], rel=1e-6)
    assert variances == sorted(variances, reverse=True)
    # each component spans the same axis as the reference eigenvector
    # (possibly opposite sign): |dot| ~ 1
    for comp, idx in zip(comps, order):
        d = abs(float(np.dot(comp, vecs[:, idx])))
        assert d == pytest.approx(1.0, abs=1e-6)
    # distributed projection equals the numpy projection
    proj = pca_project(emb, comps, mean).orderBy("vec_id").collect()
    ref_proj = centered @ np.asarray(comps).T
    assert [r["vec_id"] for r in proj] == ids
    for row, ref_row in zip(proj, ref_proj):
        for c in range(4):
            assert row[f"pc{c+1}"] == pytest.approx(ref_row[c], rel=1e-6, abs=1e-9)
    # projections are centered: each pc sums to ~0
    sums = np.asarray([[row[f"pc{c+1}"] for c in range(4)] for row in proj]).sum(axis=0)
    assert np.allclose(sums, 0, atol=1e-6)


def test_opq_balanced_rotation_cuts_pq_error(spark, sf_dir):
    """The OPQ story, measured: variance-balanced rotation beats raw;
    variance-SORTED PCA order is worse than balanced (energy piles
    into subspace 0). Deterministic pipeline -> stable ordering."""
    from pyspark.sql import functions as F

    from ccxt_ohlcv_fetcher_spark.operators.embeddings import (
        opq_balanced_rotation,
    )
    from ccxt_ohlcv_fetcher_spark.operators.similarity import (
        pq_quantization_error,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    m, codes = 8, 16
    err_raw = pq_quantization_error(emb, train_pq_codebooks(emb, DIM, m, codes))

    comps, mean = opq_balanced_rotation(emb, DIM, m)
    rot = pca_project(emb, comps, mean)
    vec = F.array(*[F.col(f"pc{i+1}").cast("float") for i in range(DIM)])
    rot_emb = rot.select("vec_id", vec.alias("embedding"))
    err_bal = pq_quantization_error(
        rot_emb, train_pq_codebooks(rot_emb, DIM, m, codes)
    )
    assert err_bal < err_raw  # balanced rotation strictly helps

    # rotation is orthonormal: total variance (= total energy around
    # the mean) is preserved, so the gain is reallocation, not scaling
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x * x,
    )
    raw_e = emb.agg(F.sum(sq).alias("e")).collect()[0]["e"]
    centered_rot_e = rot_emb.agg(F.sum(sq).alias("e")).collect()[0]["e"]
    import math

    n = emb.count()
    mean_e = sum(v * v for v in mean) * n
    assert math.isclose(centered_rot_e, raw_e - mean_e, rel_tol=1e-6)


def test_opq_ann_preserves_geometry_and_recall(spark, sf_dir):
    """The OPQ ANN tier: rotated exact-reranked results match raw-space
    exact cosines (rotation is orthonormal and uncentered), and recall
    vs the exact path clears the PQ tier's floor."""
    from ccxt_ohlcv_fetcher_spark.plans.llm import ann_cosine_topk_opq
    from ccxt_ohlcv_fetcher_spark.operators.similarity import cosine_topk
    from pyspark.sql import functions as F

    out = ann_cosine_topk_opq(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = cosine_topk(emb, queries, k=5).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["q_id"], set()).add(r["vec_id"])
    got = {}
    scores = {}
    for r in out:
        got.setdefault(r["q_id"], set()).add(r["vec_id"])
        scores[(r["q_id"], r["vec_id"])] = r["score"]
    hits = sum(len(got[q] & truth[q]) for q in truth)
    recall = hits / sum(len(v) for v in truth.values())
    assert recall >= 0.5, recall
    # re-ranked scores are true cosines: wherever ANN and exact agree
    # on a pair, the scores agree to float tolerance
    exact_scores = {(r["q_id"], r["vec_id"]): r["score"] for r in exact}
    import math

    shared = set(scores) & set(exact_scores)
    assert shared
    for kpair in shared:
        assert math.isclose(scores[kpair], exact_scores[kpair], rel_tol=1e-9)


def test_opq_rotation_rejects_indivisible_dim(spark):
    """ADVICE r6 (low): an indivisible dim made the round-robin perm
    collide (overwritten + defaulted slots -> silently non-orthonormal
    'rotation'); the guard must refuse before any computation."""
    import pytest as _pytest

    from ccxt_ohlcv_fetcher_spark.operators.embeddings import (
        opq_balanced_rotation,
    )

    emb = spark.createDataFrame(
        [(0, [0.0] * 10)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="divisible"):
        opq_balanced_rotation(emb, dim=10, m=3)


def _opq_rows(df):
    return sorted(
        (r["q_id"], r["vec_id"], r["rank"], r["score"]) for r in df.collect()
    )


def test_opq_logged_index_bit_equal_append_compact(spark, sf_dir, tmp_path):
    """The persisted snapshot-logged OPQ index (round-7 verdict item 4):
    (1) queries are BIT-EQUAL to the in-memory pq_cosine_topk over the
    same rotated corpus + frozen codebooks; (2) compaction shrinks the
    file count without changing one result row; (3) version=
    time-travels meta and rows together."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity import pq_cosine_topk
    from ccxt_ohlcv_fetcher_spark.operators.similarity_index import (
        _fold_rotate,
        _load_opq_meta,
        _opq_store,
        build_opq_index_logged,
        query_opq_index_logged,
    )
    from ccxt_ohlcv_fetcher_spark.sources.tables import load_table

    DIM = 64
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "opq")

    v1 = build_opq_index_logged(
        emb, path, dim=DIM, m=8, n_codes=16, train_iters=2
    )
    queries = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got1 = query_opq_index_logged(spark, path, queries, k=5, rerank=4)

    # (1) bit-equality vs in-memory over the SAME frozen meta + stored
    # rotated corpus + the same fold-rotated queries
    meta = _load_opq_meta(path, v1)
    store = _opq_store(spark, path)
    rot_corpus = store.read(version=v1).select("vec_id", "embedding")
    rq = _fold_rotate(queries, meta["comps"], DIM, "q_id", "q_vec")
    want1 = pq_cosine_topk(
        rot_corpus, rq, k=5, dim=DIM, m=8, n_codes=16, rerank=4,
        codebooks=meta["codebooks"],
    )
    assert _opq_rows(got1) == _opq_rows(want1)

    # (2) fragmentation: clustered compact shrinks the file count and
    # changes NOTHING
    files_before = len(store.manifest()["files"])
    store.compact(target_partitions=4, order_by=["c0", "vec_id"])
    files_after = len(store.manifest()["files"])
    assert files_after < files_before
    got_compacted = query_opq_index_logged(spark, path, queries, k=5, rerank=4)
    assert _opq_rows(got_compacted) == _opq_rows(got1)

    # (3) time travel reads the pre-compaction files under v1's meta
    assert store.manifest(v1)["files"] != store.manifest()["files"]
    got_v1 = query_opq_index_logged(
        spark, path, queries, k=5, rerank=4, version=v1
    )
    assert _opq_rows(got_v1) == _opq_rows(got1)


def test_opq_stale_sidecar_refused(spark, sf_dir, tmp_path):
    """ADVICE r7: a crash between a RETRAIN's store commit and its
    sidecar write must fail loud at query time — decoding the new rows
    with the previous build's rotation/codebooks would silently return
    wrong neighbors. Simulated by deleting the newest sidecar after a
    second build."""
    import glob
    import os

    import pytest as _pytest

    from ccxt_ohlcv_fetcher_spark.operators.similarity_index import (
        build_opq_index_logged,
        query_opq_index_logged,
    )
    from ccxt_ohlcv_fetcher_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "opq")
    build_opq_index_logged(emb.filter("vec_id % 2 = 0"), path, dim=64,
                           m=8, n_codes=16, train_iters=1)
    v2 = build_opq_index_logged(emb, path, dim=64, m=8, n_codes=16,
                                train_iters=1)  # retrain overwrite
    queries = emb.filter("vec_id < 4").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    assert query_opq_index_logged(spark, path, queries, k=3).count() > 0
    os.remove(os.path.join(path, f"_opq_meta_v{v2}.json"))
    assert glob.glob(os.path.join(path, "_opq_meta_v*.json"))  # v1 remains
    with _pytest.raises(RuntimeError, match="OLDER than the index's last"):
        query_opq_index_logged(spark, path, queries, k=3).count()


def test_opq_persisted_registry_query_plan_python_free(spark, sf_dir):
    """The served query plan must be codegen-only: rotation is the
    plan-literal fold, codes come from the store — no Python boundary,
    no cartesian product."""
    from ccxt_ohlcv_fetcher_spark.plans import load_all

    df = load_all()["ann_opq_persisted_topk"].builder(spark, sf_dir)
    rows = df.collect()
    assert rows and len({r["q_id"] for r in rows}) == 10
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan
    assert "CartesianProduct" not in plan
