"""Quality/semantics tests for the LLM-pipeline operators beyond oracle
parity: ANN recall vs the exact path, MinHash-LSH recall vs true
Jaccard, exact-dedup semantics on crafted dups, multimodal plumbing
(binary round-trip, batch kernel, stub gate).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.operators.dedup import (
    exact_dedup,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from ccxt_ohlcv_fetcher_spark.operators.multimodal import (
    decode_media,
    extract_features,
    media_from_documents,
)
from ccxt_ohlcv_fetcher_spark.operators.similarity import ann_cosine_topk, cosine_topk
from ccxt_ohlcv_fetcher_spark.operators.text import words
from ccxt_ohlcv_fetcher_spark.sources.tables import load_table


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb"), (3, "cc dd"), (4, "aa bb")],
        "doc_id long, text string",
    )
    kept = exact_dedup(df, "text", "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_jaccard_identical_docs_score_one(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.99).collect()
    assert len(pairs) == 1
    assert (pairs[0]["id_a"], pairs[0]["id_b"], pairs[0]["jaccard"]) == (1, 2, 1.0)


def test_minhash_lsh_recall_vs_true_jaccard(spark, sf_dir):
    """LSH param check (SURVEY.md §7 hard point e): candidates must cover
    every pair with Jaccard >= 0.5 (at b=4, r=2 the detection probability
    at s=0.5 is 1-(1-0.25)^4 ≈ 0.68 per band structure — but the fixture's
    high-sim pairs are >= 0.9 where p ≈ 0.9996, so full recall expected)."""
    docs = load_table(spark, sf_dir, "documents")
    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.9).collect()
    }
    cands = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(docs, "text", "doc_id", k=8, bands=4).collect()
    }
    assert true_pairs, "fixture should contain at least one >=0.9 near-dup pair"
    missed = true_pairs - cands
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "the quick brown fox jumps over the lazy dog near the river shore"),
            (3, "entirely different words compose this completely unrelated sample text here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["s"] for r in df.select("doc_id", simhash(words("text")).alias("s")).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(rows[1], rows[2]) < ham(rows[1], rows[3])


def test_ann_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = cosine_topk(emb, queries, k=5)
    approx = ann_cosine_topk(emb, queries, k=5, dim=64, n_planes=4)
    e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 4 hyperplanes -> 16 buckets over 500 vectors; random Gaussians have
    # neighbors near the equator so recall is modest — this asserts the
    # pipeline retrieves, not that 4 planes are production-grade
    assert recall >= 0.3, f"ANN recall collapsed: {recall}"
    # self-match must always survive (query == corpus vector, same bucket)
    self_pairs = {(q, q) for q, _ in e if (q, q) in e}
    assert self_pairs <= a


def test_allpairs_topk_recall_and_no_broadcast(spark, sf_dir):
    """Corpus x corpus all-k-NN (allpairs_cosine_topk): recall vs the
    exact all-pairs truth, self-pairs excluded, ranks well-formed, and —
    the point of the formulation — neither side of the candidate join is
    broadcast (the query set is the corpus; at scale there is nothing
    small enough to broadcast)."""
    from pyspark.sql.window import Window as W

    from ccxt_ohlcv_fetcher_spark.operators.similarity import allpairs_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    k = 3
    # exact truth: every row queries the whole corpus; drop self-match,
    # keep the top k strictly-other neighbors
    queries = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = (
        cosine_topk(emb, queries, k=k + 1)
        .filter(F.col("q_id") != F.col("vec_id"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.desc("score"), "vec_id")
            ),
        )
        .filter(F.col("rk") <= k)
    )
    approx = allpairs_cosine_topk(emb, k=k, dim=64, n_planes=4, multiprobe=2)
    e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    rows = approx.collect()
    a = {(r["vec_id"], r["neighbor_id"]) for r in rows}
    assert not any(r["vec_id"] == r["neighbor_id"] for r in rows), "self-pair leaked"
    by_id: dict = {}
    for r in rows:
        by_id.setdefault(r["vec_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_id.values())
    recall = len(e & a) / len(e)
    # 4 planes + 2 adaptive probes on Gaussian vectors: modest but real
    assert recall >= 0.3, f"all-pairs recall collapsed: {recall}"
    # scale posture: the self-join must not plan a broadcast of the corpus
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_recall_vs_exact(spark, sf_dir):
    from ccxt_ohlcv_fetcher_spark.operators.similarity import ivf_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = cosine_topk(emb, queries, k=5)
    approx = ivf_cosine_topk(emb, queries, k=5, n_cells=16, n_probe=6)
    e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.9, "IVF recall collapsed"
    # a probed query always reaches its own cell -> self-match survives
    self_pairs = {(q, q) for q, _ in e if (q, q) in e}
    assert self_pairs <= a


def test_cosine_topk_self_is_rank1(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = cosine_topk(emb, queries, k=1).collect()
    assert all(r["q_id"] == r["vec_id"] and r["rank"] == 1 for r in out)


def test_multimodal_roundtrip_and_kernel(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = media_from_documents(docs)
    # binary + struct metadata round-trips through parquet
    p = str(tmp_path / "media")
    media.write.parquet(p)
    back = spark.read.parquet(p)
    assert back.schema["payload"].dataType.typeName() == "binary"
    assert back.count() == 50
    feats = extract_features(back, dim=8).collect()
    assert len(feats) == 50
    for r in feats:
        assert r["n_bytes"] > 0
        assert len(r["feature"]) == 8
        assert 0 <= r["head_byte"] <= 255


def test_decode_media_parses_real_headers():
    """decode_media is a REAL pure-Python container parser (op E37):
    spec-valid bytes for all five formats decode to the right metadata;
    truncated/forged bytes raise (and become error rows in probe_media).
    """
    import struct
    import zlib

    from ccxt_ohlcv_fetcher_spark.operators.multimodal import (
        encode_minimal_png,
        encode_minimal_wav,
    )

    png = decode_media(encode_minimal_png(640, 480))
    assert (png["container"], png["width"], png["height"]) == ("png", 640, 480)

    wav = decode_media(encode_minimal_wav(16000, sample_rate=8000, channels=1))
    assert (wav["container"], wav["channels"], wav["sample_rate"]) == ("wav", 1, 8000)
    assert wav["duration_ms"] == 2000  # 16000 samples @ 8kHz mono PCM16

    gif = decode_media(b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 3)
    assert (gif["container"], gif["width"], gif["height"]) == ("gif", 320, 200)

    bmp_hdr = b"BM" + b"\x00" * 16 + struct.pack("<ii", 64, -32) + b"\x00" * 8
    bmp = decode_media(bmp_hdr)
    assert (bmp["container"], bmp["width"], bmp["height"]) == ("bmp", 64, 32)

    # minimal JPEG: SOI + SOF0 (len 17, precision 8, h=120, w=80, 3 comps)
    sof = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 120, 80)
    jpg = decode_media(b"\xff\xd8" + sof + b"\x03" + b"\x00" * 12)
    assert (jpg["container"], jpg["width"], jpg["height"]) == ("jpeg", 80, 120)

    mp3 = decode_media(b"ID3\x04\x00\x00\x00\x00\x02\x01" + b"\x00" * 20)
    assert mp3["container"] == "mp3"
    assert mp3["title"] is None  # no frames, no trailer

    # ID3v2.3 text frames parse into typed tag fields
    from ccxt_ohlcv_fetcher_spark.operators.multimodal import encode_id3v2_mp3

    tagged = decode_media(
        encode_id3v2_mp3(title="Song", artist="Band", album="LP", year="1999")
    )
    assert (tagged["title"], tagged["artist"], tagged["album"], tagged["year"]) == (
        "Song", "Band", "LP", "1999"
    )
    # ID3v1 trailer fills fields v2 frames did not set
    v1_only = decode_media(
        encode_id3v2_mp3(title="OnlyTitle")
        + b"TAG" + b"\x00" * 30 + b"Tailer".ljust(30, b"\x00")
        + b"\x00" * 30 + b"2001" + b"\x00" * 30 + b"\xff"
    )
    assert v1_only["title"] == "OnlyTitle"  # v2 wins
    assert v1_only["artist"] == "Tailer" and v1_only["year"] == "2001"
    # ID3v2.4 syncsafe frame sizes + utf-8 encoding byte
    data = b"\x03" + "naïve".encode("utf-8")
    frame = b"TIT2" + bytes([0, 0, 0, len(data)]) + b"\x00\x00" + data
    size = len(frame)
    v24 = (
        b"ID3\x04\x00\x00"
        + bytes([(size >> 21) & 0x7F, (size >> 14) & 0x7F, (size >> 7) & 0x7F, size & 0x7F])
        + frame
    )
    assert decode_media(v24)["title"] == "naïve"
    # truncated/garbage frame region degrades to container-only, no raise
    junk = decode_media(b"ID3\x03\x00\x00\x00\x00\x00\x7f" + b"\xde\xad\xbe\xef" * 8)
    assert junk["container"] == "mp3" and junk["title"] is None

    # 0xFF fill bytes before a marker are legal padding (ISO 10918-1
    # B.1.1.2) — the walk must skip them, not read a length from them
    app0 = b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
    padded = decode_media(b"\xff\xd8" + app0 + b"\xff\xff\xff" + sof + b"\x03" + b"\x00" * 12)
    assert (padded["width"], padded["height"]) == (80, 120)
    # SOS before any SOF: entropy-coded data is not marker-structured,
    # so the walk must stop there and reject, not scan into the scan data
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x3f\x00\x00"
    with pytest.raises(ValueError):
        decode_media(b"\xff\xd8" + sos + b"\xff\xc0\x00\x00" * 4)

    with pytest.raises(ValueError):
        decode_media(b"\x89PNG")  # truncated magic, no IHDR
    with pytest.raises(ValueError):
        decode_media(b"not media at all")
    # forged CRC must be rejected, not silently parsed
    forged = bytearray(encode_minimal_png(10, 10))
    forged[-1] ^= 0xFF
    with pytest.raises(ValueError):
        decode_media(bytes(forged))


def test_probe_media_end_to_end(spark):
    """Spark-side decode: encode->probe round-trip plus a corrupt payload
    that must yield an error ROW (tasks never die on bad inputs)."""
    from ccxt_ohlcv_fetcher_spark.operators.multimodal import (
        encode_minimal_png,
        encode_minimal_wav,
        probe_media,
    )

    media = spark.createDataFrame(
        [
            (1, encode_minimal_png(12, 34)),
            (2, encode_minimal_wav(8000)),
            (3, b"\x00\x01garbage"),
            (4, None),
        ],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in probe_media(media).collect()}
    assert (rows[1]["container"], rows[1]["width"], rows[1]["height"]) == ("png", 12, 34)
    assert rows[1]["decode_error"] is None
    assert (rows[2]["container"], rows[2]["duration_ms"]) == ("wav", 1000)
    assert rows[3]["container"] is None and rows[3]["decode_error"]
    assert rows[4]["container"] is None and rows[4]["decode_error"]


def test_multiprobe_lsh_improves_recall(spark, sf_dir):
    """Multiprobe (1-bit-flip probing) must dominate plain LSH: strictly
    more candidates examined -> recall vs exact is a superset measure."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    e = {(r["q_id"], r["vec_id"]) for r in cosine_topk(emb, queries, k=5).collect()}
    plain = {
        (r["q_id"], r["vec_id"])
        for r in ann_cosine_topk(emb, queries, k=5, dim=64, n_planes=4).collect()
    }
    probed = {
        (r["q_id"], r["vec_id"])
        for r in ann_cosine_topk(
            emb, queries, k=5, dim=64, n_planes=4, multiprobe=4
        ).collect()
    }
    r_plain = len(e & plain) / len(e)
    r_probed = len(e & probed) / len(e)
    assert r_probed >= r_plain, (r_plain, r_probed)
    # probing all 4 planes at distance 1 must visibly lift recall on the
    # equator-heavy Gaussian fixture (plain 4-plane recall is modest)
    assert r_probed > 0.5, f"multiprobe recall too low: {r_probed} (plain {r_plain})"


def test_adaptive_multiprobe_beats_fixed_at_equal_budget(spark, sf_dir):
    """Margin-ordered (adaptive) probing must match-or-beat fixed-bit
    probing at the SAME probe budget: it flips the planes the query
    sits closest to, where the missed neighbors actually are. With m =
    n_planes the two probe identical bucket sets, so the gap appears at
    partial budgets (m < n_planes). Pinned at sf0.01 — at 500 vectors
    (sf0.001) the 150-truth-pair sample is small enough for 1-2-pair
    noise to invert the ordering; at 5000 vectors the win is stable
    across every (n_planes, m) measured (PERFORMANCE.md §6)."""
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    e = {(r["q_id"], r["vec_id"]) for r in cosine_topk(emb, queries, k=10).collect()}

    def recall(m: int, adaptive: bool) -> float:
        got = {
            (r["q_id"], r["vec_id"])
            for r in ann_cosine_topk(
                emb, queries, k=10, dim=64, n_planes=8, multiprobe=m, adaptive=adaptive
            ).collect()
        }
        return len(e & got) / len(e)

    for m in (2, 4):
        r_fixed, r_adaptive = recall(m, False), recall(m, True)
        assert r_adaptive >= r_fixed, (m, r_fixed, r_adaptive)
    # and the adaptive curve is monotone in the budget
    assert recall(4, True) >= recall(2, True)


def test_ivf_recall_monotone_and_finer_cells_win(spark):
    """Pins the measured IVF trade-offs (PERFORMANCE.md §6): recall
    rises with probe count, and at equal corpus fraction finer
    partitioning beats coarser (32/4 > 16/2, both touch ~12%)."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity import ivf_cosine_topk

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    truth = {(r["q_id"], r["vec_id"]) for r in cosine_topk(emb, queries, k=10).collect()}

    def recall(cells: int, probes: int) -> float:
        got = {
            (r["q_id"], r["vec_id"])
            for r in ivf_cosine_topk(
                emb, queries, k=10, n_cells=cells, n_probe=probes
            ).collect()
        }
        return len(got & truth) / len(truth)

    r2, r4, r8 = recall(16, 2), recall(16, 4), recall(16, 8)
    assert r2 <= r4 <= r8, (r2, r4, r8)
    assert recall(32, 4) > r2  # same 12% fraction, finer cells


def test_minhash_candidate_pairs_rejects_indivisible_bands(spark):
    """ADVICE r1: k % bands != 0 would silently drop trailing signature
    components (wrong LSH collision probability) — must raise instead."""
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        minhash_candidate_pairs(docs, "text", "doc_id", k=10, bands=4)


def test_contamination_planted_leak(spark):
    """Planted leak: a train doc containing a test doc's exact text must
    be flagged at overlap_frac 1.0; an unrelated doc must not appear,
    and decontaminate() must drop exactly the flagged doc."""
    from ccxt_ohlcv_fetcher_spark.operators.dedup import (
        decontaminate,
        ngram_contamination_pairs,
    )

    test = spark.createDataFrame(
        [(100, "the quick brown fox jumps over dogs")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "prefix words the quick brown fox jumps over dogs suffix"),
            (2, "completely different content about spark engines here"),
            (3, "the quick brown cat sleeps all day long"),  # partial 1-gram overlap only
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["test_id"], r["train_id"]): r
        for r in ngram_contamination_pairs(train, test, "text", "doc_id", n=3).collect()
    }
    assert (100, 1) in pairs and pairs[(100, 1)]["overlap_frac"] == 1.0
    assert (100, 2) not in pairs
    # doc 3 shares "the quick brown" (one 3-gram)
    assert pairs.get((100, 3), None) is not None and pairs[(100, 3)]["n_shared"] == 1

    clean = decontaminate(train, test, "text", "doc_id", n=3, min_shared=2)
    assert sorted(r["doc_id"] for r in clean.collect()) == [2, 3]


def test_pq_adc_recall_and_rerank_monotone(spark, sf_dir):
    """PQ/ADC tier: recall vs exact has a real floor, exact re-rank of a
    larger ADC shortlist is monotonically better, and rank-1 scores from
    the re-ranked path are TRUE cosines (bit-equal to the exact path for
    pairs both retrieve)."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity import pq_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact_rows = cosine_topk(emb, queries, k=5).collect()
    e = {(r["q_id"], r["vec_id"]) for r in exact_rows}
    escore = {(r["q_id"], r["vec_id"]): r["score"] for r in exact_rows}

    def run(rerank):
        rows = pq_cosine_topk(
            emb, queries, k=5, dim=64, m=8, n_codes=16, rerank=rerank
        ).collect()
        return rows, len(e & {(r["q_id"], r["vec_id"]) for r in rows}) / len(e)

    rows0, r0 = run(0)
    rows4, r4 = run(4)
    _, r8 = run(8)
    assert r0 >= 0.25, f"raw ADC recall collapsed: {r0}"
    assert r4 >= r0 and r8 >= r4, f"rerank not monotone: {r0} {r4} {r8}"
    assert r8 >= 0.7, f"reranked recall too low: {r8}"
    # re-ranked scores are exact cosines (ADC-only scores are not)
    for r in rows4:
        key = (r["q_id"], r["vec_id"])
        if key in escore:
            assert r["score"] == escore[key]


def test_connected_components_chain_and_isolates(spark):
    """A chain a-b-c collapses to one component via transitivity (needs
    >1 propagation round), isolated nodes keep their own id, and two
    disjoint clusters never merge."""
    from ccxt_ohlcv_fetcher_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    edges = spark.createDataFrame(
        [(5, 3), (3, 1), (6, 7)],  # chain 1-3-5 (min label must hop twice), pair 6-7
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["comp"] for r in connected_components(nodes, edges).collect()}
    assert comp[1] == comp[3] == comp[5] == 1
    assert comp[6] == comp[7] == 6
    assert comp[2] == 2 and comp[4] == 4


def test_pq_training_reduces_quantization_error(spark, sf_dir):
    """train_pq_codebooks must strictly reduce total reconstruction
    error vs the untrained (lowest-id seed) codebook — the k-means
    objective. (On this isotropic-Gaussian fixture lower error does NOT
    translate into higher ADC recall — there is no cluster structure to
    exploit — so recall is pinned on the untrained path and error here;
    see PERFORMANCE.md §7.)"""
    from ccxt_ohlcv_fetcher_spark.operators.similarity import (
        pq_quantization_error,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim, m, n_codes = 64, 8, 16
    sub = dim // m
    seeds = emb.orderBy("vec_id").limit(n_codes).select("embedding").collect()
    untrained = [
        [[float(x) for x in r["embedding"][j * sub : (j + 1) * sub]] for r in seeds]
        for j in range(m)
    ]
    trained = train_pq_codebooks(emb, dim, m, n_codes, n_iter=3)
    e0 = pq_quantization_error(emb, untrained)
    e1 = pq_quantization_error(emb, trained)
    assert e1 < e0 * 0.8, f"training did not reduce error: {e0} -> {e1}"
    # determinism: same seeds + exact-decimal means -> same codebooks
    again = train_pq_codebooks(emb, dim, m, n_codes, n_iter=3)
    assert trained == again


def _clustered_embeddings(n=512, dim=64, n_clusters=2, noise=0.2):
    """Deterministic mixture-of-Gaussians fixture with BLOCK cluster
    assignment (i // (n/n_clusters)): vec ids correlate with content —
    the realistic crawl-order shape — so the lowest-id PQ seeds all come
    from ONE cluster. This is exactly the seed bias codebook TRAINING
    exists to fix (k-means redistributes codewords over the data the
    seeds missed)."""
    import numpy as np

    rng = np.random.default_rng(2026)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    per = n // n_clusters
    rows = []
    for i in range(n):
        v = centers[i // per] + noise * rng.standard_normal(dim)
        rows.append((i, [float(x) for x in v]))
    return rows


def test_pq_training_lifts_recall_on_clustered_fixture(spark):
    """Where PQ codebook training pays, measured: on the isotropic sf
    embeddings fixture training reduces quantization error but NOT
    recall (PERFORMANCE.md §7's negative result). On a clustered corpus
    whose ids correlate with content (block-assigned mixture — the
    crawl-order shape), lowest-id seeds cover only the first cluster
    and raw-ADC recall collapses for the rest; 3 Lloyd iterations
    redistribute codewords and lift recall (measured 0.30 -> 0.42 at
    rerank=0). Sweep note: when codes ~= clusters and seeds are well
    spread, training can even COST recall by collapsing intra-cluster
    resolution into identical codes — the lift is specifically a
    seed-bias fix, not a universal win."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity import pq_cosine_topk

    emb = spark.createDataFrame(
        _clustered_embeddings(), "vec_id long, embedding array<double>"
    )
    # queries spread across the id range -> both clusters probed
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["vec_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }

    def recall(train_iters):
        got = {
            (r["q_id"], r["vec_id"])
            for r in pq_cosine_topk(
                emb, queries, k=5, dim=64, m=8, n_codes=16,
                rerank=0, train_iters=train_iters,
            ).collect()
        }
        return len(exact & got) / len(exact)

    r_untrained, r_trained = recall(0), recall(3)
    assert r_trained > r_untrained + 0.05, (
        f"training did not lift recall on the biased-seed clustered "
        f"fixture: {r_untrained:.3f} -> {r_trained:.3f}"
    )


def test_ivfpq_recall_and_exact_rerank_scores(spark, sf_dir):
    """IVF-PQ composition: recall floor at n_probe=6/rerank=4, and the
    re-ranked scores are true cosines (bit-equal to the exact path)."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity import ivf_pq_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact_rows = cosine_topk(emb, queries, k=5).collect()
    e = {(r["q_id"], r["vec_id"]) for r in exact_rows}
    escore = {(r["q_id"], r["vec_id"]): r["score"] for r in exact_rows}
    rows = ivf_pq_cosine_topk(
        emb, queries, k=5, dim=64, n_cells=16, n_probe=6, m=8, n_codes=16, rerank=4
    ).collect()
    a = {(r["q_id"], r["vec_id"]) for r in rows}
    assert len(e & a) / len(e) >= 0.6, f"IVF-PQ recall collapsed: {len(e&a)/len(e)}"
    for r in rows:
        key = (r["q_id"], r["vec_id"])
        if key in escore:
            assert r["score"] == escore[key]


def test_pointer_jumping_collapses_long_paths(spark):
    """A 64-node path is the worst case for plain min-propagation
    (needs ~63 rounds — one hop per round); path halving must collapse
    it within O(log L) rounds. Run both at max_iter=12: pointer jumping
    fully converges, plain provably hasn't."""
    from ccxt_ohlcv_fetcher_spark.operators.dedup import connected_components

    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    jumped = connected_components(
        nodes, edges, max_iter=12, pointer_jumping=True
    ).collect()
    assert all(r["comp"] == 0 for r in jumped), "pointer jumping didn't converge"
    # plain propagation provably can't converge in 12 rounds on a
    # 64-path — exhausting max_iter must RAISE, not return partial labels
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iter=12).collect()


def test_persisted_ivfpq_index_matches_inmemory_and_prunes(spark, sf_dir, tmp_path):
    """Stored IVF-PQ index (the FAISS on-disk layout): query results are
    bit-equal to the in-memory ivf_pq_cosine_topk at the same seeds and
    parameters; the candidate scan carries a static PartitionFilters on
    the probed cells AND its ReadSchema excludes the embedding column
    (codes-only ADC — column pruning is the other half of the 100 TB
    story)."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity import ivf_pq_cosine_topk
    from ccxt_ohlcv_fetcher_spark.operators.similarity_index import (
        build_ivfpq_index,
        query_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    path = str(tmp_path / "ivfpq_index")
    assert build_ivfpq_index(emb, path, dim=64, n_cells=16, m=8, n_codes=16) == 16

    stored = query_ivfpq_index(
        spark, path, queries, k=5, n_probe=6, rerank=4
    )
    inmem = ivf_pq_cosine_topk(
        emb, queries, k=5, dim=64, n_cells=16, n_probe=6, m=8, n_codes=16, rerank=4
    )
    srows = sorted(map(tuple, stored.collect()))
    mrows = sorted(map(tuple, inmem.collect()))
    assert srows == mrows, "stored index diverged from the in-memory path"

    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # the ADC candidate scan reads codes, never the embedding column
    scan_lines = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln and "codes" in ln
    ]
    assert scan_lines and all("embedding" not in ln for ln in scan_lines), (
        "ADC scan materializes the embedding column:\n" + "\n".join(scan_lines)
    )


def test_persisted_ann_index_matches_inmemory_and_prunes(spark, sf_dir, tmp_path):
    """Stored LSH index: query results equal the in-memory ann path
    (same planes, same probes), and the scan carries a static
    PartitionFilters on the probed buckets — the index is read
    directory-pruned, never in full."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity_index import (
        build_ann_index,
        query_ann_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    path = str(tmp_path / "ann_index")
    assert build_ann_index(emb, path, dim=64, n_planes=4) == 16

    stored = query_ann_index(
        spark, path, queries, k=5, dim=64, n_planes=4, multiprobe=2
    )
    mem = ann_cosine_topk(
        emb, queries, k=5, dim=64, n_planes=4, multiprobe=2, adaptive=True
    )
    s = {(r["q_id"], r["vec_id"], r["rank"]) for r in stored.collect()}
    m = {(r["q_id"], r["vec_id"], r["rank"]) for r in mem.collect()}
    assert s == m, "stored-index results diverge from the in-memory path"

    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan.replace("\n", " ") or (
        "PartitionFilters" in plan and "bucket#" in plan
    ), "probe set did not become a partition filter"


def test_lsh_probe_depth2_recall_curve_on_clustered_fixture(spark):
    """VERDICT r5 item 7: pinned recall/cost curve for the probing-
    sequence (depth-2) multiprobe on the clustered fixture — the shape
    where LSH recall actually matters (tight clusters straddle cutting
    planes). Deterministic fixture + deterministic hyperplanes make
    these floors stable:

      4 planes, m=4, depth2 -> recall >= 0.60 (~31% of corpus probed)
      4 planes, m=6, depth2 -> recall >= 0.70 (~44%)  [recommended]
      4 planes, m=8, depth2 -> recall >= 0.80 (~56%)

    and depth-2 must dominate depth-1 at equal budget (single-bit
    saturates at m = n_planes; measured 0.600 vs 0.638 at m=4)."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity import ann_cosine_topk

    emb = spark.createDataFrame(
        _clustered_embeddings(), "vec_id long, embedding array<double>"
    )
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["vec_id"]) for r in cosine_topk(emb, queries, k=5).collect()
    }

    def recall(mp: int, depth: int) -> float:
        got = {
            (r["q_id"], r["vec_id"])
            for r in ann_cosine_topk(
                emb, queries, k=5, dim=64, n_planes=4,
                multiprobe=mp, adaptive=True, probe_depth=depth,
            ).collect()
        }
        return len(exact & got) / len(exact)

    floors = {4: 0.60, 6: 0.70, 8: 0.80}
    r = {mp: recall(mp, 2) for mp in floors}
    for mp, floor in floors.items():
        assert r[mp] >= floor, f"depth-2 m={mp}: recall {r[mp]:.3f} < {floor}"
    assert r[4] <= r[6] <= r[8]  # monotone in budget
    assert r[4] >= recall(4, 1)  # two-bit tail dominates at equal budget


def test_logged_ann_index_append_equals_rebuild(spark, sf_dir, tmp_path):
    """VERDICT r5 item 6: the snapshot-logged LSH index absorbs an
    incremental batch as ONE append commit; queries over the grown
    index equal a full rebuild over the union (deterministic
    hyperplanes), and the old version stays queryable (time travel)."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity_index import (
        append_ann_index_logged,
        build_ann_index_logged,
        query_ann_index_logged,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    grown_path = str(tmp_path / "idx_grown")
    v1 = build_ann_index_logged(old, grown_path, dim=64, n_planes=4)
    v2 = append_ann_index_logged(delta, grown_path, dim=64, n_planes=4)
    assert v2 == v1 + 1

    rebuilt_path = str(tmp_path / "idx_rebuilt")
    build_ann_index_logged(emb, rebuilt_path, dim=64, n_planes=4)

    def rows(df):
        return sorted(
            (r["q_id"], r["vec_id"], r["rank"], round(r["score"], 12))
            for r in df.collect()
        )

    grown = query_ann_index_logged(
        spark, grown_path, queries, k=5, dim=64, n_planes=4, multiprobe=2
    )
    rebuilt = query_ann_index_logged(
        spark, rebuilt_path, queries, k=5, dim=64, n_planes=4, multiprobe=2
    )
    assert rows(grown) == rows(rebuilt), "append diverged from rebuild"
    # time travel: version 1 is the pre-append index
    pinned = query_ann_index_logged(
        spark, grown_path, queries, k=5, dim=64, n_planes=4,
        multiprobe=2, version=v1,
    )
    old_only = query_ann_index_logged(
        spark, str(tmp_path / "idx_old"), queries, k=5, dim=64,
        n_planes=4, multiprobe=2,
    ) if build_ann_index_logged(old, str(tmp_path / "idx_old"), dim=64, n_planes=4) else None
    assert rows(pinned) == rows(old_only)
    # stats pruning: a probe set touches a strict subset of the files
    from ccxt_ohlcv_fetcher_spark.operators.similarity_index import _index_store

    store = _index_store(spark, grown_path)
    some = store.pruned_files({"bucket": (3, 3)})
    assert 0 < len(some) < len(store.manifest()["files"])


def test_ivfpq_index_append_equals_rebuild(spark, sf_dir, tmp_path):
    """Incremental IVF-PQ add with FROZEN meta: append-then-query must
    be bit-equal to querying a full rebuild whose training set is the
    ORIGINAL build corpus (train-once/add-forever — codebooks derive
    from the first build's lowest-id seeds either way)."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity_index import (
        append_ivfpq_index,
        build_ivfpq_index,
        query_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # split so the lowest-id seed vectors (ids 0..15) are all in `old`:
    # the rebuild then trains on the same seeds the frozen meta holds
    old = emb.filter(F.col("vec_id") < 50)
    delta = emb.filter(F.col("vec_id") >= 50)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    grown = str(tmp_path / "ivfpq_grown")
    build_ivfpq_index(old, grown, dim=64, n_cells=16, m=8, n_codes=16)
    n = append_ivfpq_index(delta, grown)
    assert n == delta.count()

    rebuilt = str(tmp_path / "ivfpq_rebuilt")
    build_ivfpq_index(emb, rebuilt, dim=64, n_cells=16, m=8, n_codes=16)

    def rows(path):
        df = query_ivfpq_index(spark, path, queries, k=5, n_probe=6, rerank=4)
        return sorted(
            (r["q_id"], r["vec_id"], r["rank"], round(r["score"], 12))
            for r in df.collect()
        )

    assert rows(grown) == rows(rebuilt), "IVF-PQ append diverged from rebuild"


def test_star_cc_equivalent_on_random_graph(spark):
    """large-star/small-star must produce the identical component
    labeling as min-label propagation on a random graph (including
    isolates), with roots = component minima."""
    import random

    from ccxt_ohlcv_fetcher_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    n = 120
    edges_py = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(90)
    ]
    edges_py = [(a, b) for a, b in edges_py if a != b]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(edges_py, "id_a long, id_b long")
    ref = {
        r["id"]: r["comp"]
        for r in connected_components(
            nodes, edges, pointer_jumping=True
        ).collect()
    }
    got = {
        r["id"]: r["comp"]
        for r in connected_components_star(nodes, edges).collect()
    }
    assert got == ref
    for node, comp in got.items():
        assert comp <= node  # root is the component minimum


def test_star_cc_collapses_long_path_in_log_rounds(spark):
    """A 256-node path needs ~255 rounds of plain propagation;
    alternating star rounds must converge within 10 (incl. the
    fixpoint-detection round) — the O(log^2 n) bound that makes it
    the web-graph-scale variant."""
    from ccxt_ohlcv_fetcher_spark.operators.dedup import (
        connected_components_star,
    )

    n = 256
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    comp = {
        r["id"]: r["comp"]
        for r in connected_components_star(nodes, edges, max_iter=10).collect()
    }
    assert set(comp.values()) == {0}


def test_trigram_lang_id_separates_distinct_distributions(spark, tmp_path):
    """The trained char-trigram classifier (lang_id_trigram) perfectly
    separates languages with genuinely distinct character distributions
    (the fixture's word soup can't show this), and short docs with no
    trigram overlap fall back to 'und'."""
    from ccxt_ohlcv_fetcher_spark.plans.llm import lang_id_trigram

    rows = []
    did = 0
    corpora = {
        "aa": ["alpha apple arcade amber banana area", "arena anchor aroma basil"],
        "kk": ["kayak kiosk knack kudzu kiwi", "khaki kettle kernel knoll"],
        "zz": ["zigzag fuzzy pizza buzz zesty", "dizzy jazz blizzard quiz"],
    }
    for lang, texts in corpora.items():
        for t in texts:
            rows.append((did, lang, t, len(t)))
            did += 1
    rows.append((did, "aa", "xq", 2))  # <3 chars -> no trigrams -> 'und'
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["doc_id"]: (r["labeled"], r["predicted"])
        for r in lang_id_trigram(spark, str(tmp_path)).collect()
    }
    assert len(got) == did + 1
    for d in range(did):
        labeled, predicted = got[d]
        assert predicted == labeled, f"doc {d}: {predicted} != {labeled}"
    assert got[did] == ("aa", "und")


def test_scoreaware_probing_equals_multiprobe_with_fewer_probes(spark, sf_dir, tmp_path):
    """Score-aware probing contract: row-identical to fixed-depth
    multiprobe (the bound-based skip is sound), with measurably fewer
    probed flip partitions. With queries drawn from the corpus and k=1,
    the home-bucket self-match (score ~1.0) exceeds every flip bound
    sqrt(1 - margin^2) < 1, so phase 2 probes ZERO flips."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity_index import (
        build_ann_index,
        query_ann_index,
        query_ann_index_scoreaware,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    path = str(tmp_path / "idx")
    build_ann_index(emb, path, dim=64, n_planes=4)

    for k, expect_zero in ((1, True), (5, False)):
        full = query_ann_index(
            spark, path, queries, k=k, dim=64, n_planes=4, multiprobe=3
        )
        stats: dict = {}
        sa = query_ann_index_scoreaware(
            spark, path, queries, k=k, dim=64, n_planes=4, multiprobe=3,
            stats_out=stats,
        )
        f = {(r["q_id"], r["vec_id"], r["rank"]) for r in full.collect()}
        s = {(r["q_id"], r["vec_id"], r["rank"]) for r in sa.collect()}
        assert s == f, f"k={k}: score-aware diverged from full multiprobe"
        assert stats["full_flip_pairs"] == 20 * 3
        assert stats["flip_pairs"] <= stats["full_flip_pairs"]
        if expect_zero:
            assert stats["flip_pairs"] == 0, (
                f"k=1 self-match should prune all flips, probed "
                f"{stats['flip_pairs']}"
            )


def test_logged_index_fragmentation_compaction_invariant(spark, sf_dir, tmp_path):
    """Bucket fragmentation vs recall on the logged LSH index
    (round-6 wishlist): after several appends each probed bucket spans
    ~one file per commit (probe-time read amplification grows with
    ingest), a clustered compact() collapses it back to ~one file per
    bucket in ONE atomic commit, and query results are identical
    before and after (compaction moves bytes, never rows)."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity_index import (
        _index_store,
        append_ann_index_logged,
        build_ann_index_logged,
        query_ann_index_logged,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ann_index_logged(emb.filter(F.col("vec_id") % 4 == 0), path, dim=64)
    for part in (1, 2, 3):
        append_ann_index_logged(
            emb.filter(F.col("vec_id") % 4 == part), path, dim=64
        )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    store = _index_store(spark, path)
    frag = max(
        len(store.pruned_files({"bucket": (b, b)})) for b in range(16)
    )
    assert frag >= 3, f"expected per-bucket fragmentation after 3 appends, got {frag}"

    def rows(df):
        return sorted(
            (r["q_id"], r["vec_id"], r["rank"], round(r["score"], 12))
            for r in df.collect()
        )

    before = rows(
        query_ann_index_logged(spark, path, queries, k=5, dim=64, multiprobe=2)
    )
    store.compact(target_partitions=16, order_by=["bucket"])
    compacted = max(
        len(store.pruned_files({"bucket": (b, b)})) for b in range(16)
    )
    assert compacted <= 2, f"clustered compact left {compacted} files per bucket"
    after = rows(
        query_ann_index_logged(spark, path, queries, k=5, dim=64, multiprobe=2)
    )
    assert before == after, "compaction changed query results"


def test_ivf_scoreaware_equals_fixed_probe_with_fewer_cells(spark, sf_dir):
    """IVF score-aware cell probing: row-identical to plain
    ivf_cosine_topk at equal n_probe (the spherical-triangle bound is
    sound), and on well-separated tight clusters with k=1 self-match
    queries, EVERY non-home probe is pruned (theta - radius >> 0 while
    s_1 ~ 1.0)."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity import (
        ivf_cosine_topk,
        ivf_cosine_topk_scoreaware,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    seeds = [
        list(map(float, r["embedding"]))
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    for k in (1, 5):
        full = ivf_cosine_topk(
            emb, queries, k=k, n_cells=8, n_probe=4, seed_vectors=seeds
        )
        stats: dict = {}
        sa = ivf_cosine_topk_scoreaware(
            emb, queries, k=k, n_cells=8, n_probe=4, seed_vectors=seeds,
            stats_out=stats,
        )
        f = {(r["q_id"], r["vec_id"], r["rank"]) for r in full.collect()}
        s = {(r["q_id"], r["vec_id"], r["rank"]) for r in sa.collect()}
        assert s == f, f"k={k}: score-aware IVF diverged from fixed probe"
        assert stats["rest_pairs"] <= stats["full_rest_pairs"] == 30

    # two tight, orthogonal clusters; ids 0/1 seed one centroid in each
    import math

    rows = []
    for i in range(40):
        base = [0.0] * 8
        if i % 2 == 0:
            base[0] = 1.0
        else:
            base[1] = 1.0
        base[2 + i % 5] = 0.01 * (1 + i % 3)  # tiny deterministic noise
        rows.append((i, [float(x) for x in base]))
    tight = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tq = tight.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    tseeds = [r[1] for r in rows[:2]]
    stats2: dict = {}
    sa2 = ivf_cosine_topk_scoreaware(
        tight, tq, k=1, n_cells=2, n_probe=2, seed_vectors=tseeds,
        stats_out=stats2,
    )
    full2 = ivf_cosine_topk(
        tight, tq, k=1, n_cells=2, n_probe=2, seed_vectors=tseeds
    )
    assert {(r["q_id"], r["vec_id"]) for r in sa2.collect()} == {
        (r["q_id"], r["vec_id"]) for r in full2.collect()
    }
    assert stats2["rest_pairs"] == 0, stats2
    assert all(r < 25 for r in stats2["radii"].values())  # tight cells


def test_duplicate_span_stats_semantics(spark):
    from ccxt_ohlcv_fetcher_spark.operators.dedup import duplicate_span_stats

    shared = "S" * 10  # span_len=8, stride=4: spans at pos 1, 5 (pos 5 -> chars 5..12)
    df = spark.createDataFrame(
        [
            (1, shared + "abcd"),          # shares the leading span with doc 2
            (2, shared + "wxyz"),
            (3, "unique-" + "q" * 10),     # no span shared with anyone
            (4, "short"),                  # < span_len: excluded entirely
            (5, "R" * 8 + "R" * 8),        # within-doc repeat only -> NOT dup
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in duplicate_span_stats(
            df, "text", "doc_id", span_len=8, stride=4
        ).collect()
    }
    assert 4 not in out  # too short, no denominator
    # docs 1 and 2: span at pos 1 ("SSSSSSSS") is shared -> dup; the
    # pos-5 spans differ (suffix leaks in), so dup_frac is 1/2 each
    assert out[1]["n_spans"] == 2 and out[1]["n_dup_spans"] == 1
    assert out[2]["n_spans"] == 2 and out[2]["n_dup_spans"] == 1
    assert out[3]["n_dup_spans"] == 0
    # doc 5 is 16 R's: spans at pos 1/5/9 are all identical -> ONE
    # distinct span, within-doc repetition does not count as dup
    assert out[5]["n_spans"] == 1 and out[5]["n_dup_spans"] == 0


def test_temperature_mixture_upweights_small_strata(spark, sf_dir):
    from ccxt_ohlcv_fetcher_spark.plans.llm import corpus_temperature_mixture
    from ccxt_ohlcv_fetcher_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_by_lang = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    out = corpus_temperature_mixture(spark, sf_dir)
    rates = {
        r["lang"]: r["rate"] for r in out.select("lang", "rate").distinct().collect()
    }
    # tau=0.5: keep-rate ratio between two strata is sqrt(n_big/n_small),
    # i.e. smaller languages keep a strictly larger FRACTION of their docs
    langs = sorted(n_by_lang, key=n_by_lang.get)
    small, big = langs[0], langs[-1]
    assert n_by_lang[small] < n_by_lang[big]
    assert rates[small] > rates[big]
    ratio = rates[small] / rates[big]
    import math

    expected = math.sqrt(n_by_lang[big] / n_by_lang[small])
    assert abs(ratio - expected) < 1e-9
    # the draw is deterministic: running twice yields the same sample
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(
        r["doc_id"] for r in corpus_temperature_mixture(spark, sf_dir).collect()
    )
    assert ids1 == ids2


def _ref_bpe(word_freqs, n_merges, min_pair_count=2):
    """Pure-Python reference BPE (Sennrich et al. 2016) with the same
    deterministic tie-break as operators/bpe.py: count desc, pair asc."""
    vocab = {w: tuple(list(w) + ["</w>"]) for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, f in word_freqs.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best_cnt = max(counts.values())
        if best_cnt < min_pair_count:
            break
        a, b = min(p for p, c in counts.items() if c == best_cnt)
        merges.append((a, b))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = tuple(out)
    return merges, vocab


def test_bpe_matches_reference_implementation(spark, sf_dir):
    from ccxt_ohlcv_fetcher_spark.operators.bpe import train_bpe, word_freq_table
    from ccxt_ohlcv_fetcher_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    wf = word_freq_table(docs)
    freqs = {r["word"]: r["freq"] for r in wf.collect()}
    # driver_threshold=0: this test pins the DISTRIBUTED trainer
    # against the sequential reference (the r10 size gate would
    # otherwise serve this small vocab from the driver, making the
    # comparison trivial)
    merges, vocab = train_bpe(wf, n_merges=12, driver_threshold=0)
    ref_merges, ref_vocab = _ref_bpe(freqs, n_merges=12)
    assert merges == ref_merges
    got = {r["word"]: tuple(r["sym"]) for r in vocab.collect()}
    assert got == {w: s for w, s in ref_vocab.items()}


def test_bpe_tokenize_counts_and_oov_fallback(spark):
    from ccxt_ohlcv_fetcher_spark.operators.bpe import (
        bpe_tokenize_docs,
        train_bpe,
        word_freq_table,
    )

    train = spark.createDataFrame(
        [(1, "aa aa aa ab ab")], "doc_id long, text string"
    )
    _, vocab = train_bpe(word_freq_table(train), n_merges=4)
    # tokenize a corpus containing an OOV word ("zzz" never trained):
    # falls back to char split -> 3 chars + </w> = 4 pieces
    serve = spark.createDataFrame(
        [(7, "aa zzz")], "doc_id long, text string"
    )
    out = bpe_tokenize_docs(serve, vocab).collect()[0]
    aa_pieces = {
        tuple(r["sym"]) for r in vocab.filter("word = 'aa'").collect()
    }.pop()
    assert out["n_words"] == 2
    assert out["n_pieces"] == len(aa_pieces) + 4


def test_compression_signal_deterministic_and_discriminative(spark, sf_dir):
    import zlib

    from ccxt_ohlcv_fetcher_spark.plans.llm import doc_compression_quality
    from ccxt_ohlcv_fetcher_spark.sources.tables import load_table

    out = {r["doc_id"]: r for r in doc_compression_quality(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").collect()
    # distributed == driver-side zlib, byte-exact, every row
    for r in docs:
        exp = len(zlib.compress(r["text"].encode("utf-8"), 6))
        assert out[r["doc_id"]]["n_compressed"] == exp
    # discriminative on crafted extremes
    crafted = spark.createDataFrame(
        [(1, "spam " * 200), (2, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    from ccxt_ohlcv_fetcher_spark.operators.text import compression_signal

    comp = compression_signal()
    vals = {
        r["doc_id"]: r["c"] / r["n"]
        for r in crafted.select(
            "doc_id",
            comp(F.col("text")).alias("c"),
            F.octet_length("text").alias("n"),
        ).collect()
    }
    assert vals[1] < 0.1 < vals[2]  # repeated text crushes, prose doesn't


def test_bpe_persistence_roundtrip_and_time_travel(spark, tmp_path, sf_dir):
    from ccxt_ohlcv_fetcher_spark.operators.bpe import (
        bpe_tokenize_docs,
        load_bpe,
        save_bpe,
        train_bpe,
        word_freq_table,
    )
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import SnapshotStore
    from ccxt_ohlcv_fetcher_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    wf = word_freq_table(docs)
    merges8, vocab8 = train_bpe(wf, n_merges=8)

    store = SnapshotStore(spark, str(tmp_path / "tok"))
    v1 = save_bpe(store, merges8, vocab8)
    got_m, got_v = load_bpe(store)
    assert got_m == merges8
    # tokenization through the loaded vocab == through the fresh one
    fresh = {r["doc_id"]: r["n_pieces"] for r in bpe_tokenize_docs(docs, vocab8).collect()}
    loaded = {r["doc_id"]: r["n_pieces"] for r in bpe_tokenize_docs(docs, got_v).collect()}
    assert fresh == loaded

    # retrain deeper, swap atomically; old tokenizer stays reachable
    merges16, vocab16 = train_bpe(wf, n_merges=16)
    v2 = save_bpe(store, merges16, vocab16)
    assert v2 > v1
    m_new, _ = load_bpe(store)
    assert m_new == merges16 and m_new[:8] == merges8  # prefix property
    m_old, v_old = load_bpe(store, version=v1)
    assert m_old == merges8
    assert {r["word"]: tuple(r["sym"]) for r in v_old.collect()} == {
        r["word"]: tuple(r["sym"]) for r in vocab8.collect()
    }


def test_load_bpe_sidecar_selection_is_numeric(spark, tmp_path):
    """ADVICE r6 (medium): sidecar versions aren't zero-padded, so
    _bpe_merges_v10.json sorts lexicographically BEFORE v2; the loader
    must pick the NUMERIC max at-or-below the requested version, not
    the last filename-order match (which silently served a stale
    tokenizer once 10+ versions existed)."""
    from ccxt_ohlcv_fetcher_spark.operators.bpe import load_bpe, save_bpe
    from ccxt_ohlcv_fetcher_spark.operators.snapshots import SnapshotStore

    def vocab(tag):
        return spark.createDataFrame(
            [(f"w{tag}", 1, [f"w{tag}", "</w>"])],
            "word string, freq long, sym array<string>",
        )

    store = SnapshotStore(spark, str(tmp_path / "tok"))
    store.append(vocab("fill"))                      # v1
    v2 = save_bpe(store, [["a", "b"]], vocab(2))     # v2 sidecar
    assert v2 == 2
    for _ in range(7):                               # v3..v9 filler
        store.append(vocab("fill"))
    v10 = save_bpe(store, [["a", "b"], ["ab", "c"]], vocab(10))
    assert v10 == 10
    m_new, _ = load_bpe(store)
    assert m_new == [("a", "b"), ("ab", "c")]        # v10, not stale v2
    m_old, _ = load_bpe(store, version=9)            # newest AT-OR-BELOW
    assert m_old == [("a", "b")]


def _ref_greedy(word, piece_strings):
    """Independent maximal-munch reference over the atom sequence
    (chars + end marker): longest concatenation present in the piece
    set wins; a lone unmatched atom is its own piece."""
    atoms = list(word) + ["</w>"]
    out, i = [], 0
    while i < len(atoms):
        for k in range(len(atoms) - i, 0, -1):
            cand = "".join(atoms[i : i + k])
            if cand in piece_strings:
                out.append(cand)
                i += k
                break
        else:
            out.append(atoms[i])
            i += 1
    return out


def test_bpe_greedy_oov_matches_reference(spark, sf_dir):
    """Greedy longest-match OOV serve == the independent pure-Python
    maximal-munch, piece-by-piece, over every held-out word of the
    fixture corpus; and it never produces MORE pieces than the char
    fallback."""
    from ccxt_ohlcv_fetcher_spark.operators.bpe import (
        encode_oov,
        piece_inventory,
        train_bpe,
        word_freq_table,
    )
    from ccxt_ohlcv_fetcher_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter("doc_id % 2 = 0").limit(60)
    _, vocab = train_bpe(word_freq_table(train), n_merges=16)
    keys, max_atoms = piece_inventory(vocab)
    piece_strings = {
        (b + "</w>") if e else b for b, e in keys
    }
    held_out = {
        r["w"]
        for r in docs.filter("doc_id % 2 = 1")
        .selectExpr("explode(filter(split(text, '\\\\s+'), w -> w <> '')) AS w")
        .distinct()
        .limit(300)
        .collect()
    }
    assert held_out
    improved = 0
    for w in held_out:
        got = encode_oov(w, keys, max_atoms)
        assert got == _ref_greedy(w, piece_strings), w
        assert "".join(got) == w + "</w>"  # lossless segmentation
        assert len(got) <= len(w) + 1  # never worse than char split
        improved += len(got) < len(w) + 1
    assert improved > 0  # the merges actually compress held-out text


def test_bpe_batched_training_equals_sequential(spark):
    """batch_size > 1 must reproduce the sequential merge sequence
    EXACTLY (the _select_batch safety argument), including on a count
    plateau engineered to force tiny batches."""
    from ccxt_ohlcv_fetcher_spark.operators.bpe import train_bpe

    import random

    rng = random.Random(11)
    rows = []
    # clustered ngrams -> overlapping pair counts with plateaus
    frags = ["ab", "abc", "bcd", "aab", "ba", "ccc", "abab"]
    for i in range(120):
        w = "".join(rng.choice(frags) for _ in range(rng.randint(1, 3)))
        rows.append((w, rng.randint(1, 9)))
    wf = spark.createDataFrame(rows, "word string, freq long").groupBy(
        "word"
    ).agg(F.sum("freq").alias("freq"))
    seq_m, seq_v = train_bpe(
        wf, n_merges=18, batch_size=1, driver_threshold=0
    )
    bat_m, bat_v = train_bpe(
        wf, n_merges=18, batch_size=8, driver_threshold=0
    )
    assert bat_m == seq_m
    assert {r["word"]: tuple(r["sym"]) for r in bat_v.collect()} == {
        r["word"]: tuple(r["sym"]) for r in seq_v.collect()
    }


def test_doc_bpe_oov_tokens_query_runs_heldout(spark, sf_dir):
    from ccxt_ohlcv_fetcher_spark.plans import load_all

    out = load_all()["doc_bpe_oov_tokens"].builder(spark, sf_dir)
    rows = out.collect()
    assert rows and all(r["n_pieces"] >= r["n_words"] for r in rows)
    # serve half only: every id odd
    assert all(r["doc_id"] % 2 == 1 for r in rows)


def test_lsh_registry_default_recall_floor(spark):
    """Round-7 verdict item 6: the REGISTERED ann_cosine_topk_lsh
    serves the recommended operating point (adaptive m=6, depth 2).
    Pin the default path — the exact call the registry makes — at
    recall >= 0.70 on the clustered fixture, where the old
    single-bucket default bottomed out at ~0.38."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity import (
        ann_cosine_topk,
        cosine_topk,
    )

    emb = spark.createDataFrame(
        _clustered_embeddings(), "vec_id long, embedding array<double>"
    )
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["vec_id"]) for r in cosine_topk(emb, queries, k=5).collect()
    }
    got = {
        (r["q_id"], r["vec_id"])
        for r in ann_cosine_topk(
            emb, queries, k=5, dim=64, n_planes=4,
            multiprobe=6, adaptive=True, probe_depth=2,  # registry default
        ).collect()
    }
    assert len(exact & got) / len(exact) >= 0.70


def test_semantic_dedup_plants_and_invariants(spark):
    """SemDeDup on a crafted corpus: 3 tight planted duplicate groups
    inside well-separated clusters plus isolated singletons. Pins the
    removal rule exactly (earliest id in each planted group survives,
    every later member is removed and points at an earlier member above
    the threshold), and the keeper invariant (no kept vector has an
    earlier similar cluster-mate) recomputed independently in Python."""
    import math
    import random

    from ccxt_ohlcv_fetcher_spark.operators.dedup import semantic_dedup

    rng = random.Random(3)
    dim = 16

    def unit(seed_vec):
        n = math.sqrt(sum(x * x for x in seed_vec))
        return [x / n for x in seed_vec]

    def around(base, eps, n):
        out = []
        for _ in range(n):
            out.append(
                unit([b + rng.uniform(-eps, eps) for b in base])
            )
        return out

    bases = [unit([1.0 if j == c else 0.05 for j in range(dim)]) for c in range(4)]
    rows, vid = [], 0
    planted = {}
    for c, base in enumerate(bases[:3]):  # 3 dup groups, 4 members each
        group = []
        for v in around(base, 0.01, 4):
            rows.append((vid, v))
            group.append(vid)
            vid += 1
        planted[c] = group
    for v in around(bases[3], 0.35, 8):  # isolated spread-out singletons
        rows.append((vid, v))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = {
        r["vec_id"]: r
        for r in semantic_dedup(emb, k=4, n_iter=4, threshold=0.95).collect()
    }
    for group in planted.values():
        first = min(group)
        assert out[first]["is_kept"], group
        for m in group:
            if m != first:
                assert not out[m]["is_kept"]
                assert out[m]["dup_of"] is not None and out[m]["dup_of"] < m
                assert out[m]["max_sim"] >= 0.95

    # independent Python recomputation of the first-occurrence rule,
    # within the clusters the operator actually chose
    vecs = dict(rows)
    cluster_of = {i: out[i]["cluster"] for i in out}

    def cos(a, b):
        return sum(x * y for x, y in zip(vecs[a], vecs[b]))

    for i, r in out.items():
        earlier_similar = [
            j for j in out
            if j < i and cluster_of[j] == cluster_of[i] and cos(j, i) >= 0.95
        ]
        assert r["is_kept"] == (not earlier_similar), i
        if earlier_similar:
            assert r["dup_of"] == min(earlier_similar)


def test_semantic_dedup_farthest_keep_rule_and_boundary_recall(spark):
    """keep=\"farthest\" (SemDeDup's own rule): within each planted
    duplicate group the survivor is the member FARTHEST from its
    centroid, not the earliest id; and the candidate bound is
    measured — the fraction of ALL exact above-threshold pairs that
    share a cluster (SemDeDup's recall ceiling) is pinned >= 0.95 on
    the clustered fixture, where groups are tighter than the cluster
    radius by construction."""
    import itertools
    import math
    import random

    from ccxt_ohlcv_fetcher_spark.operators.clustering import kmeans_centroids
    from ccxt_ohlcv_fetcher_spark.operators.dedup import semantic_dedup

    rng = random.Random(5)
    dim = 16

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    bases = [unit([1.0 if j == c else 0.05 for j in range(dim)]) for c in range(4)]
    # ids INTERLEAVED across groups so the lowest-id k-means seeds span
    # all four blobs (id-blocked layout would seed every centroid
    # inside group 0)
    rows, planted = [], {c: [] for c in range(4)}
    for m in range(5):
        for c, base in enumerate(bases):
            vid = m * 4 + c
            rows.append(
                (vid, unit([b + rng.uniform(-0.01, 0.01) for b in base]))
            )
            planted[c].append(vid)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = kmeans_centroids(emb, k=4, n_iter=4)
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            emb, threshold=0.95, centroids=centroids, keep="farthest"
        ).collect()
    }
    vecs = dict(rows)

    def d2(i):
        c = centroids[out[i]["cluster"]]
        return sum((x - y) ** 2 for x, y in zip(vecs[i], c))

    for group in planted.values():
        kept = [m for m in group if out[m]["is_kept"]]
        # the planted groups are all-pairs similar -> exactly one
        # survivor, and it is the max-(d2, -id) member
        assert len(kept) == 1, group
        want = max(group, key=lambda m: (d2(m), -m))
        assert kept[0] == want, (group, kept, want)
        for m in group:
            if m != want:
                assert out[m]["dup_of"] == want

    # boundary recall: exact above-threshold pairs co-clustered
    def cos(a, b):
        return sum(x * y for x, y in zip(vecs[a], vecs[b]))

    exact_pairs = [
        (a, b)
        for a, b in itertools.combinations(sorted(vecs), 2)
        if cos(a, b) >= 0.95
    ]
    co = sum(
        1 for a, b in exact_pairs if out[a]["cluster"] == out[b]["cluster"]
    )
    assert exact_pairs and co / len(exact_pairs) >= 0.95


def test_bpe_batch_apply_equals_nested_sequential(spark):
    """apply_merge_batch (one fold per round, round-8 apply-side fix)
    must equal the nested per-merge apply_merge form on every word —
    across real _select_batch batches from adversarial tiny-alphabet
    corpora (maximal pair interaction, multi-merge batches with shared
    LEFT symbols like (a,b)+(a,c))."""
    import random

    from pyspark.sql import functions as F

    from ccxt_ohlcv_fetcher_spark.operators.bpe import (
        apply_merge,
        apply_merge_batch,
        char_symbols,
        pair_counts,
        train_bpe,
        _select_batch,
    )

    rng = random.Random(11)
    words = list({
        "".join(rng.choice("ab") for _ in range(rng.randint(1, 10)))
        for _ in range(60)
    })
    wf = spark.createDataFrame(
        [(w, rng.randint(1, 9)) for w in words], "word string, freq bigint"
    )
    vocab = wf.select(
        "word", "freq", char_symbols("word").alias("sym")
    ).localCheckpoint()
    made = {"</w>"}
    n_batches = 0
    for _round in range(6):
        top = (
            pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(256)
            .collect()
        )
        if not top or top[0]["cnt"] < 2:
            break
        batch = _select_batch(
            top, 8, budget=64, min_pair_count=2, truncated=len(top) == 256,
            made_symbols=made,
        )
        if not batch:
            break
        made.update(a + b for a, b in batch)
        n_batches += 1
        one_pass = vocab.withColumn(
            "sym", apply_merge_batch(F.col("sym"), batch)
        )
        nested = vocab
        for a, b in batch:
            nested = nested.withColumn(
                "sym", apply_merge(F.col("sym"), a, b)
            )
        got = {r["word"]: tuple(r["sym"]) for r in one_pass.collect()}
        want = {r["word"]: tuple(r["sym"]) for r in nested.collect()}
        assert got == want, (batch, {
            w: (got[w], want[w]) for w in got if got[w] != want[w]
        })
        vocab = one_pass.localCheckpoint()
    assert n_batches >= 3  # the comparison actually exercised batches

    # and the end-to-end trainer (now batch-applying) still matches the
    # pure-Python sequential reference on this corpus
    freqs = {r["word"]: r["freq"] for r in wf.collect()}
    merges, trained = train_bpe(wf, n_merges=12, batch_size=8)
    ref_merges, ref_vocab = _ref_bpe(freqs, n_merges=12, min_pair_count=2)
    assert merges == ref_merges
    got_final = {r["word"]: tuple(r["sym"]) for r in trained.collect()}
    assert got_final == {w: tuple(s) for w, s in ref_vocab.items()}


def test_truncated_rerank_recall_and_selfmatch(spark, sf_dir):
    """Matryoshka funnel retrieval (truncated_rerank_topk): recall@5 vs
    the exact tier at the registered operating point (trunc 32 of 64,
    overfetch 4), plus two invariants that hold regardless of embedding
    distribution: every self-match survives stage 1 (truncated cosine of
    an identical vector is exactly 1.0, so it cannot be cut), and the
    surviving pairs' scores/ranks are full-precision (bit-equal to the
    exact tier's score for the same pair)."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity import (
        cosine_topk,
        truncated_rerank_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["vec_id"]): r["score"]
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["q_id"], r["vec_id"]): r["score"]
        for r in truncated_rerank_topk(
            emb, queries, k=5, trunc_dim=32, overfetch=4
        ).collect()
    }
    recall = len(exact.keys() & approx.keys()) / len(exact)
    # isotropic fixture -> a 32-prefix is a random projection; 0.69
    # measured at sf0.001 and sf0.01, pin with noise margin
    assert recall >= 0.55, f"funnel recall collapsed: {recall}"
    for pair in exact.keys() & approx.keys():
        assert approx[pair] == exact[pair], "rerank must use full vectors"
    self_pairs = {(q, q) for q, _ in exact if (q, q) in exact}
    assert self_pairs <= approx.keys()


def test_ivfpq_rebuild_meta_swap_is_crash_recoverable(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r9: rebuilding an existing index must never destroy the
    old _meta before the new one is in place — and the destroyer is
    not just the final swap: mode('overwrite') on the data wipes the
    whole index path (old _meta included) at the START of the rebuild.
    The old _meta is therefore renamed aside to a SIBLING of the index
    dir before any data write: (a) a clean rebuild leaves exactly one
    _meta and no backup residue; (b) a crash injected at the staging
    swap (after the data overwrite already wiped the path) leaves the
    complete old meta on disk in the sibling backup (recoverable),
    never deleted."""
    import glob
    import os

    from ccxt_ohlcv_fetcher_spark.operators.similarity_index import (
        build_ivfpq_index,
        query_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    path = str(tmp_path / "ivfpq_rebuild")
    build_ivfpq_index(emb, path, dim=64, n_cells=8, m=8, n_codes=16)

    # (a) clean rebuild: one _meta, no backup residue, queryable
    build_ivfpq_index(emb, path, dim=64, n_cells=8, m=8, n_codes=16)
    assert os.path.isdir(os.path.join(path, "_meta"))
    assert not glob.glob(path + "._meta_old_*")
    assert query_ivfpq_index(spark, path, queries, k=3, n_probe=4).count() > 0
    meta_files = set(
        os.path.basename(p)
        for p in glob.glob(os.path.join(path, "_meta", "*.parquet"))
    )

    # (b) crash between rename-aside and rename-in: old meta survives
    real_rename = os.rename

    def crashing_rename(src, dst):
        if os.path.basename(dst) == "_meta" and "_meta_staging_" in src:
            raise OSError("injected crash before staging swap")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    import pytest as _pytest

    with _pytest.raises(OSError, match="injected crash"):
        build_ivfpq_index(emb, path, dim=64, n_cells=8, m=8, n_codes=16)
    monkeypatch.undo()
    survivors = glob.glob(path + "._meta_old_*")
    assert len(survivors) == 1, "old meta must be renamed aside, not wiped"
    assert {
        os.path.basename(p)
        for p in glob.glob(os.path.join(survivors[0], "*.parquet"))
    } == meta_files, "renamed-aside meta must be the COMPLETE previous meta"


def _mrl_embeddings(n=800, dim=64, decay=0.92, seed=42):
    """Deterministic ANISOTROPIC fixture: per-coordinate std decays
    geometrically (decay^j on coordinate j), the energy profile
    Matryoshka-trained embeddings exhibit — the leading prefix carries
    most of the variance (here the first 32 of 64 coordinates hold
    99.5% of total variance at decay 0.92). This is the regime funnel
    retrieval is FOR; the parquet fixture's isotropic Gaussians are its
    worst case (a prefix is a random projection)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    scales = decay ** np.arange(dim)
    vecs = rng.standard_normal((n, dim)) * scales
    return [(i, [float(x) for x in vecs[i]]) for i in range(n)]


def test_truncated_rerank_recall_on_anisotropic_fixture(spark):
    """Round-10 verdict item 4: demonstrate the real MRL win. On a
    decaying-variance corpus the same operating point that measures
    0.69 recall on the isotropic fixture (the honest worst case, pinned
    above) reaches >= 0.95 — the pinned floor documents that funnel
    recall is a property of the embedding's prefix-variance profile,
    not of the operator. Self-match and full-precision-rerank
    invariants hold on both fixtures."""
    from ccxt_ohlcv_fetcher_spark.operators.similarity import (
        cosine_topk,
        truncated_rerank_topk,
    )

    emb = spark.createDataFrame(
        _mrl_embeddings(), "vec_id long, embedding array<double>"
    ).repartition(8)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["vec_id"]): r["score"]
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["q_id"], r["vec_id"]): r["score"]
        for r in truncated_rerank_topk(
            emb, queries, k=5, trunc_dim=32, overfetch=4
        ).collect()
    }
    recall = len(exact.keys() & approx.keys()) / len(exact)
    # measured 1.00 at seed 42 / n=800; pin with noise margin
    assert recall >= 0.95, f"anisotropic funnel recall: {recall}"
    for pair in exact.keys() & approx.keys():
        assert approx[pair] == exact[pair]
    assert {(q, q) for q in range(20)} <= approx.keys()


def test_bpe_driver_gate_equals_distributed(spark, sf_dir):
    """Round-10 cold-path cut: small vocabularies train on the driver
    (sequential BPE, zero Spark jobs) — the gate must be INVISIBLE:
    identical merge sequence and identical per-word segmentations vs
    the forced-distributed trainer, and the stats dict records which
    path served."""
    from ccxt_ohlcv_fetcher_spark.operators.bpe import (
        train_bpe,
        word_freq_table,
    )

    wf = word_freq_table(load_table(spark, sf_dir, "documents"))
    st_d, st_s = {}, {}
    m_drv, v_drv = train_bpe(wf, n_merges=24, stats=st_d)
    m_dist, v_dist = train_bpe(
        wf, n_merges=24, stats=st_s, driver_threshold=0
    )
    assert st_d.get("driver") is True and st_d["rounds"] == 0
    assert "driver" not in st_s and st_s["rounds"] > 0
    assert m_drv == m_dist
    assert {r["word"]: tuple(r["sym"]) for r in v_drv.collect()} == {
        r["word"]: tuple(r["sym"]) for r in v_dist.collect()
    }


# --- incremental MinHash-LSH dedup index (snapshot-logged) -----------------


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_index_append_equals_rebuild(spark, tmp_path):
    """The affine signature family is deterministic, so corpus-build +
    batch-append must equal a from-scratch rebuild over the union —
    the invariant that makes the incremental index trustworthy."""
    from ccxt_ohlcv_fetcher_spark.operators.dedup import (
        _minhash_index_store,
        append_minhash_index_logged,
        build_minhash_index_logged,
    )

    corpus = _mk_docs(
        spark,
        [(1, "a b c d e f g"), (2, "h i j k l m n"), (3, "a b c d e f z")],
    )
    batch = _mk_docs(spark, [(4, "a b c d e f g"), (5, "p q r s t u v")])
    p_inc = str(tmp_path / "inc")
    build_minhash_index_logged(corpus, p_inc, k=8, bands=4)
    append_minhash_index_logged(batch, p_inc, k=8, bands=4)
    p_full = str(tmp_path / "full")
    build_minhash_index_logged(corpus.unionByName(batch), p_full, k=8, bands=4)
    inc = {
        tuple(r)
        for r in _minhash_index_store(spark, p_inc).read().collect()
    }
    full = {
        tuple(r)
        for r in _minhash_index_store(spark, p_full).read().collect()
    }
    assert inc == full


def test_incremental_candidates_match_full_recompute(spark, tmp_path):
    """Incremental dedup of a batch == the one-shot candidate pairs of
    the union, restricted to pairs touching the batch."""
    from ccxt_ohlcv_fetcher_spark.operators.dedup import (
        build_minhash_index_logged,
        dedup_candidates_against_index,
        minhash_candidate_pairs,
    )

    corpus = _mk_docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "the quick brown fox jumps over the lazy cat"),
        ],
    )
    batch = _mk_docs(
        spark,
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "sphinx of black quartz judge my vow"),
            (12, "sphinx of black quartz judge my vows"),
        ],
    )
    path = str(tmp_path / "idx")
    build_minhash_index_logged(corpus, path, k=8, bands=4)
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup_candidates_against_index(
            batch, path, k=8, bands=4
        ).collect()
    }
    new_ids = {10, 11, 12}
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(
            corpus.unionByName(batch), "text", "doc_id", k=8, bands=4
        ).collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert got == full
    # the planted exact dup (1, 10) must be among the candidates
    assert (1, 10) in got


def test_incremental_dedup_version_pinning_and_txn(spark, tmp_path):
    """``version=`` dedups against the corpus as-of a pinned index
    snapshot (a batch appended later is invisible), and a re-delivered
    txn batch commits exactly once."""
    from ccxt_ohlcv_fetcher_spark.operators.dedup import (
        _minhash_index_store,
        append_minhash_index_logged,
        build_minhash_index_logged,
        dedup_candidates_against_index,
    )

    corpus = _mk_docs(spark, [(1, "a b c d e f g")])
    b1 = _mk_docs(spark, [(2, "a b c d e f g")])
    probe = _mk_docs(spark, [(9, "a b c d e f g")])
    path = str(tmp_path / "idx")
    v1 = build_minhash_index_logged(corpus, path, k=8, bands=4)
    v2 = append_minhash_index_logged(b1, path, k=8, bands=4, txn=("crawl", 1))
    # replay of the same batch: no commit
    assert (
        append_minhash_index_logged(
            b1, path, k=8, bands=4, txn=("crawl", 1)
        )
        is None
    )
    assert _minhash_index_store(spark, path).latest_version() == v2
    head = {
        (r["id_a"], r["id_b"])
        for r in dedup_candidates_against_index(
            probe, path, k=8, bands=4
        ).collect()
    }
    pinned = {
        (r["id_a"], r["id_b"])
        for r in dedup_candidates_against_index(
            probe, path, k=8, bands=4, version=v1
        ).collect()
    }
    assert head == {(1, 9), (2, 9)}
    assert pinned == {(1, 9)}


def test_streaming_crawl_feeds_dedup_index_exactly_once(spark, tmp_path):
    """The continuous-crawl composition: a doc stream appends its
    band-bucket rows to the logged dedup index per micro-batch with
    txn=(app, batch_id) — re-running the stream from the SAME
    checkpoint is a no-op, and a replayed batch id is skipped by the
    commit log itself (no content dedup needed). The resulting index
    equals a from-scratch batch build over the same docs."""
    from ccxt_ohlcv_fetcher_spark.operators.dedup import (
        _band_bucket_rows,
        _minhash_index_store,
        build_minhash_index_logged,
    )

    src_files = str(tmp_path / "files")
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "sphinx of black quartz judge my vow"),
    ]
    for i, r in enumerate(rows):
        spark.createDataFrame([r], "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src_files)
    idx_path = str(tmp_path / "idx")
    store = _minhash_index_store(spark, idx_path)

    def write_batch(batch, batch_id):
        # buckets computed per micro-batch; the log's txn watermark is
        # the exactly-once guard (streaming_snapshot_sink's contract)
        store.append(
            _band_bucket_rows(batch, "text", "doc_id", 8, 3, 4),
            txn=("crawl", batch_id),
        )

    def run():
        q = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(src_files)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    v_after = store.latest_version()
    assert store.read().count() == 4 * 4  # 4 docs x 4 bands
    # same checkpoint re-run: nothing new, no commits
    run()
    assert store.latest_version() == v_after
    # manual replay of an already-committed batch id: skipped by txn
    assert (
        store.append(
            _band_bucket_rows(
                spark.createDataFrame(
                    [rows[0]], "doc_id long, text string"
                ),
                "text", "doc_id", 8, 3, 4,
            ),
            txn=("crawl", 0),
        )
        is None
    )
    # streamed index == batch rebuild over the same docs
    full_path = str(tmp_path / "full")
    build_minhash_index_logged(
        spark.createDataFrame(rows, "doc_id long, text string"),
        full_path, k=8, bands=4,
    )
    streamed = {tuple(r) for r in store.read().collect()}
    batch = {
        tuple(r)
        for r in _minhash_index_store(spark, full_path).read().collect()
    }
    assert streamed == batch


def test_incremental_components_equal_full_recompute(spark):
    """Folding a batch's candidate edges into the standing assignment
    (star edges ∪ new edges) equals connected components over the
    COMPLETE edge history — across two refreshes, with a batch that
    MERGES two old components, isolated new docs, and stable min
    labels."""
    from ccxt_ohlcv_fetcher_spark.operators.dedup import (
        connected_components,
        incremental_components,
    )

    def edges(pairs):
        return spark.createDataFrame(pairs, "id_a long, id_b long")

    def nodes(ids):
        return spark.createDataFrame([(i,) for i in ids], "id long")

    # epoch 0: components {1,2,3}, {10,11}, singleton 20
    e0 = edges([(1, 2), (2, 3), (10, 11)])
    n0 = nodes([1, 2, 3, 10, 11, 20])
    prev = connected_components(n0, e0, pointer_jumping=True)
    # epoch 1: new docs 30,31; 30 joins {1..3}; 31 isolated;
    # and a bridge MERGES {1..3} with {10,11}
    e1 = edges([(3, 30), (11, 1)])
    got = incremental_components(
        prev, e1, new_nodes=nodes([30, 31])
    )
    full = connected_components(
        nodes([1, 2, 3, 10, 11, 20, 30, 31]),
        edges([(1, 2), (2, 3), (10, 11), (3, 30), (11, 1)]),
        pointer_jumping=True,
    )
    assert {
        (r["id"], r["comp"]) for r in got.collect()
    } == {(r["id"], r["comp"]) for r in full.collect()}
    comp = {r["id"]: r["comp"] for r in got.collect()}
    assert comp[30] == 1 and comp[11] == 1  # merged under the joint min
    assert comp[20] == 20 and comp[31] == 31  # singletons intact
    # epoch 2: one more batch on top of the INCREMENTAL result
    e2 = edges([(20, 31)])
    got2 = incremental_components(got, e2, new_nodes=nodes([40]))
    comp2 = {r["id"]: r["comp"] for r in got2.collect()}
    assert comp2[31] == 20 and comp2[20] == 20
    assert comp2[40] == 40
    assert comp2[30] == 1  # untouched components keep stable labels


def test_incremental_index_cache_keys_on_source_content(spark, tmp_path):
    """ADVICE r11: the /tmp-persisted incremental-dedup index was keyed
    on the fixture PATH alone, so regenerating data at the same path
    silently served candidates from the stale corpus index. The cache
    key now folds in the documents parquet's mtime/size — rewriting the
    source yields a DIFFERENT index path (and thus a fresh build)."""
    import shutil
    import time

    from ccxt_ohlcv_fetcher_spark.plans.llm import _incremental_dedup_index

    sf = tmp_path / "sf"
    sf.mkdir()
    docs = spark.createDataFrame(
        [
            (i, f"doc number {i} with some shared words " + "x " * (i % 3))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.parquet(str(sf / "documents.parquet"))
    p1 = _incremental_dedup_index(spark, str(sf))
    # regenerate the fixture at the SAME path (different content)
    shutil.rmtree(sf / "documents.parquet")
    time.sleep(0.01)  # ensure a distinct mtime_ns even on coarse clocks
    docs.filter("doc_id < 30").coalesce(1).write.parquet(
        str(sf / "documents.parquet")
    )
    # drop the shingle memo like a fresh session would
    from ccxt_ohlcv_fetcher_spark.plans import llm as _llm

    _llm._SHINGLE_MEMO.clear()
    p2 = _incremental_dedup_index(spark, str(sf))
    assert p1 != p2


def test_mutual_knn_graph_invariants(spark, sf_dir):
    """knn_graph: directed kNN has exactly k rows per node ranked by
    (score desc, id asc); the mutual graph is its symmetric core —
    every mutual edge is reciprocal in the directed graph, every
    reciprocal directed pair IS a mutual edge, and scores agree with
    a brute-force recomputation on a sample."""
    import math

    from ccxt_ohlcv_fetcher_spark.operators.similarity import knn_graph
    from ccxt_ohlcv_fetcher_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 120")
    k = 4
    directed = knn_graph(emb, k=k, mutual=False).collect()
    per = {}
    for r in directed:
        per.setdefault(r["src"], []).append(r)
    assert all(len(v) == k for v in per.values())
    assert len(per) == 120
    for rows in per.values():
        rows.sort(key=lambda r: r["rank"])
        keys = [(-r["score"], r["dst"]) for r in rows]
        assert keys == sorted(keys)  # rank == (score desc, id asc)
    dset = {(r["src"], r["dst"]) for r in directed}
    mutual = knn_graph(emb, k=k, mutual=True).collect()
    mset = {(r["id_a"], r["id_b"]) for r in mutual}
    assert all(a < b for a, b in mset)
    # mutual == the reciprocal core of the directed graph
    expect = {(a, b) for a, b in dset if a < b and (b, a) in dset}
    assert mset == expect
    # scores match brute force on a few edges
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for r in mutual[:5]:
        va, vb = vecs[r["id_a"]], vecs[r["id_b"]]
        dot = sum(float(x) * float(y) for x, y in zip(va, vb))
        na = math.sqrt(sum(float(x) ** 2 for x in va))
        nb = math.sqrt(sum(float(x) ** 2 for x in vb))
        assert abs(r["score"] - dot / (na * nb)) < 1e-9


def test_index_tempdirs_removed_at_exit(sf_dir, tmp_path):
    """A build-once index lives under the per-process artifact root,
    which is removed when the process exits: nothing is left in TMPDIR."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    code = (
        "from ccxt_ohlcv_fetcher_spark.session import get_spark\n"
        "from ccxt_ohlcv_fetcher_spark.plans.llm import _persisted_ann_index\n"
        "spark = get_spark('index-tmp', master='local[2]', shuffle_partitions=2)\n"
        f"print(_persisted_ann_index(spark, {sf_dir!r}))\n"
    )
    env = dict(
        os.environ, TMPDIR=str(tmp), PYTHONPATH=repo, SPARK_GRAFT_DRIVER_MEM="1g"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().startswith(str(tmp)), out.stdout
    assert os.listdir(tmp) == []
