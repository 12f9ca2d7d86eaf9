"""Gates for the product-quantization ANN path: codebook shape and
determinism, encoding integrity, ADC recall vs brute force."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from mi_inbound_pulsar_spark.operators.ann_pq import (
    K_SUB,
    M_SUB,
    pq_encode,
    pq_topk,
    q_ann_pq_recall,
    train_pq_codebooks,
)
from mi_inbound_pulsar_spark.operators.similarity import N_QUERIES, TOP_K, brute_force_topk
from mi_inbound_pulsar_spark.sources.tables import load_table


def test_codebooks_shape_and_determinism(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    b1 = train_pq_codebooks(e, n_iter=2)
    b2 = train_pq_codebooks(e, n_iter=2)
    dim = len(e.select("embedding").first()[0])
    assert b1.shape == (M_SUB, K_SUB, dim // M_SUB)
    # deterministic training: exact same reduce → identical books
    assert np.array_equal(b1, b2)


def test_encoding_covers_corpus_with_valid_codes(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(e, n_iter=2)
    codes = pq_encode(e, books).collect()
    assert len(codes) == e.count()
    for r in codes:
        assert len(r.codes) == M_SUB
        assert all(0 <= c < K_SUB for c in r.codes)


def test_pq_recall_gate(spark, sf_dir):
    approx = pq_topk(spark, sf_dir)
    rows = approx.collect()
    # every query returns a full, strictly-ranked top-k
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == N_QUERIES
    for q, rs in by_q.items():
        assert [r.rank for r in rs] == list(range(1, TOP_K + 1))
        sims = [r.sim for r in rs]
        assert sims == sorted(sims, reverse=True)
    e = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(e, e.filter(F.col("vec_id") < N_QUERIES))
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .count()
    )
    assert hits / exact.count() >= 0.8
    # and the registered driver-facing gate agrees
    row = q_ann_pq_recall(spark, sf_dir).collect()[0]
    assert row.recall_ok and row.n_queries == N_QUERIES


def test_ivfpq_recall_gate(spark, sf_dir):
    from mi_inbound_pulsar_spark.operators.ann_pq import ivfpq_topk, q_ann_ivfpq_recall

    approx = ivfpq_topk(spark, sf_dir)
    rows = approx.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == N_QUERIES
    for q, rs in by_q.items():
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
    e = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(e, e.filter(F.col("vec_id") < N_QUERIES))
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .count()
    )
    assert hits / exact.count() >= 0.7
    row = q_ann_ivfpq_recall(spark, sf_dir).collect()[0]
    assert row.recall_ok and row.n_queries == N_QUERIES



def test_codebooks_match_numpy_lloyd(spark, sf_dir):
    """The distributed trainer is plain per-subspace L2 Lloyd's: init
    on the subvectors of the first K_SUB vectors by vec_id, nearest
    codeword by squared distance, each codeword the mean of its
    members, an empty codeword keeps its value."""
    e = load_table(spark, sf_dir, "embeddings")
    rows = sorted(e.collect(), key=lambda r: r.vec_id)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    units = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    dsub = units.shape[1] // M_SUB
    subs = [units[:, j * dsub : (j + 1) * dsub] for j in range(M_SUB)]
    books = np.stack([sub[:K_SUB] for sub in subs])
    for _ in range(2):
        for j, sub in enumerate(subs):
            code = np.argmin(((sub[:, None, :] - books[j][None]) ** 2).sum(axis=2), axis=1)
            for c in np.unique(code):
                books[j, c] = sub[code == c].mean(axis=0)
    got = train_pq_codebooks(e, n_iter=2)
    np.testing.assert_allclose(got, books, rtol=0, atol=1e-12)
