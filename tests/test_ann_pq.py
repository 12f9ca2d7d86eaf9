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

