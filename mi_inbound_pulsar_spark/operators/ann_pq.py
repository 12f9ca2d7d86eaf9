"""Product-quantization ANN: the memory-bound index family.

IVF (similarity.py / ann_kmeans.py) prunes *which* vectors to score;
PQ compresses *how* each vector is stored — m sub-codebooks of k_sub
codewords quantize each unit vector to m bytes, and query scoring
becomes m table lookups per candidate (asymmetric distance
computation) instead of a 64-float dot product. At 100 TB of
embeddings this is the difference between the index fitting in
cluster memory (8 bytes/vector + ids) or not; production systems
(FAISS-style IVF-PQ) compose both: IVF to prune, PQ to score the
pruned cells, exact rerank on the short list. Training is iterative
k-means per subspace → not SQL-expressible, so (like the trained
IVF) the registered query is the bounded-oracle recall gate; the
mechanics are pytest-gated.

Scale design:
- Training: ONE ``mapInPandas`` pass per Lloyd's iteration computes
  partials for ALL m subspaces (per batch: m small GEMMs), returning
  m × k_sub tiny (cnt, sum) rows — the corpus never shuffles and is
  never collected; on a real cluster, train on a sample.
- Encoding: narrow ``mapInPandas`` pass, emits (vec_id, m uint8
  codes) — 8 bytes of payload per vector.
- Serving: the query's m × k_sub lookup table (LUT) broadcasts
  (m·k_sub floats per query); candidate scoring is numpy fancy
  indexing over the code matrix; exact rerank touches only the
  top ``RERANK`` codes' full vectors.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mi_inbound_pulsar_spark.operators import query
from mi_inbound_pulsar_spark.operators.similarity import (
    N_QUERIES,
    TOP_K,
    _collect_matrix,
    _unit_rows,
    brute_force_topk,
)
from mi_inbound_pulsar_spark.sources.tables import load_table

M_SUB = 8  # subspaces (64-dim → 8 × 8-dim subvectors)
K_SUB = 32  # codewords per subspace (5 bits; 8 × uint8 stored)
PQ_ITER = 6
RERANK = 40 * TOP_K  # exact-rerank short list per query


def train_pq_codebooks(
    corpus: DataFrame, m: int = M_SUB, ksub: int = K_SUB, n_iter: int = PQ_ITER
) -> np.ndarray:
    """Train per-subspace L2 k-means codebooks on unit vectors.

    Returns (m, ksub, dsub) float64. Deterministic: init per subspace
    is the subvectors of the first ``ksub`` vectors by vec_id; each
    iteration is an exact partial-sum reduce (same pattern as
    ``train_spherical_kmeans``, but all m subspaces ride one pass).
    """
    vecs = corpus.select("vec_id", "embedding")
    _, init_mat = _collect_matrix(vecs.orderBy("vec_id").limit(ksub), "vec_id", "embedding")
    init_units = _unit_rows(init_mat)
    dim = init_units.shape[1]
    dsub = dim // m
    books = np.stack([init_units[:, j * dsub : (j + 1) * dsub] for j in range(m)])
    sc = corpus.sparkSession.sparkContext

    partial_schema = "subspace long, code long, cnt long, vec_sum array<double>"
    for _ in range(n_iter):
        books_bc = sc.broadcast(books)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            bks = books_bc.value
            m_, k_, d_ = bks.shape
            acc_cnt = np.zeros((m_, k_), dtype=np.int64)
            acc_sum = np.zeros_like(bks)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.array(list(pdf["embedding"]), dtype=np.float64)
                units = _unit_rows(mat)
                for j in range(m_):
                    sub = units[:, j * d_ : (j + 1) * d_]
                    # L2 argmin == argmax(<x,c> - ||c||²/2)
                    scores = sub @ bks[j].T - 0.5 * (bks[j] ** 2).sum(axis=1)
                    best = np.argmax(scores, axis=1)
                    acc_cnt[j] += np.bincount(best, minlength=k_)
                    np.add.at(acc_sum[j], best, sub)
            js, ks = np.nonzero(acc_cnt)
            if js.size == 0:
                # empty partition: yield nothing — an empty frame's
                # "vec_sum" column infers as float64 and Arrow cannot
                # convert it to list<double> (see train_spherical_kmeans)
                return
            yield pd.DataFrame(
                {
                    "subspace": js.astype(np.int64),
                    "code": ks.astype(np.int64),
                    "cnt": acc_cnt[js, ks],
                    "vec_sum": list(acc_sum[js, ks]),
                }
            )

        rows = vecs.mapInPandas(partials, schema=partial_schema).collect()
        books_bc.destroy()
        new_cnt = np.zeros((m, ksub), dtype=np.int64)
        new_sum = np.zeros_like(books)
        for r in rows:
            new_cnt[r.subspace, r.code] += r.cnt
            new_sum[r.subspace, r.code] += np.asarray(r.vec_sum, dtype=np.float64)
        nxt = books.copy()
        moved = new_cnt > 0
        nxt[moved] = new_sum[moved] / new_cnt[moved][:, None]
        books = nxt
    return books


def pq_encode(corpus: DataFrame, books: np.ndarray) -> DataFrame:
    """Encode each (unit-normalized) vector to m codes — narrow pass."""
    sc = corpus.sparkSession.sparkContext
    books_bc = sc.broadcast(books)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bks = books_bc.value
        m_, k_, d_ = bks.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            units = _unit_rows(mat)
            codes = np.empty((len(mat), m_), dtype=np.int64)
            for j in range(m_):
                sub = units[:, j * d_ : (j + 1) * d_]
                scores = sub @ bks[j].T - 0.5 * (bks[j] ** 2).sum(axis=1)
                codes[:, j] = np.argmax(scores, axis=1)
            yield pd.DataFrame({"vec_id": ids, "codes": list(codes)})

    return corpus.select("vec_id", "embedding").mapInPandas(
        encode, schema="vec_id long, codes array<long>"
    )


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k: approximate scores from the code LUT, exact rerank of
    the short list. Returns (query_id, neighbor_id, rank, sim)."""
    e = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(e)
    codes = pq_encode(e, books)

    q_ids, q_mat = _collect_matrix(e.filter(F.col("vec_id") < N_QUERIES), "vec_id", "embedding")
    q_units = _unit_rows(q_mat)
    m_, k_, d_ = books.shape
    # per-query LUT: <q_j, c_jk> for every subspace j, codeword k
    lut = np.stack(
        [[qu[j * d_ : (j + 1) * d_] @ books[j].T for j in range(m_)] for qu in q_units]
    )  # (n_q, m, ksub)
    sc = spark.sparkContext
    lut_bc = sc.broadcast((q_ids, lut))

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, tables = lut_bc.value
        cols = np.arange(tables.shape[1])
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cd = np.array(list(pdf["codes"]), dtype=np.int64)
            for qi, qid in enumerate(qids):
                approx = tables[qi][cols, cd].sum(axis=1)
                keep = ids != qid
                yield pd.DataFrame(
                    {
                        "query_id": np.full(keep.sum(), qid, dtype=np.int64),
                        "neighbor_id": ids[keep],
                        "approx_sim": approx[keep],
                    }
                )

    scored = codes.mapInPandas(adc, schema="query_id long, neighbor_id long, approx_sim double")
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_sim"), F.col("neighbor_id"))
    shortlist = (
        scored.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= RERANK).drop("r")
    )
    # exact rerank: join the short list back to full vectors
    qidx = {int(q): i for i, q in enumerate(q_ids)}
    cand = shortlist.join(e.select("vec_id", "embedding"), shortlist.neighbor_id == F.col("vec_id"))

    def exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            units = _unit_rows(mat)
            qrows = q_units[[qidx[int(q)] for q in pdf["query_id"]]]
            sims = np.einsum("ij,ij->i", qrows, units)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(dtype=np.int64),
                    "sim": sims,
                }
            )

    reranked = cand.select("query_id", "neighbor_id", "embedding").mapInPandas(
        exact, schema="query_id long, neighbor_id long, sim double"
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        reranked.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


@query(
    "q_ann_pq_recall",
    oracle=f"""
    SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
           true AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-oracle gate for the PQ index: top-5 recall of
    ADC-shortlist + exact-rerank against the brute-force top-5, as a
    driver-hashable boolean. Training/encoding are deterministic
    (seeded init, exact partial reduces), so the flag is stable."""
    approx = pq_topk(spark, sf_dir).select("query_id", "neighbor_id")
    e = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(e, e.filter(F.col("vec_id") < N_QUERIES)).select(
        "query_id", "neighbor_id"
    )
    n_hit = approx.join(exact, ["query_id", "neighbor_id"]).agg(F.count(F.lit(1)).alias("hits"))
    totals = exact.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count_distinct("query_id").alias("n_queries"),
    )
    return totals.crossJoin(n_hit).select(
        "n_queries", (F.col("hits") / F.col("n_exact") >= 0.8).alias("recall_ok")
    )


# --------------------------------------------------------------------------
# IVF-PQ: compose the pruning index with the compressed scorer
# --------------------------------------------------------------------------
IVFPQ_PROBE = 6  # probe more cells than plain IVF: PQ scoring is ~free


def ivfpq_topk(spark: SparkSession, sf_dir: str, n_probe: int = IVFPQ_PROBE) -> DataFrame:
    """Full FAISS-style serving shape: k-means IVF prunes to the probed
    cells, PQ codes score the survivors via the LUT (no float vectors
    touched), exact rerank on the short list only.

    At 100 TB this is the only layout that works: the (cell, vec_id,
    8-byte code) index fits in cluster memory bucketed by cell, the
    probe is partition pruning, ADC scoring reads 8 bytes per
    candidate, and the full float vectors are fetched just for the
    ``RERANK`` finalists per query.
    """
    from mi_inbound_pulsar_spark.operators.ann_kmeans import train_spherical_kmeans
    from mi_inbound_pulsar_spark.operators.similarity import ivf_assign_cells

    e = load_table(spark, sf_dir, "embeddings")
    centroids = train_spherical_kmeans(e)
    cent_ids = np.arange(len(centroids), dtype=np.int64)
    assigned = ivf_assign_cells(e, cent_ids, centroids)
    books = train_pq_codebooks(e)
    coded = assigned.select("vec_id", "cell").join(pq_encode(e, books), "vec_id")

    q_ids, q_mat = _collect_matrix(e.filter(F.col("vec_id") < N_QUERIES), "vec_id", "embedding")
    q_units = _unit_rows(q_mat)
    m_, k_, d_ = books.shape
    lut = np.stack(
        [[qu[j * d_ : (j + 1) * d_] @ books[j].T for j in range(m_)] for qu in q_units]
    )
    probe_sims = q_units @ centroids.T
    probe_rows = [
        (int(q_ids[qi]), int(cent_ids[ci]))
        for qi in range(len(q_ids))
        for ci in np.lexsort((cent_ids, -probe_sims[qi]))[:n_probe]
    ]
    probes = F.broadcast(spark.createDataFrame(probe_rows, "query_id long, cell long"))
    cand = coded.join(probes, "cell").select("query_id", "vec_id", "codes")

    sc = spark.sparkContext
    lut_bc = sc.broadcast((q_ids, lut))

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, tables = lut_bc.value
        qidx = {int(q): i for i, q in enumerate(qids)}
        cols = np.arange(tables.shape[1])
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            qs = pdf["query_id"].to_numpy(dtype=np.int64)
            cd = np.array(list(pdf["codes"]), dtype=np.int64)
            qrows = np.array([qidx[int(q)] for q in qs])
            approx = tables[qrows[:, None], cols[None, :], cd].sum(axis=1)
            keep = ids != qs
            yield pd.DataFrame(
                {"query_id": qs[keep], "neighbor_id": ids[keep], "approx_sim": approx[keep]}
            )

    scored = cand.mapInPandas(adc, schema="query_id long, neighbor_id long, approx_sim double")
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_sim"), F.col("neighbor_id"))
    shortlist = (
        scored.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= RERANK).drop("r")
    )
    qidx = {int(q): i for i, q in enumerate(q_ids)}
    full = shortlist.join(e.select("vec_id", "embedding"), shortlist.neighbor_id == F.col("vec_id"))

    def exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            units = _unit_rows(mat)
            qrows = q_units[[qidx[int(q)] for q in pdf["query_id"]]]
            sims = np.einsum("ij,ij->i", qrows, units)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(dtype=np.int64),
                    "sim": sims,
                }
            )

    reranked = full.select("query_id", "neighbor_id", "embedding").mapInPandas(
        exact, schema="query_id long, neighbor_id long, sim double"
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        reranked.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


@query(
    "q_ann_ivfpq_recall",
    oracle=f"""
    SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
           true AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def q_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-oracle gate for the composed IVF-PQ path: recall loss
    compounds (cell pruning × code quantization), so the probe width
    is raised to 6/16 cells; gated at ≥ 0.7 with observed headroom
    (exact rerank recovers ordering within the candidate set)."""
    approx = ivfpq_topk(spark, sf_dir).select("query_id", "neighbor_id")
    e = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(e, e.filter(F.col("vec_id") < N_QUERIES)).select(
        "query_id", "neighbor_id"
    )
    n_hit = approx.join(exact, ["query_id", "neighbor_id"]).agg(F.count(F.lit(1)).alias("hits"))
    totals = exact.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count_distinct("query_id").alias("n_queries"),
    )
    return totals.crossJoin(n_hit).select(
        "n_queries", (F.col("hits") / F.col("n_exact") >= 0.7).alias("recall_ok")
    )
