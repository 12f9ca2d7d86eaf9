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

Shared pieces:
- Training is ``ann_kmeans.lloyd_partials`` with all m subspaces in
  one pass; ``_pq_codes`` (the subspace L2 assignment) is both its
  assignment rule and :func:`pq_encode`'s.
- Serving is :func:`adc_topk`: ``_pq_lut`` builds each query's
  m × k_sub lookup table, one ADC scorer ranks (query, vector, codes)
  pairs into a ``RERANK`` short list, and
  ``similarity.exact_rerank_topk`` reranks it exactly. ``pq_topk``
  feeds it every (query, vector) pair, ``ivfpq_topk`` only those of
  the cells ``similarity.ivf_probe`` picks.
- The recall flags are ``similarity.recall_gate``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mi_inbound_pulsar_spark.operators import query
from mi_inbound_pulsar_spark.operators.ann_kmeans import (
    lloyd_init,
    lloyd_partials,
    train_spherical_kmeans,
)
from mi_inbound_pulsar_spark.operators.similarity import (
    N_QUERIES,
    TOP_K,
    _unit_rows,
    exact_rerank_topk,
    ivf_assign_cells,
    ivf_probe,
    query_units,
    recall_gate,
)
from mi_inbound_pulsar_spark.sources.tables import load_table

M_SUB = 8  # subspaces (64-dim → 8 × 8-dim subvectors)
K_SUB = 32  # codewords per subspace (5 bits; 8 × uint8 stored)
PQ_ITER = 6
RERANK = 40 * TOP_K  # exact-rerank short list per query


def _pq_codes(units: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Each unit row's nearest codeword (L2) in every subspace, (n, m)."""
    m_, _, d_ = books.shape
    codes = np.empty((len(units), m_), dtype=np.int64)
    for j in range(m_):
        sub = units[:, j * d_ : (j + 1) * d_]
        # L2 argmin == argmax(<x,c> - ||c||²/2)
        scores = sub @ books[j].T - 0.5 * (books[j] ** 2).sum(axis=1)
        codes[:, j] = np.argmax(scores, axis=1)
    return codes


def _pq_lut(q_units: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Per-query ADC lookup table <q_j, c_jk> for every subspace j and
    codeword k, (n_q, m, ksub)."""
    m_, _, d_ = books.shape
    return np.stack(
        [[qu[j * d_ : (j + 1) * d_] @ books[j].T for j in range(m_)] for qu in q_units]
    )


def train_pq_codebooks(
    corpus: DataFrame, m: int = M_SUB, ksub: int = K_SUB, n_iter: int = PQ_ITER
) -> np.ndarray:
    """Train per-subspace L2 k-means codebooks on unit vectors.

    Returns (m, ksub, dsub) float64. Deterministic: init per subspace
    is the subvectors of the first ``ksub`` vectors by vec_id; each
    iteration is one ``lloyd_partials`` step over all m subspaces.
    Empty codewords keep their old value.
    """
    vecs = corpus.select("vec_id", "embedding")
    init_units = lloyd_init(vecs, ksub)
    dsub = init_units.shape[1] // m
    books = np.stack([init_units[:, j * dsub : (j + 1) * dsub] for j in range(m)])
    for _ in range(n_iter):
        cnt, sums = lloyd_partials(vecs, books, _pq_codes)
        nxt = books.copy()
        moved = cnt > 0
        nxt[moved] = sums[moved] / cnt[moved][:, None]
        books = nxt
    return books


def pq_encode(corpus: DataFrame, books: np.ndarray) -> DataFrame:
    """Encode each (unit-normalized) vector to m codes — narrow pass."""
    books_bc = corpus.sparkSession.sparkContext.broadcast(books)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bks = books_bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            units = _unit_rows(np.array(list(pdf["embedding"]), dtype=np.float64))
            yield pd.DataFrame({"vec_id": ids, "codes": list(_pq_codes(units, bks))})

    return corpus.select("vec_id", "embedding").mapInPandas(
        encode, schema="vec_id long, codes array<long>"
    )


def adc_topk(
    cand: DataFrame, e: DataFrame, q_ids: np.ndarray, q_units: np.ndarray, books: np.ndarray
) -> DataFrame:
    """Top-k of candidate (query_id, vec_id, codes) pairs: approximate
    scores from each query's code LUT (no float vector touched), the
    ``RERANK`` best per query, then the exact rerank of that short list
    against its full vectors in ``e``. Returns (query_id, neighbor_id,
    rank, sim)."""
    lut = _pq_lut(q_units, books)
    cols = np.arange(books.shape[0])

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            qs = pdf["query_id"].to_numpy(dtype=np.int64)
            cd = np.array(list(pdf["codes"]), dtype=np.int64)
            qrows = np.searchsorted(q_ids, qs)
            approx = lut[qrows[:, None], cols[None, :], cd].sum(axis=1)
            keep = ids != qs
            yield pd.DataFrame(
                {"query_id": qs[keep], "neighbor_id": ids[keep], "approx_sim": approx[keep]}
            )

    scored = cand.select("query_id", "vec_id", "codes").mapInPandas(
        adc, schema="query_id long, neighbor_id long, approx_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_sim"), F.col("neighbor_id"))
    shortlist = scored.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= RERANK)
    vectors = e.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    return exact_rerank_topk(shortlist.join(vectors, "neighbor_id"), q_ids, q_units)


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over the whole corpus: every code row is scored for
    every query. Returns (query_id, neighbor_id, rank, sim)."""
    e = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(e)
    codes = pq_encode(e, books)
    q_ids, q_units = query_units(e, books.shape[0] * books.shape[2])
    # every query per code row by a narrow explode: the ADC pass over it
    # measured 0.45 s against 0.65 s over a broadcast cross join (sf0.1,
    # 4 cores)
    every_query = F.explode(F.array(*[F.lit(int(q)) for q in q_ids]))
    return adc_topk(codes.withColumn("query_id", every_query), e, q_ids, q_units, books)


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
    return recall_gate(pq_topk(spark, sf_dir), load_table(spark, sf_dir, "embeddings"), 0.8)


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
    e = load_table(spark, sf_dir, "embeddings")
    centroids = train_spherical_kmeans(e)
    cent_ids = np.arange(len(centroids), dtype=np.int64)
    assigned = ivf_assign_cells(e, cent_ids, centroids)
    books = train_pq_codebooks(e)
    coded = assigned.select("vec_id", "cell").join(pq_encode(e, books), "vec_id")

    q_ids, q_units = query_units(e, centroids.shape[1])
    probes = ivf_probe(spark, q_ids, q_units, cent_ids, centroids, n_probe)
    return adc_topk(coded.join(probes, "cell"), e, q_ids, q_units, books)


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
    return recall_gate(ivfpq_topk(spark, sf_dir), load_table(spark, sf_dir, "embeddings"), 0.7)
