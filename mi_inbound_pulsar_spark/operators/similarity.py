"""Similarity search over embedding columns (north star).

Execution design (the 100 TB shape):

- The corpus is the big side: it **never shuffles**. All scoring runs
  as ``mapInPandas`` over the corpus partitions — Arrow batches in,
  numpy float64 GEMM per batch (``batch_units @ ref_units.T``), so the
  per-element work is vectorized C, not per-row Python and not
  interpreted per-element lambdas.
- The small side (query set / centroid table) is inherently small —
  that is what makes it the query side — and rides to executors as a
  Spark broadcast variable (same role as ``F.broadcast`` for a dim
  table in a join).
- Top-k folds **inside each partition** first (per-partition top-k in
  numpy), so the only shuffle in the whole plan carries
  ≤ n_partitions × n_queries × k candidate rows into the final
  row_number merge — the TakeOrdered-per-group pattern.
- Exact cosine is three shared pieces, one per computational shape:
  ``_unit_rows`` (the package's only L2 normalize),
  ``_topk_candidates`` (the only partial top-k selector: one int64
  composite key on (6dp-rounded sim DESC, id ASC), self-pairs
  excluded, ids guarded to [0, 2^33)) and ``_block_pairs`` (the only
  block-pair cogroup GEMM scaffold for corpus self-joins).
  ``brute_force_topk`` runs the selector per Arrow batch,
  ``knn_self_join`` per block pair and direction, and
  ``dedup.q_embedding_neardup`` gives the scaffold a threshold mask;
  each keeps its own final merge.
- ``q_ann_ivf_topk`` is the sub-linear path: coarse-quantize the
  corpus to centroid cells, probe only the ``nprobe`` nearest cells
  per query. At 100 TB the assignment output is written bucketed by
  cell id so a probe is partition pruning, not a filter. The ANN
  family (this module, ``ann_kmeans`` and ``ann_pq``) shares these pieces:
  ``query_units`` (the query side), ``ivf_probe`` (every query's
  nearest cells in one lexsort), ``exact_rerank_topk`` (the only
  per-pair einsum rerank and top-k merge) and ``recall_gate`` (the
  recall-vs-brute-force flag of every bounded-oracle ANN query).

Reference parity: the reference (a Pulsar ingestion connector) has no
similarity operators — this module is the north-star extension named
in BASELINE.json; semantics are fixed by the DuckDB oracles
(``list_cosine_similarity``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mi_inbound_pulsar_spark.operators import query
from mi_inbound_pulsar_spark.operators.text import QL_MU
from mi_inbound_pulsar_spark.plans.ranking import bounded_window_input
from mi_inbound_pulsar_spark.sources.tables import load_table
from ..plans.iterate import eager_checkpoint

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
CENTROID_STRIDE = 50  # vec_id % 50 == 0 → deterministic "centroids"
N_PROBE = 4

SCORE_SCHEMA = "query_id long, neighbor_id long, sim double"


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    """L2-normalize rows (float64); zero rows stay zero."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    """Collect a *small* (id, vector) frame to numpy, sorted by id.

    Only ever called on the query/centroid side — the corpus side never
    leaves the executors.
    """
    rows = df.select(id_col, vec_col).collect()
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, mat


# The (6dp-rounded sim DESC, neighbor_id ASC) order packs into ONE int64
# composite key: the rounded sim is an exact integer in [-1e6, 1e6] after
# ×1e6, so (1_000_001 - sim_int) * 2^33 + neighbor_id is order-isomorphic
# to the lexicographic rank for ids in [0, 2^33). Self-pairs get a
# sentinel strictly above every real key (max real key < 2e6 * 2^33 +
# 2^33 < 2^55).
_ID_LIMIT = np.int64(1) << 33
_SELF_PAIR = np.int64(1) << 62


def _topk_candidates(
    S: np.ndarray, q_ids: np.ndarray, c_ids: np.ndarray, take: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-row partial top-``take`` of a (queries × candidates) cosine
    block, self-pairs excluded: ``(query_id, neighbor_id, sim)`` arrays.

    One composite key + ``argpartition`` for the whole block, with no
    loop per query row. This is only a candidate filter: callers keep a
    tie margin above k and rank exactly in their own row_number merge;
    exact ties are cut on neighbor_id ASC here, as in every merge and
    oracle.
    """
    # the packing is order-isomorphic ONLY for ids in [0, 2^33) — an id
    # outside the domain would silently corrupt ranking across adjacent
    # sim buckets, so fail loudly instead (the lexsort fallback for
    # wider ids is a feature change; at the shipped id domains this
    # never trips)
    if len(c_ids) and (c_ids.min() < 0 or c_ids.max() >= _ID_LIMIT):
        raise ValueError(
            "vec_id outside [0, 2^33) — the int64 composite ranking key "
            "cannot represent this id domain"
        )
    sr = np.rint(np.round(S, 6) * 1e6).astype(np.int64)
    comp = (np.int64(1_000_001) - sr) * _ID_LIMIT + c_ids[None, :]
    comp = np.where(c_ids[None, :] == q_ids[:, None], _SELF_PAIR, comp)
    width = comp.shape[1]
    if take < width:
        part = np.argpartition(comp, take - 1, axis=1)[:, :take]
    else:
        part = np.broadcast_to(np.arange(width), comp.shape)
    rows, j = np.nonzero(np.take_along_axis(comp, part, axis=1) < _SELF_PAIR)
    cols = part[rows, j]
    return q_ids[rows], c_ids[cols], S[rows, cols]


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact cosine top-k of every query against the corpus.

    corpus: (vec_id, embedding) — arbitrarily large, never shuffled.
    queries: (vec_id, embedding) — small, collected + broadcast.
    """
    q_ids, q_mat = _collect_matrix(queries, "vec_id", "embedding")
    if len(q_ids) == 0:
        # no queries, no pairs (and an empty collect is 1-D, which
        # _unit_rows cannot normalize)
        partial = corpus.sparkSession.createDataFrame([], SCORE_SCHEMA)
    else:
        q_units = _unit_rows(q_mat)

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
                c_units = _unit_rows(np.array(list(pdf["embedding"]), dtype=np.float64))
                # per-batch candidates with a k + 8 tie margin; the global
                # row_number below ranks them exactly
                qs, cs, sims = _topk_candidates(q_units @ c_units.T, q_ids, c_ids, k + 8)
                yield pd.DataFrame({"query_id": qs, "neighbor_id": cs, "sim": sims})

        partial = corpus.select("vec_id", "embedding").mapInPandas(score, schema=SCORE_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def recall_gate(approx: DataFrame, e: DataFrame, floor: float) -> DataFrame:
    """The driver-hashable (n_queries, recall_ok) row of an approximate
    top-k: recall_ok is whether the share of the exact brute-force
    top-k pairs over ``e`` that ``approx`` (query_id, neighbor_id)
    also returns is at least ``floor``."""
    exact = brute_force_topk(e, e.filter(F.col("vec_id") < N_QUERIES)).select(
        "query_id", "neighbor_id"
    )
    n_hit = (
        approx.select("query_id", "neighbor_id")
        .join(exact, ["query_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    totals = exact.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count_distinct("query_id").alias("n_queries"),
    )
    return totals.crossJoin(n_hit).select(
        "n_queries", (F.col("hits") / F.col("n_exact") >= floor).alias("recall_ok")
    )


@query(
    "q_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q_emb, c.emb) AS sim
      FROM q JOIN e c ON c.vec_id != query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors as queries."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERIES)
    return brute_force_topk(e, queries, TOP_K).orderBy("query_id", "rank")


def ivf_assign_cells(corpus: DataFrame, cent_ids: np.ndarray, cent_units: np.ndarray) -> DataFrame:
    """Assign each corpus vector to its nearest centroid cell (argmax
    cosine, ties → lowest cell id). Narrow mapInPandas pass — at scale
    the result is written bucketed by ``cell``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            c_units = _unit_rows(c_mat)
            sims = c_units @ cent_units.T  # (batch, n_cells)
            best = np.argmax(sims, axis=1)  # first max → lowest cell id
            yield pd.DataFrame(
                {
                    "vec_id": c_ids,
                    "cell": cent_ids[best],
                    "embedding": pdf["embedding"],
                }
            )

    return corpus.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, cell long, embedding array<float>"
    )


def query_units(corpus: DataFrame, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """The query side of every ANN path: the ``vec_id < N_QUERIES`` rows
    of ``corpus`` as sorted ids and a (n_queries, dim) unit matrix.

    No query rows give a (0, dim) matrix (an empty collect is 1-D), so
    every product below yields no rows and the caller's frame is empty.
    """
    q_ids, q_mat = _collect_matrix(
        corpus.filter(F.col("vec_id") < N_QUERIES), "vec_id", "embedding"
    )
    return q_ids, _unit_rows(q_mat.reshape(len(q_ids), dim))


def _top_cells(S: np.ndarray, cent_ids: np.ndarray, n: int) -> np.ndarray:
    """Column indices of each row's ``n`` best cells in a (rows × cells)
    similarity block: ORDER BY sim DESC, cell — one stable lexsort for
    the whole block."""
    return np.lexsort((np.broadcast_to(cent_ids, S.shape), -S), axis=1)[:, :n]


def ivf_probe(
    spark: SparkSession,
    q_ids: np.ndarray,
    q_units: np.ndarray,
    cent_ids: np.ndarray,
    cent_units: np.ndarray,
    n_probe: int,
) -> DataFrame:
    """The broadcast (query_id, cell) frame of each query's ``n_probe``
    nearest cells (the query side is tiny → plain numpy on the driver)."""
    cells = cent_ids[_top_cells(q_units @ cent_units.T, cent_ids, n_probe)]
    rows = zip(np.repeat(q_ids, cells.shape[1]).tolist(), cells.ravel().tolist())
    return F.broadcast(spark.createDataFrame(list(rows), "query_id long, cell long"))


def exact_rerank_topk(pairs: DataFrame, q_ids: np.ndarray, q_units: np.ndarray) -> DataFrame:
    """Exact cosine top-k of candidate ``(query_id, neighbor_id,
    embedding)`` pairs: one einsum per Arrow batch, self-pairs dropped,
    then the row_number merge. ``q_ids`` is sorted (``query_units``), so
    a query's unit row is found by ``searchsorted``."""

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qs = pdf["query_id"].to_numpy(dtype=np.int64)
            c_ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            c_units = _unit_rows(np.array(list(pdf["embedding"]), dtype=np.float64))
            sims = np.einsum("ij,ij->i", q_units[np.searchsorted(q_ids, qs)], c_units)
            keep = c_ids != qs
            yield pd.DataFrame(
                {"query_id": qs[keep], "neighbor_id": c_ids[keep], "sim": sims[keep]}
            )

    scored = pairs.select("query_id", "neighbor_id", "embedding").mapInPandas(
        score, schema=SCORE_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


def ivf_flat_topk(corpus: DataFrame, cent_ids: np.ndarray, cent_units: np.ndarray) -> DataFrame:
    """IVF-Flat top-k of the first N_QUERIES vectors over the given
    unit centroids: assign → probe the N_PROBE nearest cells → exact
    rerank of the probed cells only. Shared by the stride-centroid
    ``q_ann_ivf_topk`` and the k-means ``ann_kmeans.q_ann_kmeans_topk``,
    so the trained index serves through the oracle-checked plan."""
    assigned = ivf_assign_cells(corpus, cent_ids, cent_units)
    q_ids, q_units = query_units(corpus, cent_units.shape[1])
    probes = ivf_probe(corpus.sparkSession, q_ids, q_units, cent_ids, cent_units, N_PROBE)
    # scan only the probed cells
    pairs = assigned.join(probes, "cell").select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    return exact_rerank_topk(pairs, q_ids, q_units)


def _stride_centroids(e: DataFrame, stride: int = CENTROID_STRIDE) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic centroids an oracle can replay: every
    ``stride``-th vector, cell ``vec_id / stride``, as sorted cell ids
    and unit rows."""
    centroids = e.filter(F.col("vec_id") % stride == 0).select(
        (F.col("vec_id") / stride).cast("long").alias("cell"),
        F.col("embedding"),
    )
    cent_ids, cent_mat = _collect_matrix(centroids, "cell", "embedding")
    return cent_ids, _unit_rows(cent_mat)


@query(
    "q_ann_ivf_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    cent AS (
      SELECT CAST(vec_id / {CENTROID_STRIDE} AS BIGINT) AS cell, emb AS cent_emb
      FROM e WHERE vec_id % {CENTROID_STRIDE} = 0
    ),
    assign AS (
      SELECT vec_id, emb, cell FROM (
        SELECT v.vec_id, v.emb, c.cell,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY list_cosine_similarity(v.emb, c.cent_emb) DESC, c.cell) AS rn
        FROM e v CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < {N_QUERIES}),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, c.cell,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY list_cosine_similarity(q.q_emb, c.cent_emb) DESC, c.cell) AS rn
        FROM q CROSS JOIN cent c
      ) WHERE rn <= {N_PROBE}
    ),
    scored AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(q.q_emb, a.emb) AS sim
      FROM q JOIN probes p ON q.query_id = p.query_id
             JOIN assign a ON a.cell = p.cell
      WHERE a.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim FROM (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-5: probe the N_PROBE nearest cells.

    Deterministic centroids (every CENTROID_STRIDE-th vector) so the
    oracle replays the exact same index; recall vs brute force is
    asserted in pytest. A production build swaps k-means centroids in;
    the operator shape (assign → probe → rerank) is unchanged.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_flat_topk(e, *_stride_centroids(e))


# --------------------------------------------------------------------------
# Nearest-centroid classification + embedding-column profiling
# --------------------------------------------------------------------------
@query(
    "q_nearest_centroid",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    dims AS (
      SELECT label, i - 1 AS dim, avg(emb[i]) AS m
      FROM e, unnest(range(1, 65)) AS t(i)
      GROUP BY label, i
    ),
    cents AS (
      SELECT label AS c_label, list(m ORDER BY dim) AS cent
      FROM dims GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label, c.c_label,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(e.emb, c.cent), 4) DESC,
               c.c_label
             ) AS rn
      FROM e CROSS JOIN cents c
    )
    SELECT label AS true_label, c_label AS assigned_label,
           count(*) AS n
    FROM scored WHERE rn = 1
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification of every embedding
    against its per-label mean vector — the confusion matrix of the
    10-label corpus. The quality gate a labeled-embedding pipeline
    runs after re-embedding.

    Plan: per-label centroids via posexplode + avg (shuffle carries
    (label, dim) partial sums — k x dim rows, map-side combined), the
    10 x 64 centroid matrix collected driver-side (a legitimate small
    reduce, same as the k-means partials), then one narrow mapInPandas
    GEMM assigns each corpus vector to argmax cosine (ties -> lowest
    label). The corpus itself never shuffles; the only wide stage is
    the final (true, assigned) count.

    Similarities are rounded to 4 decimals before the argmax in BOTH
    engines: the centroids come from a floating-point avg whose
    summation order differs between Spark (partial agg) and DuckDB
    (sequential), so raw sims carry ~1e-15 ulp noise — rounding turns
    any two centroids closer than 1e-4 into an explicit tie broken by
    lowest label, identically on both sides.
    """
    e = load_table(spark, sf_dir, "embeddings")
    dims = (
        e.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.avg("x").alias("m"))
    )
    cent_rows = dims.groupBy("label").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("dim"), F.col("m")))
        ).alias("dm")
    ).select("label", F.transform("dm", lambda s: s.m).alias("cent")).collect()
    cent_rows.sort(key=lambda r: r["label"])
    c_labels = np.array([r["label"] for r in cent_rows], dtype=np.int64)
    c_units = _unit_rows(np.array([r["cent"] for r in cent_rows], dtype=np.float64))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            units = _unit_rows(mat)
            sims = np.round(units @ c_units.T, 4)  # (batch, k)
            best = np.argmax(sims, axis=1)  # first max -> lowest label
            yield pd.DataFrame(
                {
                    "true_label": pdf["label"].to_numpy(dtype=np.int64),
                    "assigned_label": c_labels[best],
                }
            )

    assigned = e.select("label", "embedding").mapInPandas(
        assign, schema="true_label long, assigned_label long"
    )
    return (
        assigned.groupBy("true_label", "assigned_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_label", "assigned_label")
    )


@query(
    "q_embedding_dim_variance",
    oracle="""
    SELECT i - 1 AS dim,
           round(avg(emb[i]), 6) AS mean_x,
           round(var_samp(emb[i]), 6) AS var_x
    FROM (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         unnest(range(1, 65)) AS t(i)
    GROUP BY i
    ORDER BY var_x DESC, dim
    LIMIT 5
    """,
)
def q_embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance profile of the embedding column,
    top-5 dims by variance — the drift/collapse monitor an embedding
    pipeline runs per batch (a dimension whose variance collapses to ~0
    signals an encoder regression).

    Plan: posexplode -> groupBy(dim) with map-side partial agg; the
    shuffle carries 64 x n_partitions partial rows, never the corpus.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.round(F.avg("x"), 6).alias("mean_x"),
            F.round(F.var_samp("x"), 6).alias("var_x"),
        )
        .orderBy(F.desc("var_x"), "dim")
        .limit(5)
    )


# --------------------------------------------------------------------------
# Random-projection sketch (dimensionality reduction for embeddings)
# --------------------------------------------------------------------------
RP_OUT_DIMS = 8


@query(
    "q_random_projection",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, t.i AS dim,
             CAST(floor(CAST(embedding[t.i+1] AS DOUBLE)*1000) AS BIGINT) AS q
      FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
    ),
    proj AS (
      SELECT vec_id, u.j AS out_dim, x.q,
             CASE WHEN substr(md5(concat(CAST(x.dim AS VARCHAR), '_',
                                         CAST(u.j AS VARCHAR))), 1, 1)
                  IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS s
      FROM x, unnest(range(0, {RP_OUT_DIMS})) AS u(j)
    )
    SELECT vec_id, CAST(out_dim AS BIGINT) AS out_dim,
           CAST(sum(s*q) AS BIGINT) AS sketch
    FROM proj GROUP BY vec_id, out_dim ORDER BY vec_id, out_dim
    """,
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed random projection of the 64-d embeddings down to 8
    sketch dimensions — the Achlioptas/JL reduction every
    embedding-heavy pipeline uses before coarse bucketing. The +-1
    projection matrix is *derived from a hash* (md5 of "in-dim_out-dim",
    first hex nibble's parity), so both engines build the identical
    matrix with no materialized side table and no RNG.

    Hash parity: values are quantized to integers (floor(x*1000)) so
    the sketch sums are exact integer math, immune to the
    float-summation-order divergence between Spark's partial
    aggregation and DuckDB's sequential sum (the q_nearest_centroid
    lesson from round 3's ADVICE).

    Scale: posexplode + a sequence explode is narrow; the only shuffle
    is the (vec_id, out_dim) partial-aggregating groupBy. Nothing is
    broadcast or collected; the projection "matrix" costs one md5 per
    (dim, out_dim) cell inside codegen. At 100 TB the same plan holds
    — sketch width x corpus rows, linear.
    """
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select("vec_id", F.posexplode("embedding").alias("dim", "x")).select(
        "vec_id",
        "dim",
        F.floor(F.col("x").cast("double") * 1000).cast("long").alias("q"),
    )
    proj = x.withColumn(
        "out_dim", F.explode(F.sequence(F.lit(0), F.lit(RP_OUT_DIMS - 1)))
    )
    sign = F.when(
        F.substring(
            F.md5(F.concat_ws("_", F.col("dim"), F.col("out_dim")).cast("binary")),
            1,
            1,
        ).isin(*"01234567"),
        1,
    ).otherwise(-1)
    return (
        proj.groupBy("vec_id", F.col("out_dim").cast("long").alias("out_dim"))
        .agg(F.sum(sign * F.col("q")).alias("sketch"))
        .orderBy("vec_id", "out_dim")
    )


@query(
    "q_hybrid_search_rrf",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl,
             len(list_filter(string_split(text, ' '), x -> x = 'data'))   AS tf1,
             len(list_filter(string_split(text, ' '), x -> x = 'query'))  AS tf2,
             len(list_filter(string_split(text, ' '), x -> x = 'stream')) AS tf3
      FROM documents
    ),
    s AS (
      SELECT count(*) AS n, avg(dl) AS avgdl,
             count_if(tf1 > 0) AS df1, count_if(tf2 > 0) AS df2,
             count_if(tf3 > 0) AS df3
      FROM t
    ),
    lex_all AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY round(
               ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0)
                 * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0)
                 * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln((n - df3 + 0.5) / (df3 + 0.5) + 1.0)
                 * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)
               DESC, doc_id) AS rank_lex
      FROM t, s
      WHERE tf1 + tf2 + tf3 > 0
    ),
    lex AS (SELECT * FROM lex_all WHERE rank_lex <= 100),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    probe AS (SELECT emb AS p_emb FROM e WHERE vec_id = 0),
    sem_all AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (
               ORDER BY round(list_cosine_similarity(emb, p_emb), 6) DESC, vec_id
             ) AS rank_sem
      FROM e, probe WHERE vec_id != 0
    ),
    sem AS (SELECT * FROM sem_all WHERE rank_sem <= 100),
    fused AS (
      SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
             lex.rank_lex, sem.rank_sem,
             coalesce(1.0 / (60 + rank_lex), 0.0)
               + coalesce(1.0 / (60 + rank_sem), 0.0) AS rrf
      FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    )
    SELECT doc_id, rank_lex, rank_sem, round(rrf, 6) AS rrf_score
    FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT 20
    """,
)
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with **reciprocal-rank fusion** (RRF, k=60 —
    Cormack et al. SIGIR'09, the fusion rule ElasticSearch/OpenSearch
    ship): fuse a lexical BM25 ranking (fixed probe terms, same scorer
    as ``q_bm25_search``) with a semantic cosine ranking against a
    probe embedding (vec_id 0), by summing ``1/(60+rank)`` over the
    rankings each document appears in. Rank-based fusion needs no
    score calibration between the two retrievers — that's its point.

    Float-determinism: both rankings order by scores *rounded to 6dp*
    with an explicit doc-id tie-break, so ulp-level engine noise in
    the raw doubles cannot flip a rank (the q_nearest_centroid
    lesson); RRF then depends only on integer ranks.

    Scale: the BM25 side is a narrow pass + one scalar broadcast; the
    cosine side broadcasts ONE probe vector. Each ranking is cut to
    **fusion depth 100 with ``orderBy().limit()``** — Spark plans
    TakeOrderedAndProject (per-partition top-100 folded on executors,
    merged once), NOT a single-partition global sort — and only the
    100-row survivor set gets ``row_number`` ranks (a window over an
    already-tiny frame, the documented bounded-window exception).
    Documents below depth contribute zero to RRF, which is the
    standard depth-limited form every production fusion runs. The
    fusion join carries two ≤100-row rank lists — broadcast by
    construction.
    """
    from mi_inbound_pulsar_spark.operators.text import bm25_scored

    d = load_table(spark, sf_dir, "documents")
    depth = 100
    lex = (
        bm25_scored(d)  # the canonical scorer — shared with q_bm25_search
        .select("doc_id", "bm25")
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(depth)  # TakeOrderedAndProject — no global sort
        .withColumn(
            "rank_lex",
            F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id")),
        )
        .select("doc_id", "rank_lex")
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    probe = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("p_emb"))
    dot = F.aggregate(
        F.zip_with("emb", "p_emb", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate("emb", F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate("p_emb", F.lit(0.0), lambda acc, x: acc + x * x))
    sem = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(dot / (na * nb), 6).alias("sim"),
        )
        .orderBy(F.desc("sim"), "doc_id")
        .limit(depth)  # TakeOrderedAndProject — no global sort
        .withColumn(
            "rank_sem",
            F.row_number().over(Window.orderBy(F.desc("sim"), "doc_id")),
        )
        .select("doc_id", "rank_sem")
    )

    rrf = F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_lex")), F.lit(0.0)) + F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("rank_sem")), F.lit(0.0)
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select("doc_id", "rank_lex", "rank_sem", rrf.alias("_rrf"))
        .orderBy(F.desc("_rrf"), "doc_id")
        .limit(20)
        .select("doc_id", "rank_lex", "rank_sem", F.round("_rrf", 6).alias("rrf_score"))
    )


# --------------------------------------------------------------------------
# Mutual k-nearest-neighbor pairs (SemDeDup-style semantic dedup signal)
# --------------------------------------------------------------------------
MUTUAL_KNN_K = 5
KNN_BLOCKS = 8  # ≈ sqrt(2·parallelism); KNN_BLOCKS·(KNN_BLOCKS+1)/2 = 36 GEMM tasks


def _block_pairs(e: DataFrame, score, schema: str) -> DataFrame:
    """Exact all-pairs cosine scaffold: block-cogrouped GEMM.

    Vectors split into B = ``KNN_BLOCKS`` disjoint residue classes
    ``pmod(vec_id, B)``; every unordered block pair (bi ≤ bj) cogroups
    once, so a cross-block pair lands in exactly one group. Nothing is
    collected to the driver: replication is B rows-out per row (n·B
    rows shuffled on a 2-int key), per-task
    memory is two blocks, and the quadratic compute is spread over
    B(B+1)/2 independent tasks. Per group, ``score(diagonal, ids_l,
    ids_r, S)`` gets both sides' ids and the float64 cosine block
    ``S = units_l @ units_r.T`` (``diagonal`` is bi == bj, where both
    sides are the same block) and returns a frame of ``schema``.
    """
    spark = e.sparkSession
    blk = e.select(
        "vec_id", "embedding", F.pmod(F.col("vec_id"), F.lit(KNN_BLOCKS)).alias("blk")
    )
    pairs = [(i, j) for i in range(KNN_BLOCKS) for j in range(i, KNN_BLOCKS)]
    sides = []
    for col, side in (("bi", "l"), ("bj", "r")):
        # a fresh tiny frame per side: the same pairs frame on both
        # sides would trip Spark's ambiguous-self-join analyzer
        bp = spark.createDataFrame(pairs, "bi long, bj long")
        sides.append(
            blk.join(F.broadcast(bp), blk.blk == bp[col]).select(
                "bi", "bj", F.col("vec_id").alias(f"id_{side}"),
                F.col("embedding").alias(f"emb_{side}"),
            )
        )

    def run(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame()  # Spark accepts a column-less empty result
        ul = _unit_rows(np.array(list(lpdf["emb_l"]), dtype=np.float64))
        ur = _unit_rows(np.array(list(rpdf["emb_r"]), dtype=np.float64))
        return score(
            key[0] == key[1],
            lpdf["id_l"].to_numpy(dtype=np.int64),
            rpdf["id_r"].to_numpy(dtype=np.int64),
            ul @ ur.T,
        )

    left, right = sides
    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(run, schema=schema)
    )


def knn_self_join(e: DataFrame, k: int = MUTUAL_KNN_K) -> DataFrame:
    """Exact cosine k-NN of every corpus vector against the whole
    corpus (self-join form), without ever collecting the corpus.

    Runs on the :func:`_block_pairs` scaffold (shared with
    ``q_embedding_neardup``): each block pair's GEMM is scored in both
    directions (a diagonal pair covers both in one) and
    :func:`_topk_candidates` keeps a per-pair partial top-(k + 8), so
    the shuffle into the global row_number merge carries
    O(n · pairs_per_block · k) candidate rows, never n². Work is
    O(n²/B) per task — the exact-kNN lower bound — and at 100 TB this
    operator is the *verifier* run after an IVF/LSH candidate generator
    (q_ann_ivf_topk / rhp_band_keys) cuts the candidate space; the
    block join is also exactly how the verification stage parallelizes.

    Ranking is on the 6dp-ROUNDED similarity with neighbor_id as the
    tie-break, applied identically in the per-block partial top-k, the
    global row_number merge, and the DuckDB oracles: numpy's
    normalized-GEMM and DuckDB's list_cosine_similarity differ at ulp
    level, which can flip an unrounded rank at the k-th boundary (the
    q_retrieval_mrr hazard), and exact-duplicate embeddings tie exactly
    at 6dp, so the tie-break must agree everywhere too. Ids must lie in
    [0, 2^33) — the composite ranking key raises otherwise.
    """

    def score(diagonal, ids_l, ids_r, S):
        directions = [(S, ids_l, ids_r)]
        if not diagonal:
            directions.append((S.T, ids_r, ids_l))
        parts = [_topk_candidates(s, q, c, k + 8) for s, q, c in directions]
        vec_id, neighbor_id, sim = (np.concatenate(a) for a in zip(*parts))
        return pd.DataFrame({"vec_id": vec_id, "neighbor_id": neighbor_id, "sim": sim})

    cand = _block_pairs(e, score, "vec_id long, neighbor_id long, sim double")
    w = Window.partitionBy("vec_id").orderBy(F.desc(F.round("sim", 6)), "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "sim")
    )


@query(
    "q_mutual_knn",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             list_cosine_similarity(a.emb, b.emb) AS sim
      FROM e a JOIN e b ON a.vec_id != b.vec_id
    ),
    knn AS (
      SELECT ia, ib, sim,
             row_number() OVER (PARTITION BY ia ORDER BY round(sim, 6) DESC, ib) AS rk
      FROM pairs
    ),
    topk AS (SELECT ia, ib, sim FROM knn WHERE rk <= {MUTUAL_KNN_K})
    SELECT t.ia AS id_a, t.ib AS id_b, round(t.sim, 6) AS sim
    FROM topk t JOIN topk u ON t.ia = u.ib AND t.ib = u.ia
    WHERE t.ia < t.ib
    ORDER BY id_a, id_b
    """,
)
def q_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN pairs (a ∈ kNN(b) AND b ∈ kNN(a), k={MUTUAL_KNN_K})
    — the reciprocal-neighbor signal SemDeDup-style semantic dedup and
    kNN-graph clustering build on: mutual pairs are far more precise
    duplicate/cluster edges than one-directional hits. Built on the
    block-cogrouped exact kNN self-join (:func:`knn_self_join` — the
    corpus never collects, candidates bounded per block pair); the
    mutuality check is one self-join on the (k·n)-row kNN edge list.
    """
    e = load_table(spark, sf_dir, "embeddings")
    knn = knn_self_join(e, k=MUTUAL_KNN_K)
    rev = knn.select(
        F.col("neighbor_id").alias("vec_id"), F.col("vec_id").alias("neighbor_id")
    )
    return (
        knn.join(rev, ["vec_id", "neighbor_id"])
        .filter(F.col("vec_id") < F.col("neighbor_id"))
        .select(
            F.col("vec_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            F.round("sim", 6).alias("sim"),
        )
        .orderBy("id_a", "id_b")
    )


#: shared DuckDB replay of the exact-kNN + mutuality pipeline (the
#: q_mutual_knn oracle body), reused by the composition oracles below.
_MUTUAL_KNN_CTE = f"""
    e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings
    ),
    allpairs AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             list_cosine_similarity(a.emb, b.emb) AS sim
      FROM e a JOIN e b ON a.vec_id != b.vec_id
    ),
    knn AS MATERIALIZED (
      SELECT ia, ib, sim,
             row_number() OVER (PARTITION BY ia ORDER BY round(sim, 6) DESC, ib) AS rk
      FROM allpairs
    ),
    topk AS MATERIALIZED (SELECT ia, ib, sim FROM knn WHERE rk <= {MUTUAL_KNN_K})
"""


@query(
    "q_knn_classification",
    oracle=f"""
    WITH {_MUTUAL_KNN_CTE},
    votes AS (
      SELECT t.ia AS vec_id, n.label AS pred, count(*) AS c
      FROM topk t JOIN e n ON t.ib = n.vec_id
      GROUP BY 1, 2
    ),
    best AS (
      SELECT vec_id, pred,
             row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, pred) AS rk
      FROM votes
    )
    SELECT q.label AS true_label, b.pred AS pred_label,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM best b JOIN e q ON b.vec_id = q.vec_id
    WHERE b.rk = 1
    GROUP BY 1, 2 ORDER BY true_label, pred_label
    """,
)
def q_knn_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification confusion matrix (k={MUTUAL_KNN_K}, majority
    vote over neighbor labels, ties to the smaller label) — the
    leave-one-out eval every labeled-embedding pipeline runs to sanity-
    check its vector space, and the supervised counterpart of
    ``q_nearest_centroid``'s Rocchio classifier.

    Plan: reuses the block-cogrouped exact kNN self-join (corpus never
    collects); voting is one groupBy on the (k·n)-row edge list joined
    to the label column, and the argmax is a per-vector rank over ≤k
    rows. The confusion matrix aggregate is |labels|² rows.
    """
    e = load_table(spark, sf_dir, "embeddings")
    knn = knn_self_join(e, k=MUTUAL_KNN_K)
    labels = e.select("vec_id", "label")
    votes = (
        knn.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("pred")
            ),
            "neighbor_id",
        )
        .groupBy("vec_id", "pred")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("c"), "pred")
    best = votes.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        best.join(labels, "vec_id")
        .groupBy(F.col("label").alias("true_label"), F.col("pred").alias("pred_label"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("true_label", "pred_label")
    )


SEMANTIC_EDGE_MIN_SIM = 0.38  # keeps ~the top decile of mutual edges


@query(
    "q_knn_graph_components",
    oracle=f"""
    WITH RECURSIVE {_MUTUAL_KNN_CTE},
    mutual AS MATERIALIZED (
      SELECT t.ia AS id_a, t.ib AS id_b
      FROM topk t JOIN topk u ON t.ia = u.ib AND t.ib = u.ia
      WHERE t.ia < t.ib AND round(t.sim, 6) >= {SEMANTIC_EDGE_MIN_SIM}
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM mutual
      UNION
      SELECT id_b, id_a FROM mutual
    ),
    reach(vec_id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e2.src, r.comp FROM edges e2 JOIN reach r ON e2.dst = r.vec_id
    ),
    labeled AS (
      SELECT vec_id, min(comp) AS component FROM reach GROUP BY vec_id
    )
    SELECT CAST(component AS BIGINT) AS component,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(vec_id) AS BIGINT) AS keeper_vec_id
    FROM labeled GROUP BY component ORDER BY component
    """,
)
def q_knn_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the mutual-kNN graph with keeper
    election — the cluster step of SemDeDup-style semantic dedup:
    reciprocal-neighbor edges partition the corpus into semantic
    groups; each keeps its lowest-id representative. Composes
    ``q_mutual_knn``'s edge list (thresholded at sim ≥ 0.38 — without a
    floor, reciprocal edges over a weakly-structured space percolate
    into one giant component, exactly why SemDeDup applies its own
    epsilon) with the min-label + pointer-jumping
    components kernel (O(log diameter) rounds, localCheckpoint per
    round); the oracle replays the same fixpoint as a recursive
    closure over MATERIALIZED CTEs (the k-core/BFS oracle recipe).
    """
    from mi_inbound_pulsar_spark.operators.dedup import connected_components

    e = load_table(spark, sf_dir, "embeddings")
    pairs = (
        q_mutual_knn(spark, sf_dir)
        .filter(F.col("sim") >= SEMANTIC_EDGE_MIN_SIM)
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("vec_id"), "component"
    )
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("keeper_vec_id"),
        )
        .orderBy("component")
    )


# --------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic deduplication (Abbas et al. 2023)
# --------------------------------------------------------------------------
SEMDEDUP_EPS = 0.38  # same epsilon as the mutual-kNN edge floor


@query(
    "q_semdedup",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    cent AS (
      SELECT CAST(vec_id / {CENTROID_STRIDE} AS BIGINT) AS cell, emb AS cent_emb
      FROM e WHERE vec_id % {CENTROID_STRIDE} = 0
    ),
    assign AS MATERIALIZED (
      SELECT vec_id, emb, cell, round(sim, 6) AS cent_sim FROM (
        SELECT v.vec_id, v.emb, c.cell,
               round(list_cosine_similarity(v.emb, c.cent_emb), 9) AS sim,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.emb, c.cent_emb), 9)
                            DESC, c.cell)
                 AS rn
        FROM e v CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    dup AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= {SEMDEDUP_EPS}
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM dup
      UNION SELECT id_b, id_a FROM dup
    ),
    reach(vec_id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e2.src, r.comp FROM edges e2 JOIN reach r ON e2.dst = r.vec_id
    ),
    labeled AS (SELECT vec_id, min(comp) AS grp FROM reach GROUP BY vec_id),
    ranked AS (
      SELECT l.grp, l.vec_id, a.cell, a.cent_sim,
             row_number() OVER (PARTITION BY l.grp
                                ORDER BY a.cent_sim, l.vec_id) AS rn
      FROM labeled l JOIN assign a ON l.vec_id = a.vec_id
    )
    SELECT CAST(grp AS BIGINT) AS grp,
           CAST(max(cell) AS BIGINT) AS cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(CASE WHEN rn = 1 THEN vec_id END) AS BIGINT)
             AS keeper_vec_id,
           CAST(count(*) - 1 AS BIGINT) AS n_pruned
    FROM ranked GROUP BY grp ORDER BY grp
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end (Abbas et al. 2023, arXiv:2303.09540):
    k-means-style cluster assignment → *intra-cluster* pairwise cosine
    → epsilon-graph duplicate groups → keeper election. The keeper is
    the group member with the LOWEST similarity to its cluster
    centroid (the paper's rule: keep the outlier, prune the redundant
    core), ties to the lowest vec_id.

    This is the flagship composition of the semantic-dedup family: the
    clustering step bounds the pairwise step to O(n²/k) *per cluster*
    — the pair enumeration provably never goes corpus-pairwise, which
    is the whole reason SemDeDup scales where brute near-dup does not.
    Deterministic stride centroids stand in for trained k-means so the
    DuckDB oracle can replay the index exactly (the
    ``q_ann_ivf_topk`` recipe; ``train_spherical_kmeans`` is the
    drop-in production centroid source with identical plan shape).

    Plan: centroid matrix is k×64 driver-side (bounded by k); the
    corpus never collects and never shuffles for assignment (one
    narrow ``mapInPandas`` GEMM argmax). The ONLY corpus shuffle is
    the groupBy ``cell`` — at 100 TB the assignment is written
    bucketed by cell, making this a zero-exchange ``applyInPandas``.
    Each cell's kernel does the pairwise GEMM *and* the epsilon-graph
    components in one pass (cell-local union-find over the adjacency
    bitmap it just built — groups cannot span cells by construction,
    so no distributed component iteration exists in this plan at
    all); keeper election is one tiny ``min_by`` aggregate over the
    duplicate-group rows.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return semdedup_groups(e)


def semdedup_groups(
    e: DataFrame,
    eps: float = SEMDEDUP_EPS,
    stride: int = CENTROID_STRIDE,
) -> DataFrame:
    """Library form of :func:`q_semdedup`: SemDeDup duplicate groups
    over an (vec_id, embedding) frame with stride-``stride`` centroids
    and epsilon ``eps``. See the query docstring for the plan shape."""
    cent_ids, cent_units = _stride_centroids(e, stride)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            units = _unit_rows(mat)
            # 9dp quantization BEFORE the argmax (the PCA-oracle
            # recipe): an ulp-level centroid tie from different
            # summation order across engines must not flip a
            # document's cell — cell choice cascades into entirely
            # different duplicate groups
            sims = np.round(units @ cent_units.T, 9)
            best = np.argmax(sims, axis=1)  # first max → lowest cell id
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cell": cent_ids[best],
                    "cent_sim": sims[np.arange(len(ids)), best],
                    "embedding": pdf["embedding"],
                }
            )

    assigned = e.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id long, cell long, cent_sim double, embedding array<float>"
    )

    def cell_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        """Duplicate groups within ONE cell: epsilon-graph components
        via a cell-local union-find over the pairwise-sim bitmap. The
        whole point of SemDeDup's clustering step is that groups can
        never span cells, so components need no distributed iteration
        — the O(cell²) adjacency this kernel already materialized for
        the pairwise step is the entire input."""
        empty = pd.DataFrame(
            {
                "vec_id": np.array([], np.int64),
                "grp": np.array([], np.int64),
                "cell": np.array([], np.int64),
                "cent_sim": np.array([], np.float64),
            }
        )
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return empty
        mat = np.array(list(pdf["embedding"]), dtype=np.float64)
        units = _unit_rows(mat)
        sims = np.round(units @ units.T, 6)
        adj = sims >= eps
        np.fill_diagonal(adj, False)
        dup = adj.any(axis=1)  # singletons are not duplicates
        if not dup.any():
            return empty
        parent = np.arange(len(ids))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(*np.nonzero(np.triu(adj, k=1))):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        roots = np.array([find(i) for i in range(len(ids))])
        out = pd.DataFrame(
            {
                "vec_id": ids[dup],
                "root": roots[dup],
                "cell": pdf["cell"].to_numpy(dtype=np.int64)[dup],
                "cent_sim": pdf["cent_sim"].to_numpy(dtype=np.float64)[dup],
            }
        )
        # group label = smallest member vec_id (the oracle's min(comp))
        out["grp"] = out.groupby("root")["vec_id"].transform("min")
        return out[["vec_id", "grp", "cell", "cent_sim"]]

    members = assigned.groupBy("cell").applyInPandas(
        cell_groups, schema="vec_id long, grp long, cell long, cent_sim double"
    )
    return (
        members.groupBy("grp")
        .agg(
            F.max("cell").alias("cell"),
            F.count(F.lit(1)).alias("n_members"),
            F.min_by(
                "vec_id", F.struct(F.round("cent_sim", 6), F.col("vec_id"))
            ).alias("keeper_vec_id"),
            (F.count(F.lit(1)) - F.lit(1)).alias("n_pruned"),
        )
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# int8 symmetric embedding quantization + reconstruction audit
# --------------------------------------------------------------------------
@query(
    "q_embedding_quantize",
    oracle="""
    WITH el AS (
      SELECT label, i AS dim, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings,
           unnest(generate_series(1, len(embedding))) AS u(i)
    ),
    scale AS (
      SELECT dim, max(abs(x)) AS s FROM el GROUP BY dim
    ),
    q AS (
      SELECT el.label,
             el.x,
             greatest(-127, least(127,
               floor(el.x / scale.s * 127 + 0.5))) AS qv,
             scale.s
      FROM el JOIN scale USING (dim)
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_elems,
           round(sum((x - qv * s / 127) * (x - qv * s / 127)) * 1000000
                 / count(*), 6) AS mse_micro,
           round(max(abs(x - qv * s / 127)) * 1000, 6) AS max_abs_err_milli
    FROM q GROUP BY label ORDER BY label
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 quantization of the embedding
    corpus (the standard serving/storage compression: q = round(x/s ·
    127) with s = per-dim max |x|) plus the reconstruction-error audit
    a vector-store owner runs before switching the ANN index to int8 —
    per-label MSE (in micro-units) and worst-case absolute error (in
    milli-units). Companion of ``q_ann_pq_recall``: PQ compresses by
    codebook, this by scalar range; both need an error gate.

    Hash-exactness: the quantized code is ``floor(x/s·127 + 0.5)``
    spelled explicitly (NOT engine ``round``, whose half-rule differs),
    over float32 values promoted exactly to double — both engines
    produce the bit-identical code; only the error aggregates carry
    reassociation noise, rounded 6dp.

    Scale: one posexplode + a |dims|-row max aggregate (broadcast
    back), then a map-side-combined per-label aggregate — the corpus
    shuffles only as (label, partial-moment) rows. The quantized
    column itself would be written back bucketed; here the audit is
    the deliverable.
    """
    e = load_table(spark, sf_dir, "embeddings")
    el = e.select(
        "label",
        F.posexplode("embedding").alias("dim", "xf"),
    ).select("label", "dim", F.col("xf").cast("double").alias("x"))
    scale = el.groupBy("dim").agg(F.max(F.abs("x")).alias("s"))
    qv = F.greatest(
        F.lit(-127.0),
        F.least(F.lit(127.0), F.floor(F.col("x") / F.col("s") * 127 + 0.5)),
    )
    q = el.join(F.broadcast(scale), "dim").select(
        "label", "x", "s", qv.alias("qv")
    )
    err = F.col("x") - F.col("qv") * F.col("s") / 127
    return (
        q.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_elems"),
            F.round(F.sum(err * err) * 1000000 / F.count(F.lit(1)), 6).alias(
                "mse_micro"
            ),
            F.round(F.max(F.abs(err)) * 1000, 6).alias("max_abs_err_milli"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Hard-negative mining over the kNN shortlist (contrastive training prep)
# --------------------------------------------------------------------------
HARD_NEG_POOL_K = 10
HARD_NEG_PER_ANCHOR = 3


@query(
    "q_hard_negative_mining",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings
    ),
    allpairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             list_cosine_similarity(a.emb, b.emb) AS sim
      FROM e a JOIN e b ON a.vec_id != b.vec_id
    ),
    knn AS (
      SELECT ia, ib, sim,
             row_number() OVER (PARTITION BY ia ORDER BY round(sim, 6) DESC, ib) AS rk
      FROM allpairs
    ),
    shortlist AS (SELECT ia, ib, sim FROM knn WHERE rk <= {HARD_NEG_POOL_K}),
    negs AS (
      SELECT s.ia AS vec_id, qa.label AS anchor_label,
             s.ib AS neg_id, nb.label AS neg_label, s.sim,
             row_number() OVER (PARTITION BY s.ia
                                ORDER BY round(s.sim, 6) DESC, s.ib) AS neg_rank
      FROM shortlist s
      JOIN e qa ON s.ia = qa.vec_id
      JOIN e nb ON s.ib = nb.vec_id
      WHERE qa.label != nb.label
    )
    SELECT vec_id, anchor_label, neg_id, neg_label,
           round(sim, 6) AS sim, CAST(neg_rank AS BIGINT) AS neg_rank
    FROM negs WHERE neg_rank <= {HARD_NEG_PER_ANCHOR}
    ORDER BY vec_id, neg_rank
    """,
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR recipe,
    Karpukhin et al. 2020): for every anchor vector, the top
    {HARD_NEG_PER_ANCHOR} most-similar neighbors with a DIFFERENT
    label from its {HARD_NEG_POOL_K}-NN shortlist — near-misses the
    embedding currently confuses, the highest-value negatives a
    training batch can contain.

    Plan: reuses the block-cogrouped exact kNN self-join (the corpus
    never collects; at 100 TB the shortlist generator is the ANN index
    and this stage is unchanged — practical miners rank negatives
    within an ANN shortlist, exactly this shape). Label joins ride the
    (k·n)-row edge list; the per-anchor re-rank window sees ≤ k rows.
    """
    e = load_table(spark, sf_dir, "embeddings")
    labels = e.select("vec_id", "label")
    knn = knn_self_join(e, k=HARD_NEG_POOL_K)
    negs = (
        knn.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("neg_label")
            ),
            "neighbor_id",
        )
        .join(
            labels.select("vec_id", F.col("label").alias("anchor_label")), "vec_id"
        )
        .filter(F.col("anchor_label") != F.col("neg_label"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round("sim", 6)), "neighbor_id"
    )
    return (
        negs.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= HARD_NEG_PER_ANCHOR)
        .select(
            "vec_id",
            "anchor_label",
            F.col("neighbor_id").alias("neg_id"),
            "neg_label",
            F.round("sim", 6).alias("sim"),
            F.col("neg_rank").cast("long").alias("neg_rank"),
        )
        .orderBy("vec_id", "neg_rank")
    )


# --------------------------------------------------------------------------
# Recall gate for the int8-quantized corpus (companion of q_ann_pq_recall)
# --------------------------------------------------------------------------
INT8_RECALL_FLOOR = 0.9


@query(
    "q_int8_recall",
    oracle=f"""
    SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
           true AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def q_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-oracle gate for int8 scalar quantization
    (``q_embedding_quantize``'s codes used for real): top-k
    recall of brute-force search over the DEQUANTIZED corpus against
    the float-exact top-k, as a driver-hashable boolean
    (recall >= 0.9 ⇒ matches the oracle's constant;
    a quantization regression flips the flag and fails the hash —
    the q_ann_pq_recall gate pattern).

    Plan: per-dim scales are a |dims|-row aggregate (collected —
    bounded by the embedding width, not the corpus); quantize +
    dequantize run vectorized inside one ``mapInPandas`` pass over
    the corpus partitions (the corpus never shuffles); both search
    arms are the per-partition-top-k brute kernel.
    """
    e = load_table(spark, sf_dir, "embeddings")
    scale_rows = (
        e.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.max(F.abs(F.col("x").cast("double"))).alias("s"))
        .collect()
    )
    dims = max(r["dim"] for r in scale_rows) + 1
    s = np.ones(dims, dtype=np.float64)
    for r in scale_rows:
        if r["s"] > 0:
            s[r["dim"]] = r["s"]

    def dequantize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                # an empty batch's list column would infer float64 and
                # fail Arrow's list<double> conversion (see
                # ann_kmeans.lloyd_partials)
                continue
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            q = np.clip(np.floor(m / s * 127 + 0.5), -127, 127)
            deq = q * s / 127
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "embedding": list(deq)}
            )

    deq_corpus = e.select("vec_id", "embedding").mapInPandas(
        dequantize, schema="vec_id long, embedding array<double>"
    )
    approx = brute_force_topk(deq_corpus, e.filter(F.col("vec_id") < N_QUERIES))
    return recall_gate(approx, e, INT8_RECALL_FLOOR)


# --------------------------------------------------------------------------
# Rank-biased overlap between the lexical and semantic rankings
# --------------------------------------------------------------------------
RBO_DEPTH = 20
RBO_P = 0.9


@query(
    "q_rank_biased_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl,
             len(list_filter(string_split(text, ' '), x -> x = 'data'))   AS tf1,
             len(list_filter(string_split(text, ' '), x -> x = 'query'))  AS tf2,
             len(list_filter(string_split(text, ' '), x -> x = 'stream')) AS tf3
      FROM documents
    ),
    s AS (
      SELECT count(*) AS n, avg(dl) AS avgdl, sum(dl) AS tt,
             count_if(tf1 > 0) AS df1, count_if(tf2 > 0) AS df2,
             count_if(tf3 > 0) AS df3,
             sum(tf1) AS cf1, sum(tf2) AS cf2, sum(tf3) AS cf3
      FROM t
    ),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY round(
               ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0)
                 * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0)
                 * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln((n - df3 + 0.5) / (df3 + 0.5) + 1.0)
                 * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)
               DESC, doc_id) AS ra
      FROM t, s
      WHERE tf1 + tf2 + tf3 > 0
      QUALIFY ra <= {RBO_DEPTH}
    ),
    sem AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY round(
               ln((tf1 + {QL_MU} * cf1 / tt) / (dl + {QL_MU}))
             + ln((tf2 + {QL_MU} * cf2 / tt) / (dl + {QL_MU}))
             + ln((tf3 + {QL_MU} * cf3 / tt) / (dl + {QL_MU})), 6)
               DESC, doc_id) AS rb
      FROM t, s
      WHERE tf1 + tf2 + tf3 > 0
      QUALIFY rb <= {RBO_DEPTH}
    ),
    joined AS (
      SELECT greatest(lex.ra, sem.rb) AS m
      FROM lex JOIN sem USING (doc_id)
    ),
    depths AS (
      SELECT k FROM unnest(generate_series(1, {RBO_DEPTH})) AS u(k)
    ),
    terms AS (
      SELECT d.k,
             pow({RBO_P}, d.k - 1)
               * (SELECT count(*) FROM joined j WHERE j.m <= d.k) * 1.0 / d.k
               AS term
      FROM depths d
    )
    SELECT CAST({RBO_DEPTH} AS BIGINT) AS depth,
           CAST((SELECT count(*) FROM joined) AS BIGINT) AS overlap_at_depth,
           round((1 - {RBO_P}) * sum(term), 6) AS rbo_trunc
    FROM terms
    """,
)
def q_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010, truncated at depth
    {RBO_DEPTH}, p={RBO_P}) between the BM25 ranking and the Dirichlet
    query-likelihood ranking of the SAME query terms over the same
    documents — the top-weighted agreement an IR owner reads before
    deciding whether a scorer swap actually changes the ranking
    (Kendall over full lists over-weights the tail; RBO's geometric
    decay matches user attention). Round-10 fix: the previous second
    arm ranked EMBEDDINGS by cosine under a shared id-space conceit,
    and the two top-{RBO_DEPTH} lists never intersected at any scale
    factor — overlap and RBO were identically zero, so the geometric
    machinery was oracle-green dead code (the degeneracy-audit class).
    BM25-vs-QL is the textbook lexical model comparison and overlaps
    roughly half the list here, so every RBO term is exercised.

    Hash-exactness: both rankings order by 6dp-rounded scores with id
    tie-breaks (integer ranks are engine-identical); the RBO sum is
    {RBO_DEPTH} deterministic terms, rounded 6dp.

    Scale: both arms cut to depth via TakeOrderedAndProject; the
    overlap join and depth series are ≤{RBO_DEPTH}-row frames.
    """
    from mi_inbound_pulsar_spark.operators.text import (
        TFIDF_TERMS,
        bm25_scored,
    )

    d = load_table(spark, sf_dir, "documents")
    lex = (
        bm25_scored(d)
        .select("doc_id", "bm25")
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(RBO_DEPTH)
        .withColumn(
            "ra", F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id"))
        )
        .select("doc_id", "ra")
    )
    # Dirichlet query-likelihood arm over the SAME term set: corpus
    # term masses (cf_i) and total tokens come from ALL documents,
    # candidates are the >=1-match docs (mirroring the lex arm)
    words = F.split(F.col("text"), " ")

    def tf_col(term: str):
        # NB: a two-parameter lambda here would bind (element, index)
        return F.size(F.filter(words, lambda w: w == term))

    t = d.select(
        "doc_id",
        F.size(words).alias("dl"),
        *[tf_col(term).alias(f"tf{i+1}") for i, term in enumerate(TFIDF_TERMS)],
    )
    k = len(TFIDF_TERMS)
    stats = t.agg(
        F.sum("dl").alias("tt"),
        *[F.sum(f"tf{i+1}").alias(f"cf{i+1}") for i in range(k)],
    )
    qls = sum(
        (
            F.log(
                (F.col(f"tf{i+1}") + QL_MU * F.col(f"cf{i+1}") / F.col("tt"))
                / (F.col("dl") + QL_MU)
            )
            for i in range(k)
        ),
        F.lit(0.0),
    )
    any_tf = sum((F.col(f"tf{i+1}") for i in range(k)), F.lit(0))
    sem = (
        t.join(F.broadcast(stats))
        .filter(any_tf > 0)
        .select("doc_id", F.round(qls, 6).alias("qlscore"))
        .orderBy(F.desc("qlscore"), "doc_id")
        .limit(RBO_DEPTH)
        .withColumn(
            "rb",
            F.row_number().over(Window.orderBy(F.desc("qlscore"), "doc_id")),
        )
        .select("doc_id", "rb")
    )
    joined = lex.join(sem, "doc_id").select(
        F.greatest("ra", "rb").alias("m")
    )
    depths = spark.range(1, RBO_DEPTH + 1).select(F.col("id").alias("k"))
    terms = (
        depths.join(F.broadcast(joined), F.col("m") <= F.col("k"), "left")
        .groupBy("k")
        .agg(F.count("m").alias("x_k"))
        .select(
            (F.pow(F.lit(RBO_P), F.col("k") - 1) * F.col("x_k") / F.col("k")).alias(
                "term"
            )
        )
    )
    overlap = joined.agg(F.count(F.lit(1)).alias("overlap_at_depth"))
    return (
        terms.agg(F.round((1 - RBO_P) * F.sum("term"), 6).alias("rbo_trunc"))
        .crossJoin(F.broadcast(overlap))
        .select(
            F.lit(RBO_DEPTH).cast("long").alias("depth"),
            F.col("overlap_at_depth").cast("long"),
            "rbo_trunc",
        )
    )


# --------------------------------------------------------------------------
# Newman modularity of the label partition over the mutual-kNN graph
# --------------------------------------------------------------------------
@query(
    "q_label_modularity",
    oracle=f"""
    WITH {_MUTUAL_KNN_CTE},
    mutual AS MATERIALIZED (
      SELECT t.ia AS id_a, t.ib AS id_b
      FROM topk t JOIN topk u ON t.ia = u.ib AND t.ib = u.ia
      WHERE t.ia < t.ib AND round(t.sim, 6) >= {SEMANTIC_EDGE_MIN_SIM}
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM mutual),
    deg AS (
      SELECT l.label, CAST(count(*) AS BIGINT) AS degree_sum
      FROM (SELECT id_a AS v FROM mutual UNION ALL SELECT id_b FROM mutual) ends
        JOIN e l ON ends.v = l.vec_id
      GROUP BY l.label
    ),
    internal AS (
      SELECT la.label, CAST(count(*) AS BIGINT) AS internal_edges
      FROM mutual mu
        JOIN e la ON mu.id_a = la.vec_id
        JOIN e lb ON mu.id_b = lb.vec_id
      WHERE la.label = lb.label
      GROUP BY la.label
    )
    SELECT d.label,
           coalesce(i.internal_edges, CAST(0 AS BIGINT)) AS internal_edges,
           d.degree_sum,
           round(coalesce(i.internal_edges, 0) * 1.0 / m.m
                 - pow(d.degree_sum / (2.0 * m.m), 2), 6) AS q_contribution
    FROM deg d LEFT JOIN internal i ON d.label = i.label, m
    ORDER BY d.label
    """,
)
def q_label_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity (Newman & Girvan 2004) of the embedding-LABEL
    partition over the mutual-kNN semantic graph: per label c,
    Q_c = e_c/m − (d_c/2m)² (internal-edge fraction minus the
    configuration-model expectation), so Σ Q_c is the modularity of
    "labels as communities" — the quantitative answer to "do the
    labels actually cluster in embedding space?", the validation step
    between the graph kernels (``q_knn_graph_components``,
    ``q_label_propagation``) and any downstream use of labels as
    dedup/mixture strata. Labels whose nodes carry no mutual edges
    simply don't appear (degree 0 ⇒ no contribution either way).

    Hash-exactness: e_c, d_c, m are exact integer aggregates over the
    already-verified ``q_mutual_knn`` edge list (6dp-rounded sim
    threshold on both sides); the contribution is one deterministic
    double expression, 6dp-rounded.

    Scale: edges come from the block-cogrouped exact kNN (bounded per
    block pair, corpus never collects); labels join onto the edge
    list (2|E| rows); everything after is a |labels|-row rollup with
    one broadcast scalar m.
    """
    e = load_table(spark, sf_dir, "embeddings")
    lab = e.select("vec_id", "label")
    # mutual is scanned three times inside the returned plan (the
    # cogroup kernel appears 8x in the executed plan), but caching it
    # measured SLOWER anyway (interleaved A/B at sf0.1, round 11:
    # 2.89-3.30 s uncached vs 3.06-3.64 s with retain) — the repeated
    # Arrow cogroup over block-bounded pairs is cheaper here than the
    # columnar-cache write + three reads it would replace. Measured,
    # not assumed; re-measure before "fixing" this again.
    mutual = (
        q_mutual_knn(spark, sf_dir)
        .filter(F.col("sim") >= SEMANTIC_EDGE_MIN_SIM)
        .select("id_a", "id_b")
    )
    m = mutual.agg(F.count(F.lit(1)).alias("m"))
    ends = mutual.select(F.col("id_a").alias("v")).unionAll(
        mutual.select(F.col("id_b").alias("v"))
    )
    deg = (
        ends.join(lab, ends.v == lab.vec_id)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("degree_sum"))
    )
    la = lab.select(F.col("vec_id").alias("id_a"), F.col("label").alias("label_a"))
    lb = lab.select(F.col("vec_id").alias("id_b"), F.col("label").alias("label_b"))
    internal = (
        mutual.join(la, "id_a")
        .join(lb, "id_b")
        .filter(F.col("label_a") == F.col("label_b"))
        .groupBy(F.col("label_a").alias("label"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    return (
        deg.join(internal, "label", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            F.coalesce("internal_edges", F.lit(0)).alias("internal_edges"),
            "degree_sum",
            F.round(
                F.coalesce("internal_edges", F.lit(0)) / F.col("m")
                - (F.col("degree_sum") / (2.0 * F.col("m"))) ** 2,
                6,
            ).alias("q_contribution"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# PCA top component via power iteration over the dim-bounded covariance
# --------------------------------------------------------------------------
PCA_ITERS = 120  # eigengap ~0.93 on this data: 0.93^120 ~ 2e-4 residual
_PCA_DIM_START = 1.0 / 8  # v0 = all-ones L2-normalized for dim 64


def _pca_oracle(iters: int) -> str:
    """Unrolled power iteration: cov matvec + L2 normalize, with the
    per-iteration state QUANTIZED to 9dp on both engines so numpy and
    DuckDB summation-order noise (~1e-16 relative per 64-term dot)
    cannot accumulate across iterations."""
    chain = []
    prev = "v0"
    for k in range(1, iters + 1):
        chain.append(
            f"w{k} AS MATERIALIZED (SELECT m.i, sum(m.val * {prev}.v) AS w"
            f" FROM cov m JOIN {prev} ON m.j = {prev}.i GROUP BY m.i),"
            f" n{k} AS MATERIALIZED (SELECT sqrt(sum(w * w)) AS nrm FROM w{k}),"
            f" v{k} AS MATERIALIZED (SELECT i, round(w / nrm, 9) AS v FROM w{k}, n{k})"
        )
        prev = f"v{k}"
    last = prev
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, i - 1 AS i, CAST(x AS DOUBLE) AS x
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ),
    mu AS MATERIALIZED (SELECT i, avg(x) AS mu FROM e GROUP BY i),
    c AS MATERIALIZED (
      SELECT e.vec_id, e.i, e.x - mu.mu AS xc FROM e JOIN mu USING (i)
    ),
    n AS (SELECT count(DISTINCT vec_id) AS n FROM e),
    cov AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j,
             round(sum(a.xc * b.xc) / (n.n - 1), 9) AS val
      FROM c a JOIN c b ON a.vec_id = b.vec_id, n
      GROUP BY a.i, b.i, n.n
    ),
    v0 AS MATERIALIZED (SELECT DISTINCT i, {_PCA_DIM_START} AS v FROM cov),
    {", ".join(chain)},
    wf AS (
      SELECT m.i, sum(m.val * {last}.v) AS w
      FROM cov m JOIN {last} ON m.j = {last}.i GROUP BY m.i
    ),
    eig AS (
      SELECT sum({last}.v * wf.w) AS lam
      FROM {last} JOIN wf ON {last}.i = wf.i
    ),
    tr AS (SELECT sum(val) AS trace FROM cov WHERE i = j)
    SELECT CAST({last}.i AS BIGINT) AS dim,
           round({last}.v, 6) AS loading,
           round(eig.lam, 6) AS eigenvalue,
           round(eig.lam / tr.trace, 6) AS explained_var_ratio
    FROM {last}, eig, tr
    ORDER BY dim
    """


@query("q_pca_top_component", oracle=_pca_oracle(PCA_ITERS))
def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by POWER
    ITERATION over the covariance matrix — the PCA/whitening gate of
    an embedding-prep pipeline (dominant-direction strength is the
    standard anisotropy diagnostic; "all-but-the-top" post-processing
    removes exactly this component): {PCA_ITERS} fixed iterations
    (the eigengap ratio here is ~0.93, so convergence needs
    ~0.93^k ≪ 1 — pytest checks the result against numpy's exact
    eigendecomposition, not just the oracle replay)
    v ← Mv/‖Mv‖ from the all-ones start, Rayleigh eigenvalue λ = vᵀMv,
    and λ/trace as the explained-variance ratio.

    Scale: the corpus never collects — it collapses to the DIM-BOUNDED
    covariance (dim² = 4096 entries here) via one centered outer-
    product aggregate; only that matrix reaches the driver (the
    ``q_markov_attribution`` domain-bounded-collect class; at 100 TB
    compute the Gram with per-partition GEMM in mapInPandas — same
    output, same bound). The iteration itself is O(dim²·iters)
    microseconds anywhere.

    Hash-exactness: both engines quantize the covariance AND each
    normalized iterate to 9dp (drift from numpy-vs-SQL summation
    order is ~1e-16 relative per dot product and cannot survive the
    quantization), then round outputs to 6dp. Eigenvector sign is
    pinned by the deterministic all-ones start. The oracle unrolls
    the identical iteration as a generated CTE chain (the
    Markov/BPE-loop trick).
    """
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    x = e.select("vec_id", F.posexplode("embedding").alias("i", "x")).select(
        "vec_id", "i", F.col("x").cast("double").alias("x")
    )
    mu = x.groupBy("i").agg(F.avg("x").alias("mu"))
    c = x.join(mu, "i").select("vec_id", "i", (F.col("x") - F.col("mu")).alias("xc"))
    n = e.count()
    a = c.select("vec_id", F.col("i").alias("ai"), F.col("xc").alias("axc"))
    b = c.select("vec_id", F.col("i").alias("bi"), F.col("xc").alias("bxc"))
    cov_df = (
        a.join(b, "vec_id")
        .groupBy(F.col("ai").alias("i"), F.col("bi").alias("j"))
        .agg(F.round(F.sum(F.col("axc") * F.col("bxc")) / (n - 1), 9).alias("val"))
    )
    rows = cov_df.collect()  # dim² entries — domain-bounded, never corpus
    dim = max(r["i"] for r in rows) + 1
    m = np.zeros((dim, dim))
    for r in rows:
        m[r["i"], r["j"]] = r["val"]
    v = np.full(dim, _PCA_DIM_START)
    for _ in range(PCA_ITERS):
        w = m @ v
        v = np.round(w / np.sqrt(np.sum(w * w)), 9)
    lam = float(v @ (m @ v))
    evr = lam / float(np.trace(m))
    out = [
        (int(i), float(round(v[i], 6)), round(lam, 6), round(evr, 6))
        for i in range(dim)
    ]
    return spark.createDataFrame(
        out, "dim bigint, loading double, eigenvalue double, explained_var_ratio double"
    )


# --------------------------------------------------------------------------
# Truncated-dimension recall (Matryoshka-style dim-reduction audit)
# --------------------------------------------------------------------------
TRUNC_DIMS = 16


@query(
    "q_dim_truncation_recall",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             CAST(embedding[1:{TRUNC_DIMS}] AS DOUBLE[]) AS emb_t
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, emb, emb_t FROM e WHERE vec_id < {N_QUERIES}),
    full_rank AS (
      SELECT qid, vec_id AS nid,
             row_number() OVER (PARTITION BY qid
               ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id)
               AS rk
      FROM q JOIN e c ON c.vec_id != q.qid
    ),
    trunc_rank AS (
      SELECT qid, vec_id AS nid,
             row_number() OVER (PARTITION BY qid
               ORDER BY list_cosine_similarity(q.emb_t, c.emb_t) DESC, c.vec_id)
               AS rk
      FROM q JOIN e c ON c.vec_id != q.qid
    ),
    f AS (SELECT qid, nid FROM full_rank WHERE rk <= {TOP_K}),
    t AS (SELECT qid, nid FROM trunc_rank WHERE rk <= {TOP_K}),
    hits AS (SELECT count(*) AS h FROM f JOIN t USING (qid, nid))
    SELECT CAST((SELECT count(DISTINCT qid) FROM f) AS BIGINT) AS n_queries,
           CAST((SELECT count(*) FROM f) AS BIGINT) AS n_exact,
           CAST(hits.h AS BIGINT) AS n_hits,
           round(hits.h * 1.0 / (SELECT count(*) FROM f), 6) AS recall
    FROM hits
    """,
)
def q_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} recall of {TRUNC_DIMS}-of-64-dimension TRUNCATED
    cosine search against full-dimension exact search — the
    Matryoshka-representation audit (Kusupati et al. 2022): if
    embeddings were MRL-trained, prefix truncation preserves ranking
    and this recall stays high, buying a 4× index-size and bandwidth
    cut; if not (as with these synthetic vectors), the number
    quantifies exactly what a dimension cut costs. Third member of
    the compression-audit family with ``q_int8_recall`` (scalar
    quantization) and ``q_ann_pq_recall`` (product quantization) —
    together they price every standard embedding-budget lever.

    Scale: both arms run the block-bounded brute top-k kernel
    (:func:`brute_force_topk` — per-partition partial top-k, corpus
    never collects); truncation is a narrow ``slice`` projection, so
    the truncated arm also SCANS 4× less after column pruning.

    Hash-exactness: the rank windows order by unrounded sim then
    vec_id on both engines (the q_cosine_topk convention); the recall
    is a ratio of exact integer overlap counts, 6dp-rounded.
    """
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERIES)
    trunc = e.select(
        "vec_id", F.slice("embedding", 1, TRUNC_DIMS).alias("embedding")
    )
    trunc_q = queries.select(
        "vec_id", F.slice("embedding", 1, TRUNC_DIMS).alias("embedding")
    )
    exact = brute_force_topk(e, queries).select("query_id", "neighbor_id")
    approx = brute_force_topk(trunc, trunc_q).select("query_id", "neighbor_id")
    hits = approx.join(exact, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    totals = exact.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact"),
    )
    return totals.crossJoin(hits).select(
        "n_queries",
        "n_exact",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_exact"), 6).alias("recall"),
    )


# --------------------------------------------------------------------------
# Simplified silhouette (centroid-based cluster-quality score)
# --------------------------------------------------------------------------
@query(
    "q_simplified_silhouette",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    cent AS MATERIALIZED (
      SELECT CAST(vec_id / {CENTROID_STRIDE} AS BIGINT) AS cell, emb AS cent_emb
      FROM e WHERE vec_id % {CENTROID_STRIDE} = 0
    ),
    ranked AS MATERIALIZED (
      SELECT v.vec_id, c.cell,
             round(list_cosine_similarity(v.emb, c.cent_emb), 6) AS sim,
             row_number() OVER (PARTITION BY v.vec_id
               ORDER BY round(list_cosine_similarity(v.emb, c.cent_emb), 6)
                          DESC, c.cell) AS rn
      FROM e v CROSS JOIN cent c
    ),
    sil AS (
      SELECT a.vec_id, a.cell,
             ((1 - b.sim) - (1 - a.sim))
               / greatest(1 - a.sim, 1 - b.sim) AS s
      FROM ranked a JOIN ranked b
        ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
    )
    SELECT cell,
           CAST(count(*) AS BIGINT) AS n_members,
           round(avg(s), 6) AS mean_silhouette,
           CAST(count(*) FILTER (s < 0) AS BIGINT) AS n_misassigned
    FROM sil GROUP BY cell ORDER BY cell
    """,
)
def q_simplified_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per cluster (Hruschka et al. 2004 — the
    centroid-based O(n·k) variant of Rousseeuw 1987): for each vector,
    a = cosine distance to its OWN (nearest) centroid, b = distance to
    the SECOND-nearest centroid, s = (b−a)/max(a,b) ∈ [−1,1]; per-cell
    mean silhouette plus the count of negative-s members (vectors the
    assignment itself says sit closer to another cluster) — the
    cluster-quality gate between the k-means/IVF index builders and
    anything that trusts their cells (SemDeDup's intra-cell pruning,
    IVF probe counts). The full silhouette is O(n²); the simplified
    form is the one that exists at corpus scale, and the same top-2
    centroid scan the IVF probe already does.

    Hash-exactness: per-(vector, centroid) sims are 6dp-rounded before
    the top-2 ranking (the q_semdedup assignment rule, ties → lowest
    cell), so a and b are deterministic; s and the per-cell mean
    carry only reassociation noise under the 6dp round.

    Scale: centroids are driver-bounded (the k-means-collect class);
    the top-2 scan is one vectorized mapInPandas pass (corpus never
    shuffles raw embeddings); output is |cells|-bounded.
    """
    e = load_table(spark, sf_dir, "embeddings")
    cent_ids, cent_units = _stride_centroids(e)

    def top2(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            units = _unit_rows(mat)
            sims = np.round(units @ cent_units.T, 6)  # 6dp BEFORE ranking
            best, second = _top_cells(sims, cent_ids, 2).T  # ties → lowest cell id
            rows = np.arange(len(ids))
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cell": cent_ids[best],
                    "sim1": sims[rows, best],
                    "sim2": sims[rows, second],
                }
            )

    assigned = e.select("vec_id", "embedding").mapInPandas(
        top2, schema="vec_id long, cell long, sim1 double, sim2 double"
    )
    a = 1 - F.col("sim1")
    b = 1 - F.col("sim2")
    s = (b - a) / F.greatest(a, b)
    return (
        assigned.select("cell", s.alias("s"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("s"), 6).alias("mean_silhouette"),
            F.count_if(F.col("s") < 0).alias("n_misassigned"),
        )
        .orderBy("cell")
    )


# --------------------------------------------------------------------------
# HDBSCAN stage 1: core distances + mutual-reachability edge weights
# --------------------------------------------------------------------------
CORE_K = MUTUAL_KNN_K  # core distance = distance to the k-th neighbor


@query(
    "q_core_distance",
    oracle=f"""
    WITH {_MUTUAL_KNN_CTE},
    core AS MATERIALIZED (
      SELECT ia AS vec_id, 1 - round(sim, 6) AS core_dist
      FROM knn WHERE rk = {CORE_K}
    ),
    mutual AS (
      SELECT t.ia AS id_a, t.ib AS id_b, 1 - round(t.sim, 6) AS d
      FROM topk t JOIN topk u ON t.ia = u.ib AND t.ib = u.ia
      WHERE t.ia < t.ib
    )
    SELECT m.id_a, m.id_b,
           round(ca.core_dist, 6) AS core_a,
           round(cb.core_dist, 6) AS core_b,
           round(m.d, 6) AS dist,
           round(greatest(ca.core_dist, cb.core_dist, m.d), 6)
             AS mutual_reachability
    FROM mutual m
      JOIN core ca ON ca.vec_id = m.id_a
      JOIN core cb ON cb.vec_id = m.id_b
    ORDER BY id_a, id_b
    """,
)
def q_core_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDBSCAN stage 1 (Campello, Moulavi & Sander 2013): each
    vector's CORE DISTANCE (cosine distance to its {CORE_K}-th
    neighbor — the local density estimate) and, over the mutual-kNN
    edge list, the MUTUAL-REACHABILITY weight max(core_a, core_b,
    d(a,b)) — the transformed metric whose minimum spanning tree IS
    density-based clustering: sparse-region points inflate their
    incident edges, so the MST cuts exactly where density drops.
    Everything downstream (MST + cluster extraction) runs on this
    |edges|-bounded weighted graph; this query materializes the
    corpus-scale part.

    Hash-exactness: built entirely on the verified exact-kNN kernel —
    core distance is the rank-{CORE_K} row of the same 6dp-rounded
    ranking ``q_mutual_knn`` uses; the reachability is a greatest()
    of already-rounded values.

    Scale: the kNN self-join is block-cogrouped (corpus never
    collects); core distances are one rank filter of its output; the
    edge join is (k·n)-bounded.
    """
    e = load_table(spark, sf_dir, "embeddings")
    knn = knn_self_join(e, k=CORE_K)
    w = Window.partitionBy("vec_id").orderBy(F.desc(F.round("sim", 6)), "neighbor_id")
    ranked = knn.withColumn("rk", F.row_number().over(w))
    core = ranked.filter(F.col("rk") == CORE_K).select(
        "vec_id", (1 - F.round("sim", 6)).alias("core_dist")
    )
    rev = knn.select(
        F.col("neighbor_id").alias("vec_id"), F.col("vec_id").alias("neighbor_id")
    )
    mutual = (
        knn.join(rev, ["vec_id", "neighbor_id"])
        .filter(F.col("vec_id") < F.col("neighbor_id"))
        .select(
            F.col("vec_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            (1 - F.round("sim", 6)).alias("d"),
        )
    )
    ca = core.withColumnsRenamed({"vec_id": "id_a", "core_dist": "core_a"})
    cb = core.withColumnsRenamed({"vec_id": "id_b", "core_dist": "core_b"})
    return (
        mutual.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round("core_a", 6).alias("core_a"),
            F.round("core_b", 6).alias("core_b"),
            F.round("d", 6).alias("dist"),
            F.round(
                F.greatest(F.col("core_a"), F.col("core_b"), F.col("d")), 6
            ).alias("mutual_reachability"),
        )
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# Density clusters (HDBSCAN stage 2 at a fixed eps: DBSCAN* extraction)
# --------------------------------------------------------------------------
DENSITY_EPS = 0.71  # mutual-reachability ceiling: ~the edge median here


@query(
    "q_density_clusters",
    oracle=f"""
    WITH RECURSIVE {_MUTUAL_KNN_CTE},
    core AS MATERIALIZED (
      SELECT ia AS vec_id, 1 - round(sim, 6) AS core_dist
      FROM knn WHERE rk = {CORE_K}
    ),
    mutual AS MATERIALIZED (
      SELECT t.ia AS id_a, t.ib AS id_b, 1 - round(t.sim, 6) AS d
      FROM topk t JOIN topk u ON t.ia = u.ib AND t.ib = u.ia
      WHERE t.ia < t.ib
    ),
    kept AS MATERIALIZED (
      SELECT m.id_a, m.id_b
      FROM mutual m
        JOIN core ca ON ca.vec_id = m.id_a
        JOIN core cb ON cb.vec_id = m.id_b
      WHERE round(greatest(ca.core_dist, cb.core_dist, m.d), 6)
              <= {DENSITY_EPS}
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM kept
      UNION SELECT id_b, id_a FROM kept
    ),
    reach(vec_id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e2.src, r.comp FROM edges e2 JOIN reach r ON e2.dst = r.vec_id
    ),
    labeled AS (
      SELECT vec_id, min(comp) AS cluster FROM reach GROUP BY vec_id
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(vec_id) AS BIGINT) AS exemplar_vec_id
    FROM labeled GROUP BY cluster ORDER BY cluster
    """,
)
def q_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN*/HDBSCAN cluster extraction at a fixed density level
    (Campello et al. 2013 §3: DBSCAN* clusters are the connected
    components of the mutual-reachability graph thresholded at eps):
    keep mutual-kNN edges whose ``q_core_distance`` reachability
    weight is ≤ {DENSITY_EPS}, take connected components, report
    size and lowest-id exemplar per cluster. Points with no surviving
    edge are noise — density-based clustering's defining behavior,
    which the centroid methods (k-means cells, SemDeDup groups)
    structurally cannot produce. Together with ``q_core_distance``
    this is the full density-clustering path at one λ level; the
    hierarchy is this query swept over eps.

    Hash-exactness: edge weights come from the verified
    6dp-rounded kernel; the threshold compares rounded values
    identically on both sides; components replay as the recursive-CTE
    closure (the q_knn_graph_components recipe).

    Scale: the candidate graph is (k·n)-bounded mutual-kNN (never
    all-pairs); components run the min-label pointer-jumping kernel
    (O(log diameter) rounds, localCheckpoint per round).
    """
    from mi_inbound_pulsar_spark.operators.dedup import connected_components

    pairs = (
        q_core_distance(spark, sf_dir)
        .filter(F.col("mutual_reachability") <= DENSITY_EPS)
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("vec_id"), F.col("component").alias("cluster")
    )
    return (
        comp.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("exemplar_vec_id"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# Greedy k-center coreset selection (Gonzalez 1985; Sener & Savarese 2018)
# --------------------------------------------------------------------------
KCENTER_K = 8


def _kcenter_oracle(k: int) -> str:
    """Generated CTE chain unrolling the greedy farthest-point loop —
    the ``q_bpe_merge_loop`` oracle recipe applied to coreset
    selection (one argmax + one min-update per iteration)."""
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb "
        "FROM embeddings)",
        "c1 AS (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 1)",
        "s1 AS (SELECT e.vec_id, e.emb, "
        "round(list_distance(e.emb, c1.emb), 6) AS mind FROM e, c1)",
    ]
    sel = ["SELECT 1 AS sel_order, vec_id, 0.0 AS sep_distance FROM c1"]
    for j in range(2, k + 1):
        parts.append(
            f"p{j} AS (SELECT vec_id, emb, mind FROM s{j - 1} "
            f"ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        if j < k:
            parts.append(
                f"s{j} AS (SELECT s.vec_id, s.emb, least(s.mind, "
                f"round(list_distance(s.emb, p{j}.emb), 6)) AS mind "
                f"FROM s{j - 1} s, p{j})"
            )
        sel.append(
            f"SELECT {j} AS sel_order, vec_id, mind AS sep_distance "
            f"FROM p{j}"
        )
    return (
        ",\n    ".join(parts)
        + "\n    "
        + " UNION ALL ".join(sel)
        + " ORDER BY sel_order"
    )


@query("q_kcenter_coreset", oracle=_kcenter_oracle(KCENTER_K))
def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    traversal, the 2-approximation; Sener & Savarese 2018 use exactly
    this loop for training-set coresets): seed with the lowest vec_id,
    then k−1 times pick the point FARTHEST from the chosen set — the
    selection that maximizes coverage diversity, the geometric
    complement of SemDeDup's "drop the redundant" (this keeps the
    spread-out). Emits the selection trace: order, chosen vector, and
    its separation distance (= the corpus coverage radius at the
    moment of selection, the textbook coreset quality certificate —
    monotonically non-increasing down the trace).

    Float-determinism: per-step euclidean distances are rounded to 6dp
    BEFORE the running min and the argmax (the q_nearest_centroid /
    SemDeDup 9dp lesson), with a vec_id tie-break, so ulp-level
    engine noise cannot flip a selection; the oracle is the same loop
    unrolled as a generated CTE chain.

    Scale: each of the k iterations is one narrow distance map against
    a SINGLE broadcast center (64 doubles) + a running-min update +
    a TakeOrderedAndProject(1) argmax — never a pairwise matrix, never
    a global sort; driver state is k rows by construction.
    ``localCheckpoint`` per round stops the iterative plan-nesting
    blowup (the q_kcore_peel lesson). LATENCY caveat: this is the
    repo's only loop whose wall-clock is O(k) sequential full-corpus
    passes (one driver round-trip per greedy step — inherent to
    Gonzalez, whose steps are data-dependent). Fine while k stays
    coreset-sized (≤ hundreds); if k ever grows toward thousands,
    switch to k-means‖-style oversampling (Bahmani et al. 2012):
    sample O(k) candidates per pass with probability ∝ mind², run
    O(log n) passes, then reduce the ~k·log n candidates to k on the
    driver — same coverage guarantee class, ~log n passes instead
    of k.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )

    def dist_to(center_vals: list) -> F.Column:
        c = F.array(*(F.lit(float(v)) for v in center_vals))
        return F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with("emb", c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        )

    first = e.orderBy("vec_id").limit(1).collect()[0]
    trace = [(1, first["vec_id"], 0.0)]
    state = e.select(
        "vec_id", "emb", dist_to(first["emb"]).alias("mind")
    ).transform(eager_checkpoint)
    for j in range(2, KCENTER_K + 1):
        top = (
            state.orderBy(F.desc("mind"), "vec_id").limit(1).collect()[0]
        )
        trace.append((j, top["vec_id"], float(top["mind"])))
        if j < KCENTER_K:
            state = state.select(
                "vec_id",
                "emb",
                F.least("mind", dist_to(top["emb"])).alias("mind"),
            ).transform(eager_checkpoint)
    return spark.createDataFrame(
        trace, "sel_order int, vec_id bigint, sep_distance double"
    ).orderBy("sel_order")


# --------------------------------------------------------------------------
# Local Outlier Factor over the verified kNN kernel
# --------------------------------------------------------------------------
@query(
    "q_local_outlier_factor",
    oracle=f"""
    WITH {_MUTUAL_KNN_CTE},
    core AS MATERIALIZED (
      SELECT ia AS vec_id, 1 - round(sim, 6) AS k_dist
      FROM knn WHERE rk = {CORE_K}
    ),
    reach AS (
      SELECT t.ia, t.ib,
             greatest(c.k_dist, 1 - round(t.sim, 6)) AS reach
      FROM topk t JOIN core c ON c.vec_id = t.ib
    ),
    lrd AS MATERIALIZED (
      SELECT ia AS vec_id, count(*) / sum(reach) AS lrd
      FROM reach GROUP BY ia
    ),
    lof AS (
      SELECT t.ia AS vec_id, avg(lb.lrd) / max(la.lrd) AS lof
      FROM topk t
        JOIN lrd la ON la.vec_id = t.ia
        JOIN lrd lb ON lb.vec_id = t.ib
      GROUP BY t.ia
    )
    SELECT l.vec_id, round(c.k_dist, 6) AS k_dist,
           round(r.lrd, 6) AS lrd, round(l.lof, 6) AS lof
    FROM lof l
      JOIN core c ON c.vec_id = l.vec_id
      JOIN lrd r ON r.vec_id = l.vec_id
    ORDER BY round(l.lof, 6) DESC, l.vec_id LIMIT 15
    """,
)
def q_local_outlier_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor (Breunig et al. 2000) at k={CORE_K} over
    the embedding corpus: reach-dist(a→b) = max(k-dist(b), d(a,b)),
    local reachability density lrd(a) = k/Σreach, LOF(a) = mean
    neighbor-lrd / own-lrd — the DENSITY-RELATIVE outlier score that
    flags points sparse relative to THEIR OWN neighborhood, which a
    global distance cutoff (q_anomaly_trailing's z-scores, the ANN
    recall gates) cannot: a point at the edge of a tight cluster
    outranks one deep inside a diffuse cluster. Top-15 by LOF —
    completes the density chain q_core_distance → q_density_clusters
    with its outlier reading.

    Hash-exactness: built on the verified exact-kNN kernel (same
    6dp-rounded ranking as q_mutual_knn); lrd/LOF are ratios of
    k-bounded sums of already-rounded values.

    Scale: the kNN self-join is the block-cogrouped kernel; all three
    derived tables are (k·n)-edge-bounded joins keyed by vec_id.
    """
    e = load_table(spark, sf_dir, "embeddings")
    knn = knn_self_join(e, k=CORE_K)
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round("sim", 6)), "neighbor_id"
    )
    ranked = knn.withColumn("rk", F.row_number().over(w))
    core = ranked.filter(F.col("rk") == CORE_K).select(
        "vec_id", (1 - F.round("sim", 6)).alias("k_dist")
    )
    reach = knn.join(
        core.withColumnsRenamed({"vec_id": "neighbor_id", "k_dist": "kd_b"}),
        "neighbor_id",
    ).select(
        "vec_id",
        "neighbor_id",
        F.greatest(F.col("kd_b"), 1 - F.round("sim", 6)).alias("reach"),
    )
    lrd = reach.groupBy("vec_id").agg(
        (F.count(F.lit(1)) / F.sum("reach")).alias("lrd")
    )
    la = lrd.withColumnsRenamed({"lrd": "lrd_a"})
    lb = lrd.withColumnsRenamed({"vec_id": "neighbor_id", "lrd": "lrd_b"})
    lof = (
        knn.select("vec_id", "neighbor_id")
        .join(la, "vec_id")
        .join(lb, "neighbor_id")
        .groupBy("vec_id")
        .agg((F.avg("lrd_b") / F.max("lrd_a")).alias("lof"))
    )
    return (
        lof.join(core, "vec_id")
        .join(lrd, "vec_id")
        .select(
            "vec_id",
            F.round("k_dist", 6).alias("k_dist"),
            F.round("lrd", 6).alias("lrd"),
            F.round("lof", 6).alias("lof"),
        )
        .orderBy(F.desc(F.round("lof", 6)), "vec_id")
        .limit(15)
    )


# --------------------------------------------------------------------------
# Embedding anisotropy: EXACT all-pairs mean cosine via the sum-vector
# identity (no pair enumeration)
# --------------------------------------------------------------------------
@query(
    "q_embedding_anisotropy",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id, label,
             list_transform(emb, x -> x / sqrt(list_reduce(
               list_transform(emb, y -> y * y), (a, b) -> a + b))) AS u
      FROM e
    ),
    dims AS (
      SELECT label, i AS dim, sum(u[i]) AS s, count(*) AS n_l
      FROM unit, unnest(range(1, 65)) AS t(i)
      GROUP BY label, i
    ),
    per_label AS (
      SELECT label, max(n_l) AS n_l,
             sum(s * s) AS norm2
      FROM dims GROUP BY label
    ),
    within AS (
      SELECT sum(CAST(n_l AS DOUBLE) * (norm2 - n_l)
                 / (n_l * (n_l - 1.0))) / sum(n_l) AS mean_cos_within
      FROM per_label
    ),
    overall_dims AS (
      SELECT dim, sum(s) AS s_all FROM dims GROUP BY dim
    ),
    overall AS (
      SELECT (SELECT sum(s_all * s_all) FROM overall_dims) AS norm2,
             (SELECT CAST(sum(n_l) AS BIGINT) FROM per_label) AS n
    )
    SELECT n AS n_vecs,
           round((norm2 - n) / (CAST(n AS DOUBLE) * (n - 1)), 6)
             AS mean_cosine_all,
           round((SELECT mean_cos_within FROM within), 6)
             AS mean_cosine_within,
           round((SELECT mean_cos_within FROM within)
                 - (norm2 - n) / (CAST(n AS DOUBLE) * (n - 1)), 6)
             AS label_separation
    FROM overall
    """,
)
def q_embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy audit of the embedding space (Ethayarajh 2019): the
    EXACT mean pairwise cosine over all n(n−1)/2 pairs via the
    identity Σ_{i≠j} cos(u_i, u_j) = ‖Σu‖² − n on unit-normalized
    vectors — the quadratic pair sum collapses to one vector addition,
    so "average cosine between random embeddings" (the anisotropy
    score; ≫0 means the space points in a cone and cosine similarities
    are inflated across the board) costs one pass. The same identity
    per label gives the within-class mean cosine; their gap is the
    separation margin semantic search actually lives on.

    Scale: normalization is a per-row 64-dim fold; the only shuffle is
    the (label × 64)-row dimension rollup. NOTHING enumerates pairs —
    the pytest third opinion does (O(n²) over a slice) to prove the
    identity.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    norm = (
        "sqrt(aggregate(transform(emb, y -> y * y), 0D, (a, x) -> a + x))"
    )
    unit = e.select(
        "label",
        F.expr(f"transform(emb, x -> x / {norm})").alias("u"),
    )
    dims = (
        unit.select("label", F.posexplode("u").alias("dim0", "x"))
        .groupBy("label", (F.col("dim0") + 1).alias("dim"))
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n_l"))
    )
    per_label = dims.groupBy("label").agg(
        F.max("n_l").alias("n_l"),
        F.sum(F.col("s") * F.col("s")).alias("norm2"),
    )
    within = per_label.agg(
        (
            F.sum(
                F.col("n_l").cast("double")
                * (F.col("norm2") - F.col("n_l"))
                / (F.col("n_l") * (F.col("n_l") - 1.0))
            )
            / F.sum("n_l")
        ).alias("mean_cos_within")
    )
    overall = (
        dims.groupBy("dim")
        .agg(F.sum("s").alias("s_all"))
        .agg(F.sum(F.col("s_all") * F.col("s_all")).alias("norm2"))
        .crossJoin(
            F.broadcast(
                per_label.agg(F.sum("n_l").cast("long").alias("n"))
            )
        )
    )
    out = overall.crossJoin(F.broadcast(within))
    n = F.col("n").cast("double")
    mean_all = (F.col("norm2") - n) / (n * (n - 1))
    return out.select(
        F.col("n").alias("n_vecs"),
        F.round(mean_all, 6).alias("mean_cosine_all"),
        F.round(F.col("mean_cos_within"), 6).alias("mean_cosine_within"),
        F.round(F.col("mean_cos_within") - mean_all, 6).alias(
            "label_separation"
        ),
    )
