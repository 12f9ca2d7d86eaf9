"""Round-12 optimization pin: the vectorized block-kNN partial top-k
(one int64 composite key + argpartition per block pair, replacing the
per-row lexsort loop) must produce the EXACT kNN edge set — same
(rounded-sim DESC, neighbor_id ASC) ranking — as a brute-force numpy
reference over the whole corpus.
"""

from __future__ import annotations

import numpy as np
import pytest


def test_knn_self_join_matches_brute_force(spark, sf_dir):
    from mi_inbound_pulsar_spark.operators.similarity import (
        MUTUAL_KNN_K,
        knn_self_join,
    )
    from mi_inbound_pulsar_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    rows = e.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    m = m / n
    sims = np.round(m @ m.T, 6)

    expected = set()
    for qi in range(len(ids)):
        cand = [(float(-sims[qi, j]), int(ids[j])) for j in range(len(ids)) if j != qi]
        cand.sort()
        for _, nb in cand[:MUTUAL_KNN_K]:
            expected.add((int(ids[qi]), nb))

    got = {
        (r["vec_id"], r["neighbor_id"])
        for r in knn_self_join(e, k=MUTUAL_KNN_K).collect()
    }
    assert got == expected


def _top5_of_query0(fn, e):
    from mi_inbound_pulsar_spark.operators.similarity import (
        brute_force_topk,
        knn_self_join,
    )

    if fn == "brute_force_topk":
        out = brute_force_topk(e, e.filter("vec_id = 0"), 5)
    else:
        out = knn_self_join(e, 5).filter("vec_id = 0")
    return sorted(r["neighbor_id"] for r in out.collect())


@pytest.mark.parametrize("fn", ["brute_force_topk", "knn_self_join"])
def test_exact_ties_break_on_neighbor_id(spark, fn):
    """Exact-duplicate neighbours tie at every precision, so the top-k
    must break them on neighbor_id ASC (the oracles' ``ORDER BY sim
    DESC, neighbor_id``), not on the order rows sit in a batch. Thirty
    copies of the query vector are laid out in DESCENDING id order in
    one partition; a batch-order cut to k + 8 would keep ids 100..88
    and return 88..92."""
    rng = np.random.default_rng(7)
    q = [1.0, 2.0, 3.0, 4.0]
    rows = [(0, q)]
    rows += [(i, q) for i in range(100, 70, -1)]
    rows += [(i, [float(x) for x in rng.normal(size=4)]) for i in range(1, 21)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    assert _top5_of_query0(fn, e) == [71, 72, 73, 74, 75]


def test_brute_force_topk_empty_queries(spark):
    """No query rows give no result rows, with the same schema as a
    non-empty call (an empty collect is a 1-D matrix, which the row
    normalization must never see)."""
    from mi_inbound_pulsar_spark.operators.similarity import brute_force_topk

    rows = [(i, [float(i), 1.0, 2.0]) for i in range(8)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    empty = brute_force_topk(e, e.filter("vec_id > 100"), 3)
    assert empty.collect() == []
    assert empty.schema == brute_force_topk(e, e.filter("vec_id = 0"), 3).schema


def test_ivf_flat_topk_empty_queries(spark):
    """A corpus without query rows (no vec_id < N_QUERIES) gives no
    result rows, with the same schema as a non-empty call."""
    from mi_inbound_pulsar_spark.operators.similarity import ivf_flat_topk

    rows = [(i, [float(i), 1.0, 2.0]) for i in range(40)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent_ids = np.arange(2, dtype=np.int64)
    cents = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    empty = ivf_flat_topk(e.filter("vec_id >= 20"), cent_ids, cents)
    assert empty.collect() == []
    assert empty.schema == ivf_flat_topk(e, cent_ids, cents).schema
