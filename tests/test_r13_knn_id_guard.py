"""Round-13 scale-safety guard (round-12 verdict item #6): the exact
top-k composite ranking key packs ``(1_000_001 - sim_int) * 2^33 +
neighbor_id``, which is order-isomorphic only for ids in [0, 2^33). An
out-of-domain id — above 2^33 or negative — must fail LOUDLY instead of
silently mis-ranking neighbors across adjacent similarity buckets (or,
for a negative id, vanishing from every block pair). Both top-k kernels
share the packing, so both are pinned.
"""

from __future__ import annotations

import pytest


def _emb_frame(spark, ids):
    rows = [(int(i), [float(i % 7 + 1), 1.0, 0.5]) for i in ids]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _run(fn, e, k):
    from mi_inbound_pulsar_spark.operators.similarity import (
        brute_force_topk,
        knn_self_join,
    )

    if fn == "brute_force_topk":
        return brute_force_topk(e, e.filter("vec_id between 0 and 2"), k).collect()
    return knn_self_join(e, k=k).collect()


@pytest.mark.parametrize("bad_id", [(1 << 33) + 5, -3], ids=["above_2_33", "negative"])
@pytest.mark.parametrize("fn", ["knn_self_join", "brute_force_topk"])
def test_id_straddling_2_33_trips_guard(spark, fn, bad_id):
    e = _emb_frame(spark, list(range(10)) + [bad_id])
    with pytest.raises(Exception) as exc:
        _run(fn, e, 2)
    assert "outside [0, 2^33)" in str(exc.value)


def test_in_domain_ids_unaffected(spark):
    from mi_inbound_pulsar_spark.operators.similarity import knn_self_join

    e = _emb_frame(spark, range(16))
    out = knn_self_join(e, k=3).collect()
    assert len(out) == 16 * 3
    assert all(r["vec_id"] != r["neighbor_id"] for r in out)
