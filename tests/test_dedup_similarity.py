"""Quality gates for the probabilistic operators that have no (or weak)
DuckDB oracles: MinHash-LSH recall, SimHash determinism + Hamming
bounds, IVF recall vs brute force, HLL accuracy."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from mi_inbound_pulsar_spark.operators.dedup import (
    jaccard_pairs,
    minhash_neardup,
    shingles,
    simhash_signatures,
)
from mi_inbound_pulsar_spark.sources.tables import load_table


def test_minhash_lsh_full_recall_at_high_jaccard(spark, sf_dir):
    # LSH (8 bands x 4 rows) must recall virtually all J>=0.8 pairs;
    # precision is exactly 1.0 because candidates are verified.
    docs = load_table(spark, sf_dir, "documents")
    got = {(r["doc_a"], r["doc_b"]) for r in minhash_neardup(docs, threshold=0.8).collect()}
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(shingles(docs), threshold=0.8).collect()
    }
    assert got.issubset(truth)  # precision 1.0 (verified candidates)
    if truth:
        assert len(got) / len(truth) >= 0.9  # recall gate


def test_simhash_deterministic_and_64bit(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(100)
    a = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    assert a == b  # xxhash64 is deterministic across runs
    assert all(isinstance(v, int) for v in a.values())


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    from mi_inbound_pulsar_spark.operators.similarity import q_ann_ivf_topk, q_cosine_topk

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in q_cosine_topk(spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in q_ann_ivf_topk(spark, sf_dir).collect()
    }
    # IVF with nprobe=4 of 10 cells and arbitrary (non-k-means) seed
    # centroids: observed 64% top-5 recall; gate with margin. A k-means
    # centroid build raises this — the operator shape is what's tested.
    assert len(approx & exact) / len(exact) >= 0.55


def test_embedding_neardup_matches_numpy_truth(spark, sf_dir):
    from mi_inbound_pulsar_spark.operators.dedup import q_embedding_neardup

    got = {(r["id_a"], r["id_b"]) for r in q_embedding_neardup(spark, sf_dir).collect()}
    rows = (
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    )
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    units = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = units @ units.T
    ai, bi = np.nonzero((sims >= 0.4) & (ids[:, None] < ids[None, :]))
    truth = {(int(ids[a]), int(ids[b])) for a, b in zip(ai, bi)}
    assert got == truth


def test_approx_count_distinct_within_5pct(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    approx = e.agg(F.approx_count_distinct("user_id", 0.01).alias("a")).first()["a"]
    exact = e.agg(F.countDistinct("user_id").alias("e")).first()["e"]
    assert abs(approx - exact) / exact <= 0.05


def test_embedding_lsh_neardup_recall_and_precision(spark, sf_dir):
    from mi_inbound_pulsar_spark.operators.dedup import (
        q_embedding_neardup,
        q_embedding_neardup_lsh,
    )

    truth = {(r["id_a"], r["id_b"]) for r in q_embedding_neardup(spark, sf_dir).collect()}
    got = {(r["id_a"], r["id_b"]) for r in q_embedding_neardup_lsh(spark, sf_dir).collect()}
    # every emitted pair is cosine-verified → precision is exact
    assert got <= truth
    # 8 bands x 4 bits at cosine>=0.4 (theory ~0.75 at the boundary,
    # higher above it); observed ~0.8 on the test corpus — gate w/ margin
    if truth:
        assert len(got) / len(truth) >= 0.55


def test_connected_components_match_union_find(spark, sf_dir):
    # edges come from the LSH path — same pair source as the registered
    # q_neardup_clusters (the scale path, not the brute verifier)
    from mi_inbound_pulsar_spark.operators.dedup import (
        connected_components,
        q_embedding_neardup_lsh,
    )

    pairs = [(r["id_a"], r["id_b"]) for r in q_embedding_neardup_lsh(spark, sf_dir).collect()]
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(q_embedding_neardup_lsh(spark, sf_dir)).collect()
    }
    # reference union-find on the same edges
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want and len(want) > 0


def test_jaccard_hot_shingle_cap_bounds_join(spark):
    """Skew guard: a stop-gram shared by d docs would contribute d(d-1)/2
    join rows; the document-frequency cap drops it from the index."""
    from mi_inbound_pulsar_spark.operators.dedup import jaccard_pairs

    rows = []
    for d in range(40):
        rows.append((str(d), "the of and"))  # stop-gram: DF = 40
        rows.append((str(d), f"unique shingle {d}"))  # DF = 1 each
    sh = spark.createDataFrame(rows, "doc_id string, shingle string")
    # uncapped: the hot bucket alone creates C(40,2) = 780 pairs
    assert jaccard_pairs(sh, threshold=0.0, max_doc_freq=None).count() == 780
    # capped: the stop-gram leaves the index; no surviving shared shingle
    assert jaccard_pairs(sh, threshold=0.0, max_doc_freq=10).count() == 0


def test_jaccard_pairs_nonnumeric_and_negative_ids(spark):
    """Pair-key packing is a type-gated optimization, not semantics:
    non-numeric string ids (which cast to NULL and would trip the
    packed key's range guard) fall back to the unpacked two-column
    groupBy, and negative int ids take the bias-packed path — both
    inputs the kernel must handle, not fail on."""
    from mi_inbound_pulsar_spark.operators.dedup import jaccard_pairs

    rows = [("doc-a", "x y z"), ("doc-b", "x y z"), ("doc-c", "q r s")]
    sh = spark.createDataFrame(rows, "doc_id string, shingle string")
    got = jaccard_pairs(sh, threshold=0.5).collect()
    assert {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got} == {
        ("doc-a", "doc-b", 1.0)
    }

    rows_int = [(-5, "x y z"), (7, "x y z"), (9, "q r s")]
    sh_int = spark.createDataFrame(rows_int, "doc_id int, shingle string")
    got_int = jaccard_pairs(sh_int, threshold=0.5).collect()
    assert {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got_int} == {
        (-5, 7, 1.0)
    }
