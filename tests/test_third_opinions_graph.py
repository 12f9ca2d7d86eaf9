"""Brute-force third opinions for the iterative graph kernels: pure
Python/dict replays built straight from the parquet files (pyarrow —
no Spark, no DuckDB), so agreement is evidence about the ALGORITHM,
not about two engines sharing one author's mistake. Same tier as
tests/test_flagship_references.py (see FLAGSHIPS.md).

Integer-ppm kernels (PageRank, HITS) are replayed with Python ints —
bit-exact by construction; graph construction replays the exact
production contract (distinct baskets, DF cap, min-common threshold).
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pyarrow.parquet as pq
import pytest

SF01 = "/root/testdata/sf0.01"


def _baskets(sf: str) -> dict[int, set[int]]:
    """part -> set of distinct buying customers, from orders×lineitem."""
    o = pq.read_table(f"{sf}/orders.parquet", columns=["o_orderkey", "o_custkey"])
    li = pq.read_table(f"{sf}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    cust_of_order = dict(
        zip(o["o_orderkey"].to_pylist(), o["o_custkey"].to_pylist())
    )
    by_part: dict[int, set[int]] = defaultdict(set)
    for ok, part in zip(li["l_orderkey"].to_pylist(), li["l_partkey"].to_pylist()):
        by_part[part].add(cust_of_order[ok])
    return by_part


def _copurchase_edges(sf: str, max_df: int, min_common: int) -> set[tuple[int, int]]:
    """Customer pairs sharing >= min_common parts after the DF cap —
    the exact part_posting_lists/copurchase_pairs contract."""
    common: Counter = Counter()
    for custs in _baskets(sf).values():
        if len(custs) > max_df:
            continue
        cs = sorted(custs)
        for i in range(len(cs)):
            for j in range(i + 1, len(cs)):
                common[(cs[i], cs[j])] += 1
    return {p for p, c in common.items() if c >= min_common}


def _und(edges: set[tuple[int, int]]) -> dict[int, set[int]]:
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    return adj


def test_kcore_peel_matches_pure_python(spark):
    """q_kcore_peel's bounded-round simultaneous peel, replayed with
    sets and dicts at sf0.01 (sf0.001's graph peels to empty)."""
    from mi_inbound_pulsar_spark.operators.graph import (
        COPURCHASE_MAX_DF,
        KCORE_K,
        KCORE_MIN_COMMON,
        KCORE_ROUNDS,
        q_kcore_peel,
    )

    adj = _und(_copurchase_edges(SF01, COPURCHASE_MAX_DF, KCORE_MIN_COMMON))
    for _ in range(KCORE_ROUNDS):
        keep = {n for n, nb in adj.items() if len(nb) >= KCORE_K}
        adj = {
            n: {m for m in nb if m in keep} for n, nb in adj.items() if n in keep
        }
    want = {n: len(nb) for n, nb in adj.items() if len(nb) >= 1}

    got = {
        r["node"]: r["core_degree"] for r in q_kcore_peel(spark, SF01).collect()
    }
    assert got == want and len(want) > 0


def test_label_propagation_matches_pure_python(spark):
    """3-round synchronous LPA with (count desc, label asc) ties,
    replayed with Counters at sf0.01."""
    from mi_inbound_pulsar_spark.operators.graph import (
        COPURCHASE_MAX_DF,
        COPURCHASE_MIN_COMMON,
        LPA_ROUNDS,
        q_label_propagation,
    )

    adj = _und(_copurchase_edges(SF01, COPURCHASE_MAX_DF, COPURCHASE_MIN_COMMON))
    lab = {n: n for n in adj}
    for _ in range(LPA_ROUNDS):
        nxt = {}
        for n, nb in adj.items():
            c = Counter(lab[m] for m in nb)
            nxt[n] = min(c, key=lambda x: (-c[x], x))
        lab = nxt
    want: dict[int, list[int]] = defaultdict(list)
    for n, v in lab.items():
        want[v].append(n)
    want_rows = {
        (community, len(ms), min(ms)) for community, ms in want.items()
    }

    got = {
        (r["community"], r["n_members"], r["min_member"])
        for r in q_label_propagation(spark, SF01).collect()
    }
    assert got == want_rows and len(want_rows) > 0


def _bipartite(sf: str) -> set[tuple[int, int]]:
    o = pq.read_table(f"{sf}/orders.parquet", columns=["o_orderkey", "o_custkey"])
    li = pq.read_table(f"{sf}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"])
    cust_of_order = dict(
        zip(o["o_orderkey"].to_pylist(), o["o_custkey"].to_pylist())
    )
    return {
        (cust_of_order[ok], sk)
        for ok, sk in zip(li["l_orderkey"].to_pylist(), li["l_suppkey"].to_pylist())
    }


@pytest.mark.parametrize("variant", ["pagerank", "personalized"])
def test_pagerank_matches_pure_python_integer_ppm(spark, sf_dir, variant):
    """The ppm-integer PageRank (3 iterations, damping 0.85, r DIV d
    contributions, restart 150000 on seeds) replayed with Python ints —
    bit-exact. Global PageRank seeds every node; personalized PageRank
    seeds the nation-1 customers and keeps the nodes with mass."""
    from mi_inbound_pulsar_spark.operators.graph import (
        q_pagerank_purchases,
        q_personalized_pagerank,
    )

    cs = {(c, s + 1_000_000_000) for c, s in _bipartite(sf_dir)}
    edges = cs | {(s, c) for c, s in cs}
    out: dict[int, list[int]] = defaultdict(list)
    for a, b in edges:
        out[a].append(b)
    nodes = set(out)
    if variant == "pagerank":
        fn, col, seeds = q_pagerank_purchases, "rank_ppm", nodes
    else:
        cust = pq.read_table(
            f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_nationkey"]
        ).to_pydict()
        fn, col = q_personalized_pagerank, "ppr_ppm"
        seeds = {
            c for c, nk in zip(cust["c_custkey"], cust["c_nationkey"]) if nk == 1
        }
    r = {n: 1000000 * (n in seeds) for n in nodes}
    for _ in range(3):
        inflow: Counter = Counter()
        for a, targets in out.items():
            contrib = r[a] // len(targets)
            for b in targets:
                inflow[b] += contrib
        r = {
            n: 150000 * (n in seeds) + 850000 * inflow.get(n, 0) // 1000000
            for n in nodes
        }
    want = sorted(
        ((n, v) for n, v in r.items() if v > 0), key=lambda t: (-t[1], t[0])
    )[:25]

    got = [(row["node"], row[col]) for row in fn(spark, sf_dir).collect()]
    assert got == want and len(want) == 25


def test_hits_matches_pure_python_integer_ppm(spark, sf_dir):
    """The ppm-integer HITS (2 rounds, L1 normalize as s*1e6 DIV tot)
    replayed with Python ints — bit-exact."""
    from mi_inbound_pulsar_spark.operators.graph import q_hits_scores

    edges = _bipartite(sf_dir)
    hubs = {c: 1000000 for c, _ in edges}
    auth: dict[int, int] = {}
    for _ in range(2):
        acc: Counter = Counter()
        for c, s in edges:
            acc[s] += hubs[c]
        tot = sum(acc.values())
        auth = {s: v * 1000000 // tot for s, v in acc.items()}
        hcc: Counter = Counter()
        for c, s in edges:
            hcc[c] += auth[s]
        htot = sum(hcc.values())
        hubs = {c: v * 1000000 // htot for c, v in hcc.items()}
    want = sorted(auth.items(), key=lambda t: (-t[1], t[0]))[:25]

    got = [
        (r["node"], r["authority_ppm"])
        for r in q_hits_scores(spark, sf_dir).collect()
    ]
    # sf0.001 has only 10 suppliers — the top-25 limit is not binding
    assert got == want and len(want) == min(25, len(auth))


def test_bfs_distances_matches_pure_python(spark, sf_dir):
    """3-hop level-synchronous BFS from the smallest node, replayed
    with set frontiers."""
    from mi_inbound_pulsar_spark.operators.graph import (
        COPURCHASE_MAX_DF,
        COPURCHASE_MIN_COMMON,
        q_bfs_distances,
    )

    adj = _und(
        _copurchase_edges(sf_dir, COPURCHASE_MAX_DF, COPURCHASE_MIN_COMMON)
    )
    if not adj:
        assert q_bfs_distances(spark, sf_dir).count() == 0
        return
    seed = min(adj)
    dist = {seed: 0}
    frontier = {seed}
    for d in (1, 2, 3):
        frontier = {
            m for n in frontier for m in adj[n] if m not in dist
        }
        for m in frontier:
            dist[m] = d
    want = Counter(dist.values())
    want[-1] = len(adj) - len(dist)
    want_rows = {
        (d, c, min(n for n in (adj if d == -1 else dist) if (dist.get(n, -1) == d)))
        for d, c in want.items()
        if c > 0
    }

    got = {
        (r["dist"], r["n_nodes"], r["min_node"])
        for r in q_bfs_distances(spark, sf_dir).collect()
    }
    assert got == want_rows


# Spark jobs launched while BUILDING each graph query at sf0.01 on
# local[4] (construction only, nothing executed): the eager checkpoints
# of the shared kernels plus k-core's per-round count and label
# propagation's node count. A checkpoint or count added to a kernel
# raises these.
GRAPH_BUILD_JOB_BUDGET = {
    "q_pagerank_purchases": 12,
    "q_katz_centrality": 8,
    "q_personalized_pagerank": 14,
    "q_bfs_distances": 26,
    "q_landmark_harmonic": 26,
    "q_kcore_peel": 22,
    "q_label_propagation": 22,
}


@pytest.mark.parametrize("name", list(GRAPH_BUILD_JOB_BUDGET))
def test_graph_build_job_budget(spark, name):
    """The second build in the session is counted, so session caches
    (``table_row_bound``) are warm and the count does not depend on
    which test ran first."""
    from mi_inbound_pulsar_spark.operators import collect_queries

    fn = collect_queries()[name]
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    fn(spark, SF01)
    before = dag.numTotalJobs()
    fn(spark, SF01)
    jobs = dag.numTotalJobs() - before
    assert jobs <= GRAPH_BUILD_JOB_BUDGET[name], jobs
