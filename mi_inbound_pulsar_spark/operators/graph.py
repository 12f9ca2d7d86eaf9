"""Graph-shaped operators over engine-derived relations: binned
interval-overlap joins and triangle counting / clustering coefficient
over the near-duplicate similarity graph.

These extend the dedup family (``operators/dedup.py``): near-dup
*pairs* become a graph whose local structure (triangles, clustering)
is what a corpus curator inspects before collapsing duplicate groups;
the interval-overlap join is the time-dimension analogue of the same
"bin, join within bucket, verify exactly" pattern the LSH paths use.
Connected components (``dedup.py``) covers the iterative side; these
are the one-shot structural queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mi_inbound_pulsar_spark.operators import query
from mi_inbound_pulsar_spark.plans.iterate import eager_checkpoint, retain, stats_reset_checkpoint
from mi_inbound_pulsar_spark.plans.adaptive import (
    ADAPTIVE_BROADCAST_MAX_ROWS,
    adaptive_broadcast,
    fanout_partitions,
    table_row_bound,
)
from mi_inbound_pulsar_spark.plans.ranking import bounded_window_input
from mi_inbound_pulsar_spark.operators.dedup import (
    jaccard_pairs,
    packed_pair_key,
    shingles,
)
from mi_inbound_pulsar_spark.sources.tables import load_table


def binned_overlap_pairs(
    iv: DataFrame, width_us: int, id_col: str = "user_id"
) -> DataFrame:
    """Binned interval self-overlap join, bucket-spanning form.

    ``iv`` carries one interval per row: ``id_col``, ``s_us``,
    ``e_us`` (inclusive integer-µs bounds) plus any passenger columns.
    Each interval explodes to every width-``width_us`` bucket it
    touches (``sequence(floor(s/W), floor(e/W))``), candidate pairs
    form ONLY inside a bucket (equi-join on bucket; the overlap test
    and ``a.id < b.id`` run inside it), and a pair that overlaps is
    kept exactly once — in the bucket of the later interval's start,
    ``floor(greatest(s_a, s_b)/W)``, which both copies are guaranteed
    to contain because the later start lies inside both intervals.
    Dedupe is by construction: no DISTINCT, no second shuffle.

    Returns the joined pairs with ``a.*`` / ``b.*`` qualified columns.
    Scale: copy factor = interval length / W (pick W ≈ median interval
    length); candidate fan-out is per-bucket, never timeline-wide;
    hot buckets → AQE skew-join.
    """
    g = iv.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("s_us") / width_us), F.floor(F.col("e_us") / width_us)
            )
        ),
    )
    a, b = g.alias("a"), g.alias("b")
    later_start = F.greatest(F.col("a.s_us"), F.col("b.s_us"))
    return a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (F.col("a.s_us") <= F.col("b.e_us"))
        & (F.col("b.s_us") <= F.col("a.e_us"))
        & (F.col("a.bucket") == F.floor(later_start / width_us)),
    )


@query(
    "q_interval_overlap_join",
    oracle="""
    WITH ud AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
      FROM events GROUP BY 1, 2
    )
    SELECT a.day AS day,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us)) AS BIGINT)
             AS total_overlap_us
    FROM ud a JOIN ud b
      ON a.day = b.day AND a.user_id < b.user_id
     AND a.s_us <= b.e_us AND b.s_us <= a.e_us
    GROUP BY a.day ORDER BY day
    """,
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap aggregate: build per-(user, day) activity
    intervals, then count overlapping interval pairs and total pairwise
    overlap time per day. The oracle is the naive theta join; the
    engine form is a **per-day sweep line** — the pair aggregates are
    computed WITHOUT materializing the pair set, because on a dense day
    every pair of active users overlaps and pair enumeration is
    inherently O(n²) per day (the binned range join
    ``binned_overlap_pairs``, linear in its *output*, went 2.5 s → 56 s
    across the sf0.1→sf1.0 decade precisely because its output grew
    ~100×; measured round 12). Keep ``binned_overlap_pairs`` for
    pipelines that consume the pairs themselves; when only aggregates
    leave the operator, the sweep is the scale-correct plan.

    Two order-statistics passes, both O(n log n) per day:

    - ``n_pairs``: overlap (closed intervals, ``s_a <= e_b AND s_b <=
      e_a``) fails iff one interval ends strictly before the other
      starts, and at most one of the two orderings can hold — so
      ``n_pairs = C(n,2) − Σ_i |{j : e_j < s_i}|``. The count is a
      cumulative sum of end-markers over the day's sorted endpoint
      union (starts before ends at equal t, so a touching pair — which
      the closed predicate KEEPS — is never subtracted).
    - ``total_overlap_us``: overlap length is an integral, so
      ``Σ_pairs (min(e)−max(s)) = ∫ C(k(t),2) dt`` with ``k(t)`` the
      number of active intervals — per distinct endpoint, the net
      start/end delta cumsums to k on the following open segment, and
      each segment contributes ``C(k,2)·len``. Touching pairs sit on a
      measure-zero boundary and contribute 0, exactly like the theta
      join's ``min(e)−max(s) = 0`` rows. Segment products are summed in
      DECIMAL(38,0) — C(k,2)·Δt approaches int64 at ~10⁵ concurrent
      users on a full day — and cast back to the contract's BIGINT.

    Scale: one shuffle by day, two in-partition sorts. A 100 TB
    timeline shards the sweep further by (day, hour-range) with
    boundary-interval reconciliation; per-day sorts up to ~10⁸
    endpoints stay in one task's sort budget before that's needed.
    """
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    ud = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.min(us).alias("s_us"), F.max(us).alias("e_us")
    )
    # ONE interval aggregate, exploded to its two endpoints — a
    # start/end UNION of separate selects makes Catalyst recompute the
    # groupBy (and rescan events) once per branch per pass, 4 scans
    # total; pts is additionally retain()-persisted below because both
    # sweep passes read it inside one returned plan
    pts = ud.select(
        "day",
        F.explode(
            F.array(
                F.struct(F.col("s_us").alias("t"), F.lit(1).alias("is_start")),
                F.struct(F.col("e_us").alias("t"), F.lit(0).alias("is_start")),
            )
        ).alias("p"),
    ).select("day", F.col("p.t").alias("t"), F.col("p.is_start").alias("is_start"))

    # pass 1: non-overlapping ordered pairs — for each start, the count
    # of ends strictly before it (ties sort starts first, so e == s
    # stays un-subtracted: the closed predicate counts touching pairs)
    w_pts = (
        Window.partitionBy("day")
        .orderBy("t", F.desc("is_start"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_ends = F.sum(1 - F.col("is_start")).over(w_pts)
    per_day = (
        pts.withColumn("ends_before", F.coalesce(cum_ends, F.lit(0)))
        .filter(F.col("is_start") == 1)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ends_before").alias("non_overlap"),
        )
        .select(
            "day",
            (F.col("n") * (F.col("n") - 1) / 2 - F.col("non_overlap"))
            .cast("long")
            .alias("n_pairs"),
        )
    )

    # pass 2: ∫ C(k,2) dt — net delta per distinct endpoint, cumsum to
    # k on the open segment to the next endpoint
    deltas = pts.groupBy("day", "t").agg(
        F.sum(F.when(F.col("is_start") == 1, 1).otherwise(-1)).alias("delta")
    )
    w_day = Window.partitionBy("day").orderBy("t")
    k = F.sum("delta").over(w_day)
    seg = F.lead("t").over(w_day) - F.col("t")
    contrib = (k * (k - 1) / 2).cast("decimal(38,0)") * F.coalesce(
        seg, F.lit(0)
    ).cast("decimal(38,0)")
    overlap_day = (
        deltas.select("day", contrib.alias("contrib"))
        .groupBy("day")
        .agg(F.sum("contrib").cast("long").alias("total_overlap_us"))
    )
    # the theta-join oracle emits a day only when it has >= 1
    # overlapping pair; the sweep sees every day, so mirror the
    # inner-join semantics explicitly
    return retain(
        per_day.filter(F.col("n_pairs") >= 1)
        .join(overlap_day, "day")
        .orderBy("day"),
        pts,
    )


def _neardup_edges(d: DataFrame) -> DataFrame:
    """The shared near-dup graph edge list: word-3-gram Jaccard >= 0.5
    under the production df<=1000 hot-shingle cap — the same CONTRACT
    as ``jaccard_pairs(sh, 0.5)`` (capped intersections over uncapped
    sizes; every consumer's oracle encodes the same exclusion), but
    generated via the cost-selected strategy
    (:func:`~mi_inbound_pulsar_spark.operators.dedup.jaccard_pairs_auto`
    with ``max_doc_freq``): bit-identical pairs from either strategy
    at every corpus scale (pinned in tests/test_round4_second.py with
    a binding cap). Past the corpus-size cutover, candidates come from
    each document's rarest prefix — the plain capped posting-list join
    sat in the pre-cap Σdf² quadratic regime on a closed-vocab corpus
    (q_cluster_keeper went 3.4 s → 157 s across sf0.1→sf1.0 before the
    switch, measured round 12)."""
    from mi_inbound_pulsar_spark.operators.dedup import (
        jaccard_pairs_auto,
        shingle_arrays,
    )

    sharr = shingle_arrays(d, n=3)
    return jaccard_pairs_auto(
        sharr, threshold=0.5, n_docs=d.count(), max_doc_freq=1000
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))


@query(
    "q_triangle_count",
    oracle="""
    WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM docs, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst
      FROM cand JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
      WHERE round(c * 1.0 / (x.n + y.n - c), 6) >= 0.5
    ),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e1.dst = e2.src
      JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)
      GROUP BY node
    ),
    degagg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
      FROM deg
    )
    SELECT degagg.n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           tri.n_triangles,
           degagg.n_wedges,
           round(CASE WHEN degagg.n_wedges > 0
                      THEN 3.0 * tri.n_triangles / degagg.n_wedges
                      ELSE 0.0 END, 6) AS clustering
    FROM tri, degagg
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient over the
    near-duplicate graph (word-3-gram Jaccard ≥ 0.5 pairs, the same
    edge semantics as ``q_ngram_jaccard_neardup``). A duplicate
    *group* that is a clique (high clustering) can be collapsed to one
    representative; low clustering means chained near-dups that need
    the connected-components pass instead — this query is the cheap
    diagnostic that picks between the two.

    Scale: triangles are enumerated with **degree orientation**
    (``oriented_triangle_count``): each edge points from its lower-
    (degree, id) endpoint to the higher one, so every triangle is
    produced exactly once and the wedge join fans out by out-degree,
    which the orientation bounds by O(sqrt(m)) (arboricity) — a
    celebrity node generates zero wedges instead of C(degree, 2)
    (skew-bound asserted in tests/test_cdc_graph.py). The edge list
    itself comes from the capped prefix-filter kernel
    (:func:`_neardup_edges`), so the graph build never goes all-pairs
    even on a closed-vocab corpus whose dfs sit under the cap.
    """
    d = load_table(spark, sf_dir, "documents")
    edges = _neardup_edges(d).transform(eager_checkpoint)
    # one shared degree table: the orientation inside
    # oriented_triangle_count and the wedge aggregate below both read
    # it from cache instead of re-shuffling the edge list by node
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(eager_checkpoint)
    )
    tri = oriented_triangle_count(edges, deg=deg)
    degagg = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        degagg.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.round(
                F.when(
                    F.col("n_wedges") > 0, 3.0 * F.col("n_triangles") / F.col("n_wedges")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
    )


def oriented_triangle_nodes(edges: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Degree-oriented triangle TRIPLES (n1, n2, n3) — each triangle
    exactly once. Triangle count with **degree orientation** — the skew-proof form
    of the two-hop join.

    Every undirected edge is re-oriented from its lower-(degree, id)
    endpoint to its higher one. The total order (d, id) makes the
    orientation acyclic, so each triangle is enumerated exactly once
    as two out-edges (u→v1, u→v2) closed by (v1→v2); the wedge join
    fans out by *out*-degree, which degree orientation bounds by
    O(sqrt(m)) (the arboricity bound) — a celebrity node in an
    id-oriented enumeration contributes C(degree, 2) wedges, here its
    edges all point inward and it contributes none.

    Input: undirected edge list (src, dst), src < dst, no duplicates.
    ``deg`` (node, d) may be passed in when the caller already has the
    degree table (q_triangle_count shares it with its wedge count).
    Output: one row, n_triangles.
    """
    if deg is None:
        deg = (
            edges.select(F.col("src").alias("node"))
            .unionAll(edges.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
    e = (
        edges.join(deg.withColumnsRenamed({"node": "src", "d": "ds"}), "src")
        .join(deg.withColumnsRenamed({"node": "dst", "d": "dd"}), "dst")
    )
    fwd = F.struct(F.col("ds").alias("d"), F.col("src").alias("n")) < F.struct(
        F.col("dd").alias("d"), F.col("dst").alias("n")
    )
    oriented = e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(fwd, F.col("ds")).otherwise(F.col("dd")).alias("du"),
        F.when(fwd, F.col("dd")).otherwise(F.col("ds")).alias("dv"),
    ).transform(eager_checkpoint)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(e2, F.col("e1.u") == F.col("e2.u")).filter(
        F.struct(F.col("e1.dv").alias("d"), F.col("e1.v").alias("n"))
        < F.struct(F.col("e2.dv").alias("d"), F.col("e2.v").alias("n"))
    )
    closer = oriented.select(F.col("u").alias("cu"), F.col("v").alias("cv"))
    return (
        wedges.join(
            closer,
            (F.col("e1.v") == F.col("cu")) & (F.col("e2.v") == F.col("cv")),
        )
        .select(
            F.col("e1.u").alias("n1"),
            F.col("e1.v").alias("n2"),
            F.col("e2.v").alias("n3"),
        )
    )


def oriented_triangle_count(edges: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Triangle COUNT over :func:`oriented_triangle_nodes` (each
    triangle appears exactly once as a (n1, n2, n3) triple)."""
    return oriented_triangle_nodes(edges, deg=deg).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


# --------------------------------------------------------------------------
# Shared purchase-graph edge list + ppm power-iteration kernel
# --------------------------------------------------------------------------
PPM_ROUNDS = 3


def purchase_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric customer↔supplier purchase edge list, shared by the
    three :func:`ppm_iterate` fixpoints (PageRank, Katz, personalized
    PageRank), degree assortativity and the rich-club coefficient.

    Two scale-deliberate choices:

    - **No outer distinct.** The (cust, supp) basket is deduplicated
      once; the two direction branches then live in DISJOINT id
      domains (supplier ids are offset by +1,000,000,000), so their union
      is duplicate-free BY CONSTRUCTION — the previous
      ``union().distinct()`` paid one full extra edge-list exchange
      for rows that could never collide. The offset is 1e9 (not the
      original 1e6) because custkeys reach 150k·SF: at 1e6 the id
      domains would overlap from SF≈7 and a reversed twin could
      silently double-count an edge; 1e9 keeps them disjoint past
      SF 6,000. (The SQL oracles keep UNION:
      on disjoint branches it dedups nothing and keeps the contract
      readable.)
    - **Repartitioned by ``src`` before persist**, so every fixpoint
      iteration's rank-vector join reads the cached edge partitioning
      and only the (node-sized) rank side shuffles — instead of
      re-exchanging the edge list every round.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    cs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + 1_000_000_000).alias("supp"),
        )
        .distinct()
    )
    return (
        cs.select(F.col("cust").alias("src"), F.col("supp").alias("dst"))
        .unionByName(
            cs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
        )
        .repartition("src")
        .transform(eager_checkpoint)
    )


def ppm_iterate(contrib: DataFrame, nodes: DataFrame, alpha_ppm: int) -> DataFrame:
    """The parts-per-million integer power iteration behind PageRank,
    Katz and personalized PageRank: ``PPM_ROUNDS`` synchronous rounds
    of ``x ← restart + alpha_ppm·Σ(x DIV d) DIV 1e6``.

    ``contrib`` is (src, dst, d): one row per directed edge, ``d`` the
    divisor of src's mass (its out-degree, or 1 for an unnormalized
    walk). ``nodes`` is (node, x, restart), all longs: the start vector
    and the per-node restart mass; it is checkpointed here, once, since
    every round reads it. Returns the final (node, x).

    Plan per round: one join of the rank vector onto ``contrib`` (a
    src-partitioned edge list keeps the edge side in place, so only
    the node-sized side shuffles), one aggregate on dst, one left join
    back to the node set — the synchronous superstep of Pregel-style
    vertex programs. Integer arithmetic makes the vector bit-identical
    on every engine, where a float iteration drifts with summation
    order.
    """
    nodes = eager_checkpoint(nodes)
    restart = nodes.select("node", "restart")
    x = nodes.select("node", "x")
    for _ in range(PPM_ROUNDS):
        inflow = (
            contrib.join(x.withColumnsRenamed({"node": "src"}), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("x DIV d")).alias("inflow"))
            .withColumnsRenamed({"dst": "node"})
        )
        x = restart.join(inflow, "node", "left").select(
            "node",
            (
                F.col("restart")
                + F.expr(f"{alpha_ppm} * coalesce(inflow, 0) DIV 1000000")
            ).cast("long").alias("x"),
        )
    return x


@query(
    "q_pagerank_purchases",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      UNION
      SELECT DISTINCT l.l_suppkey + 1000000000 AS src, o.o_custkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
    s1 AS (
      SELECT e.dst AS node, sum(r0.r // o.d) AS inflow
      FROM edges e JOIN r0 ON e.src = r0.node JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT n.node, 150000 + (850000 * COALESCE(s1.inflow, 0)) // 1000000 AS r
      FROM nodes n LEFT JOIN s1 USING (node)
    ),
    s2 AS (
      SELECT e.dst AS node, sum(r1.r // o.d) AS inflow
      FROM edges e JOIN r1 ON e.src = r1.node JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT n.node, 150000 + (850000 * COALESCE(s2.inflow, 0)) // 1000000 AS r
      FROM nodes n LEFT JOIN s2 USING (node)
    ),
    s3 AS (
      SELECT e.dst AS node, sum(r2.r // o.d) AS inflow
      FROM edges e JOIN r2 ON e.src = r2.node JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT n.node, 150000 + (850000 * COALESCE(s3.inflow, 0)) // 1000000 AS r
      FROM nodes n LEFT JOIN s3 USING (node)
    )
    SELECT node, CAST(r AS BIGINT) AS rank_ppm
    FROM r3
    ORDER BY rank_ppm DESC, node
    LIMIT 25
    """,
)
def q_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 synchronous iterations, damping 0.85) over the
    customer↔supplier purchase graph — "important" suppliers are those
    bought from by customers who themselves buy broadly. The rank is
    computed in **parts-per-million integer arithmetic** by
    :func:`ppm_iterate` (`r DIV outdeg`, then `(850000·Σ) DIV 1e6`), so
    the oracle is hash-exact. It is personalized PageRank with every
    node a seed: start 1e6 and restart 150000 everywhere. The edge list
    joined with its out-degrees is checkpointed once for all rounds.
    """
    edges = purchase_graph_edges(spark, sf_dir)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    contrib = edges.join(outdeg, "src").transform(eager_checkpoint)
    nodes = edges.select(F.col("src").alias("node")).distinct().select(
        "node",
        F.lit(1000000).cast("long").alias("x"),
        F.lit(150000).cast("long").alias("restart"),
    )
    return (
        ppm_iterate(contrib, nodes, 850000)
        .select("node", F.col("x").alias("rank_ppm"))
        .orderBy(F.desc("rank_ppm"), "node")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Co-purchase set similarity (collaborative-filtering neighborhood)
# --------------------------------------------------------------------------
COPURCHASE_MAX_DF = 40
COPURCHASE_MIN_COMMON = 4


def part_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part sorted posting list of distinct buyers, hot parts
    removed (``size(custs) <= COPURCHASE_MAX_DF``).

    One scan + ONE exchange (by part): ``collect_set`` dedups
    (cust, part) and builds the posting list in the same aggregate, so
    the previous shape — distinct basket materialized twice (once for
    the data, once for the DF-count side of a join-back) with an SMJ
    between them — collapses from 2 scans + 3 exchanges + SMJ to this
    (measured 1.07 s vs 1.38 s warm at sf0.1; the cold gap is larger
    because the duplicate scan chain is gone).

    Scale note: ``collect_set`` state for a *hot* part is unbounded
    until the filter drops it — the same per-key hazard class as the
    count-first formulation's window/groupBy (which also co-locates
    every row of the hot key), but here the set is materialized. At
    100 TB with celebrity items, pre-thin with an approximate
    frequency sketch (q_countmin_sketch) before the exact aggregate;
    at the shipped DF cap the retained lists are <= 40 entries.

    Fan-out parallelism (round 12): the aggregate's exchange is PINNED
    at ``defaultParallelism`` via an explicit ``repartition(P, part)``
    that the groupBy then reuses (same single exchange, different
    partition-count authority). Left to ENSURE_REQUIREMENTS, AQE
    coalesces the exchange by the posting lists' BYTES (~6 MB at
    sf0.1 → a handful of partitions), and every downstream
    double-explode pair enumeration — 8.4M generated rows at sf0.1 —
    plus its partial pair-count aggregate inherits that near-serial
    partitioning. AQE cannot see generator fan-out. Measured on the
    full pair kernel at sf0.1/local[32]: 5.3 s → 2.4 s min-of-4
    interleaved. ``defaultParallelism`` scales with cluster cores, so
    the pin is scale-adaptive, not a local[32] constant.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("cust")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part")
    )
    return (
        o.join(li, "ok")
        .repartition(fanout_partitions(spark), "part")
        .groupBy("part")
        .agg(F.array_sort(F.collect_set("cust")).alias("custs"))
        .filter(F.size("custs") <= COPURCHASE_MAX_DF)
    )


def capped_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (customer, part) purchase pairs with hot parts removed
    (DF cap — the posting-list bound shared by every inverted-index
    self-join in this repo). Exploded view of
    :func:`part_posting_lists`."""
    return part_posting_lists(spark, sf_dir).select(
        F.explode("custs").alias("cust"), "part"
    )


def copurchase_pairs(pl: DataFrame, min_common: int) -> DataFrame:
    """(cust_a, cust_b, c) co-occurrence pairs with ``c >= min_common``
    from a posting-list frame — the pair-generation kernel shared by
    the co-purchase similarity and k-core queries.

    Pairs are enumerated with a narrow double-explode of each posting
    list (codegen'd; no self-join, no extra exchange — the lists are
    already grouped) and aggregated on a **packed 64-bit pair key**
    (``cust_a << 32 | cust_b``): half the shuffle width of a two-long
    key, measured 4.2 s vs 4.8 s for the full sf0.1 edge build.
    Requires ids in [0, 2^32) (TPC-H custkeys; for wider ids drop the
    packing — it is an optimization, not semantics). The precondition
    is *enforced* by the shared :func:`packed_pair_key` helper, which
    also casts to LONG first (``shiftleft`` on an INT is a 32-bit
    shift, where ``<< 32`` silently no-ops and merges all pairs).
    """
    pk = packed_pair_key(F.col("cust_a"), F.col("cust_b"))
    return (
        pl.select(F.explode("custs").alias("cust_a"), "custs")
        .select("cust_a", F.explode("custs").alias("cust_b"))
        .filter(F.col("cust_a") < F.col("cust_b"))
        .select(pk.alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_common)
        .select(
            F.shiftrightunsigned("pk", 32).alias("cust_a"),
            F.col("pk").bitwiseAND(F.lit(4294967295)).alias("cust_b"),
            "c",
        )
    )


def undirected(e: DataFrame) -> DataFrame:
    """(cust_a, cust_b) pairs as an (n, m) edge list in both
    directions. Lazy: BFS-shaped callers checkpoint the result, the
    k-core and label-propagation loops derive it narrowly per scan from
    their checkpointed ``e``."""
    return e.selectExpr("cust_a AS n", "cust_b AS m").unionByName(
        e.selectExpr("cust_b AS n", "cust_a AS m")
    )


BFS_DEPTH = 3


def bfs_levels(und: DataFrame, seeds: DataFrame) -> list[DataFrame]:
    """Level-synchronous BFS to ``BFS_DEPTH`` hops over the
    checkpointed (n, m) edge list ``und``; returns ``[seeds, d1, d2,
    d3]``. The visited-set key is ``seeds.columns``: ``node`` plus any
    source column (a landmark id) that rides along through every
    frontier join, so one frame carries many BFS at once.

    Each level is ``frontier ⋈ edges`` minus everything already
    labeled — a hash join on the node id and an anti-join on the key
    (broadcast or shuffle by frontier size, AQE's call) — and is
    :func:`stats_reset_checkpoint`-ed, so every level plans against
    flat inputs instead of the edge list plus all earlier levels.
    """
    carried = [c for c in seeds.columns if c != "node"]
    levels = [eager_checkpoint(seeds)]
    for _ in range(BFS_DEPTH):
        visited = levels[0]
        for lv in levels[1:]:
            visited = visited.unionByName(lv)
        levels.append(
            stats_reset_checkpoint(
                und.join(levels[-1].withColumnRenamed("node", "n"), "n")
                .select(*carried, F.col("m").alias("node"))
                .distinct()
                .join(visited, seeds.columns, "left_anti")
            )
        )
    return levels


@query(
    "q_copurchase_jaccard",
    oracle=f"""
    WITH basket AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    pf AS (SELECT part, count(*) AS df FROM basket GROUP BY part),
    capped AS (SELECT b.cust, b.part FROM basket b JOIN pf USING (part)
               WHERE pf.df <= {COPURCHASE_MAX_DF}),
    sizes AS (SELECT cust, count(*) AS n FROM capped GROUP BY cust),
    pairs AS (
      SELECT a.cust AS cust_a, b.cust AS cust_b, count(*) AS common_parts
      FROM capped a JOIN capped b ON a.part = b.part AND a.cust < b.cust
      GROUP BY 1, 2 HAVING count(*) >= {COPURCHASE_MIN_COMMON}
    )
    SELECT p.cust_a, p.cust_b, CAST(p.common_parts AS BIGINT) AS common_parts,
           CAST(p.common_parts AS DOUBLE) / (sa.n + sb.n - p.common_parts) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.cust = p.cust_a
    JOIN sizes sb ON sb.cust = p.cust_b
    ORDER BY cust_a, cust_b
    """,
)
def q_copurchase_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-to-customer set similarity over purchased part sets —
    the collaborative-filtering neighborhood query, built exactly like
    the shingle inverted index in dedup.py: index on the shared item,
    cap hot items, pair within each item's posting list.

    Scale: posting-list pair enumeration is the canonical all-pairs
    bounding pattern. The DF cap (drop parts bought by more than
    ``COPURCHASE_MAX_DF`` distinct customers) bounds each posting list
    so the per-part pair fan-out is <= df*(df-1)/2 — without it one
    celebrity product emits O(customers^2) pairs. Pairs come from a
    narrow double-explode of the grouped lists (no self-join — see
    :func:`copurchase_pairs`) and aggregate on a packed 64-bit key.
    The size join is per-customer (tiny) and broadcast-able. Jaccard
    here is over the *capped* universe, stated in the contract: hot
    products carry no similarity signal anyway (everyone buys them).
    """
    # scoped persist, not eager checkpoint: pl is scanned twice INSIDE
    # this one returned plan (sizes + pairs); persist lets the main job
    # compute it once in-stream, where an eager checkpoint serializes a
    # separate materialization job first (measured 1.7 s vs 3.5 s at
    # sf0.1). The cache entry is unpersisted when the returned frame is
    # GC'd (plans/iterate.py retain), so the round-9 leak class stays
    # dead.
    pl = part_posting_lists(spark, sf_dir)
    sizes = pl.select(F.explode("custs").alias("cust")).groupBy("cust").agg(
        F.count(F.lit(1)).alias("n")
    )
    pairs = copurchase_pairs(pl, COPURCHASE_MIN_COMMON).withColumnRenamed(
        "c", "common_parts"
    )
    sa = sizes.withColumnsRenamed({"cust": "cust_a", "n": "na"})
    sb = sizes.withColumnsRenamed({"cust": "cust_b", "n": "nb"})
    out = (
        pairs.join(F.broadcast(sa), "cust_a")
        .join(F.broadcast(sb), "cust_b")
        .select(
            "cust_a",
            "cust_b",
            "common_parts",
            (
                F.col("common_parts").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common_parts"))
            ).alias("jaccard"),
        )
        .orderBy("cust_a", "cust_b")
    )
    return retain(out, pl)


# --------------------------------------------------------------------------
# k-core peeling (bounded-round, iterative subgraph mining)
# --------------------------------------------------------------------------
KCORE_K = 30
KCORE_ROUNDS = 4
KCORE_MIN_COMMON = 2


def _kcore_oracle() -> str:
    """Unrolled ``KCORE_ROUNDS``-round peel as a DuckDB CTE chain.
    Bounded-round semantics make the operator SQL-expressible: both
    engines compute exactly this many peel rounds, so the contract is
    deterministic on any data (at the shipped scale factors the peel
    reaches its fixpoint well inside the bound — pytest asserts it)."""
    sql = f"""
    WITH basket AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    pf AS (SELECT part, count(*) AS df FROM basket GROUP BY part),
    capped AS (SELECT b.cust, b.part FROM basket b JOIN pf USING (part)
               WHERE pf.df <= {COPURCHASE_MAX_DF}),
    e AS MATERIALIZED (
      SELECT a.cust AS ca, b.cust AS cb
      FROM capped a JOIN capped b ON a.part = b.part AND a.cust < b.cust
      GROUP BY 1, 2 HAVING count(*) >= {KCORE_MIN_COMMON}
    ),
    u0 AS MATERIALIZED (SELECT ca AS n, cb AS m FROM e UNION ALL SELECT cb, ca FROM e)"""
    for r in range(1, KCORE_ROUNDS + 1):
        sql += f""",
    k{r} AS MATERIALIZED (SELECT n FROM u{r-1} GROUP BY n
                          HAVING count(*) >= {KCORE_K}),
    u{r} AS MATERIALIZED (SELECT u.n, u.m FROM u{r-1} u
             JOIN k{r} x ON u.n = x.n JOIN k{r} y ON u.m = y.n)"""
    sql += f"""
    SELECT n AS node, CAST(count(*) AS BIGINT) AS core_degree
    FROM u{KCORE_ROUNDS} GROUP BY n ORDER BY node
    """
    return sql


@query("q_kcore_peel", oracle=_kcore_oracle())
def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core subgraph of the customer co-purchase graph (edges =
    customer pairs sharing >= ``KCORE_MIN_COMMON`` capped parts) by
    iterative peeling: each round drops nodes with degree < k and the
    edges touching them. Bounded at ``KCORE_ROUNDS`` rounds so the
    operator has a closed-form SQL twin; at the shipped scale factors
    the peel converges inside the bound, so the result IS the true
    k-core (the fixpoint variant is pytest-checked against it).

    Scale: **delta-peeling** — the edge list is materialized ONCE and
    never rewritten; the iterated state is the (node, degree) frame,
    which is smaller than the edge list by the average-degree factor.
    Each round: (1) the nodes dropping below k come off the tiny
    degree frame; (2) their neighbors' degrees decrease by the count
    of removed neighbors — one *narrow* pass over the fixed edge list
    (size-gated broadcast hash join against the removed set + map-side
    partial count — the hint rides
    :func:`~..plans.adaptive.adaptive_broadcast` because round-1
    removal sets are node-scale worst-case), because degrees only
    change for neighbors of removed nodes; (3) the degree frame is rebuilt with two tiny joins and
    ``localCheckpoint(eager=True)``-ed (plain ``persist`` is NOT
    enough in iterative loops: the logical plan nests ~6x per round —
    288 → 1 728 → 10 368 embedded scans measured — and Catalyst
    re-analysis dwarfs the work by round 4). Removal sets are
    disjoint across rounds, so the running degree equals the degree
    within the surviving induced subgraph — the same simultaneous-
    removal semantics as the oracle's per-round edge filtering,
    without ever shuffling or re-materializing the edges (the
    previous two-semi-join formulation rewrote the full edge list
    every round; measured ~2.5 s slower at sf0.1). A round that
    removes nothing is the fixpoint — remaining rounds are provably
    no-ops and are skipped.
    """
    # checkpoint the single-direction edge list once, right-sized: the
    # sf0.1 edge list is ~5 MB — 32 post-shuffle tasks are pure
    # scheduling overhead for every per-round scan, so coalesce to a
    # handful (the manual analogue of AQE partition coalescing, which
    # cannot reach past a localCheckpoint's fixed RDD partitioning; a
    # cluster run sizes this by bytes instead). The doubled view is
    # derived narrowly per scan — cheaper than materializing it.
    e = (
        copurchase_pairs(part_posting_lists(spark, sf_dir), KCORE_MIN_COMMON)
        .select("cust_a", "cust_b")
        .coalesce(8)
        .transform(eager_checkpoint)
    )
    und = undirected(e)
    deg = (
        und.groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(eager_checkpoint)
    )
    n_prev = deg.count()
    # removal sets and degree deltas are node-scale worst-case (round
    # 1 can remove most of the graph), so their broadcast hints ride
    # the shared size gate: cheap cached customer-count bound, plain
    # hash join above it (AQE still free to convert on actual size)
    node_bound = table_row_bound(spark, sf_dir, "customer")
    # Multi-round fusion (round 13, guide §2.6/§5): TWO peel rounds per
    # materialization. Each round's algebra is unchanged (filter the
    # tiny degree frame, one narrow broadcast-join scan of the fixed
    # edge list, degree rebuild), but only every second round pays the
    # checkpoint+count job pair — the loop's cost at replay scale was
    # ~0.55 s/round of per-round fixed job cost on a ~10k-row frame,
    # not compute. The fused plan is two rounds deep (bounded; no
    # compounding — stats_reset_checkpoint still cuts lineage at every
    # materialization). The fixpoint early-exit now tests every 2
    # rounds: degree-frame size is monotone non-increasing, so "no
    # node count change across a fused pair" still implies both rounds
    # removed nothing — the same provably-no-op tail as before.
    def peel_once(deg):
        removed_m = deg.filter(F.col("d") < KCORE_K).selectExpr("n AS m")
        delta = (
            und.join(
                adaptive_broadcast(removed_m, count_hint=node_bound), "m"
            )
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("dd"))
        )
        return (
            deg.filter(F.col("d") >= KCORE_K)
            .join(adaptive_broadcast(delta, count_hint=node_bound), "n", "left")
            .select("n", (F.col("d") - F.coalesce("dd", F.lit(0))).alias("d"))
        )

    rounds_left = KCORE_ROUNDS
    while rounds_left > 0:
        fused = min(2, rounds_left)
        step = deg
        for _ in range(fused):
            step = peel_once(step)
        deg = stats_reset_checkpoint(step)
        rounds_left -= fused
        n_new = deg.count()
        if n_new == n_prev:
            break  # nothing was removed: fixpoint, later rounds are no-ops
        n_prev = n_new
    # surviving nodes with >= 1 surviving edge, at their core degree —
    # exactly the nodes (and degrees) of the oracle's round-4 edge set
    return (
        deg.filter(F.col("d") >= 1)
        .select(F.col("n").alias("node"), F.col("d").alias("core_degree"))
        .orderBy("node")
    )


# --------------------------------------------------------------------------
# Entity resolution end-to-end: block -> verify -> cluster -> survive
# --------------------------------------------------------------------------
ER_SCOPE = 200  # p_partkey bound for the edit-distance demo tier
ER_MAX_DIST = 8


@query(
    "q_entity_resolution",
    oracle=f"""
    WITH RECURSIVE scoped AS (
      SELECT p_partkey, p_name, p_brand, p_retailprice
      FROM part WHERE p_partkey < {ER_SCOPE}
    ),
    edges AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM scoped a JOIN scoped b
        ON a.p_partkey < b.p_partkey
       AND substr(a.p_name, 1, 4) = substr(b.p_name, 1, 4)
      WHERE levenshtein(a.p_name, b.p_name) <= {ER_MAX_DIST}
    ),
    und AS (
      SELECT id_a AS n, id_b AS m FROM edges
      UNION ALL SELECT id_b, id_a FROM edges
    ),
    reach AS (
      -- min reachable id = connected-component label
      SELECT p_partkey AS node, p_partkey AS lab FROM scoped
      UNION
      SELECT u.m, r.lab FROM reach r JOIN und u ON u.n = r.node
    ),
    labels AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
    survived AS (
      SELECT l.component,
             count(*) AS n_members,
             min_by(s.p_name, s.p_partkey) AS canonical_name,
             count(DISTINCT s.p_brand) AS n_brands,
             CAST(max(CAST(round(s.p_retailprice * 100, 0) AS BIGINT))
                  - min(CAST(round(s.p_retailprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS price_spread_cents
      FROM scoped s JOIN labels l ON s.p_partkey = l.node
      GROUP BY l.component
    )
    SELECT component AS canonical_id, CAST(n_members AS BIGINT) AS n_members,
           canonical_name, CAST(n_brands AS BIGINT) AS n_brands,
           price_spread_cents
    FROM survived
    WHERE n_members >= 2
    ORDER BY canonical_id
    """,
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution — the four canonical stages in one
    Catalyst plan plus one bounded iterative step:

    1. **Block** on a cheap key (4-char name prefix) so the candidate
       space is per-block quadratic, never global.
    2. **Verify** candidates with Levenshtein <= ``ER_MAX_DIST`` (8).
    3. **Cluster** matches with distributed connected components
       (min-label + pointer jumping, lineage-truncated per round —
       :func:`~..dedup.connected_components`).
    4. **Survive** a golden record per cluster: canonical name from
       the lowest id (``min_by``), brand cardinality, price spread in
       exact integer cents.

    The oracle replays all four stages in DuckDB, computing the
    components with a recursive CTE (min reachable id) — iterative
    Spark vs recursive SQL agreeing on the same fixpoint is the
    strongest cross-engine check this repo has for graph operators.

    Scale: blocking bounds candidate pairs; CC rounds are
    O(log diameter); survivorship is one aggregate. The demo tier is
    fenced to p_partkey < ``ER_SCOPE`` (200) because per-pair edit distance is
    the slow path (at production scale, pre-prune with the q_ngram
    or prefix-filter joins and verify only the sliver).
    """
    from mi_inbound_pulsar_spark.operators.dedup import connected_components

    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < ER_SCOPE)
    scoped = p.select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("cents"),
        F.substring("p_name", 1, 4).alias("blk"),
    ).transform(eager_checkpoint)
    a = scoped.select(F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a"), "blk")
    b = scoped.select(F.col("p_partkey").alias("id_b"), F.col("p_name").alias("name_b"), "blk")
    edges = (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein("name_a", "name_b") <= ER_MAX_DIST)
        .select("id_a", "id_b")
    )
    labels = connected_components(edges)
    clustered = scoped.join(
        labels.withColumnsRenamed({"doc_id": "p_partkey"}), "p_partkey", "left"
    ).select(
        "p_partkey",
        "p_name",
        "p_brand",
        "cents",
        F.coalesce("component", "p_partkey").alias("component"),
    )
    return (
        clustered.groupBy(F.col("component").alias("canonical_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min_by("p_name", "p_partkey").alias("canonical_name"),
            F.count_distinct("p_brand").alias("n_brands"),
            (F.max("cents") - F.min("cents")).alias("price_spread_cents"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy("canonical_id")
    )


SNM_WINDOW = 5  # sorted-neighborhood comparison window
SNM_MAX_DIST = 8


@query(
    "q_sorted_neighborhood",
    oracle=f"""
    WITH ranked AS (
      SELECT p_partkey, p_name,
             row_number() OVER (ORDER BY p_name, p_partkey) AS rn
      FROM part
    )
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(b.rn - a.rn AS BIGINT) AS rank_gap,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM ranked a JOIN ranked b
      ON b.rn - a.rn BETWEEN 1 AND {SNM_WINDOW}
    WHERE levenshtein(a.p_name, b.p_name) <= {SNM_MAX_DIST}
    ORDER BY id_a, id_b
    """,
)
def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernandez & Stolfo's
    merge/purge): sort the WHOLE corpus by a blocking key (name, with
    the id as tiebreak), then compare each record only with its next
    5 (``SNM_WINDOW``) neighbors in sort order — linear candidate count
    (W x n) instead of per-block quadratic, and robust to block-size
    skew, which makes it the complement of prefix blocking
    (``q_fuzzy_match``) and the candidate rule of choice when blocks
    would be lopsided.

    The global sort is the classic scaling objection, and this
    implementation does NOT do one: ranks come from
    ``plans/ranking.attach_global_order_stats`` (range shuffle +
    broadcast prefix offsets + partition-local windows — every stage
    parallel), and neighbor pairing is an equi-join of ``rn + k`` for
    k in 1..SNM_WINDOW (an explode + hash join, not a window over a
    single partition). Unlike the fenced edit-distance demos this runs
    over the FULL part table at every scale factor.
    """
    from mi_inbound_pulsar_spark.plans.ranking import attach_global_order_stats

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    ranked, _total = attach_global_order_stats(
        p, [F.col("p_name"), F.col("p_partkey")], rn_col="rn"
    )
    a = ranked.select(
        F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a"), "rn"
    ).withColumn("rn_b", F.explode(F.array(*[F.col("rn") + k for k in range(1, SNM_WINDOW + 1)])))
    b = ranked.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("name_b"),
        F.col("rn").alias("rn_b"),
    )
    return (
        a.join(b, "rn_b")
        .select(
            "id_a",
            "id_b",
            (F.col("rn_b") - F.col("rn")).alias("rank_gap"),
            F.levenshtein("name_a", "name_b").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= SNM_MAX_DIST)
        .orderBy("id_a", "id_b")
    )


@query(
    "q_bfs_distances",
    oracle=f"""
    WITH basket AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    pf AS MATERIALIZED (SELECT part, count(*) AS df FROM basket GROUP BY part),
    capped AS MATERIALIZED (SELECT b.cust, b.part FROM basket b JOIN pf USING (part)
               WHERE pf.df <= {COPURCHASE_MAX_DF}),
    e AS MATERIALIZED (
      SELECT a.cust AS ca, b.cust AS cb
      FROM capped a JOIN capped b ON a.part = b.part AND a.cust < b.cust
      GROUP BY 1, 2 HAVING count(*) >= {COPURCHASE_MIN_COMMON}
    ),
    und AS MATERIALIZED (SELECT ca AS n, cb AS m FROM e UNION ALL SELECT cb, ca FROM e),
    seed AS (SELECT min(n) AS s FROM und),
    d0 AS MATERIALIZED (SELECT s AS node FROM seed WHERE s IS NOT NULL),
    d1 AS MATERIALIZED (
      SELECT DISTINCT u.m AS node FROM und u JOIN d0 ON u.n = d0.node
      WHERE u.m NOT IN (SELECT node FROM d0)
    ),
    d2 AS MATERIALIZED (
      SELECT DISTINCT u.m AS node FROM und u JOIN d1 ON u.n = d1.node
      WHERE u.m NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM d1)
    ),
    d3 AS MATERIALIZED (
      SELECT DISTINCT u.m AS node FROM und u JOIN d2 ON u.n = d2.node
      WHERE u.m NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM d1
                        UNION ALL SELECT node FROM d2)
    ),
    verts AS MATERIALIZED (SELECT DISTINCT n AS node FROM und),
    reach AS MATERIALIZED (
      SELECT 0 AS dist, node FROM d0
      UNION ALL SELECT 1, node FROM d1
      UNION ALL SELECT 2, node FROM d2
      UNION ALL SELECT 3, node FROM d3
    )
    SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
           min(node) AS min_node
    FROM (
      SELECT dist, node FROM reach
      UNION ALL
      SELECT -1, node FROM verts
      WHERE node NOT IN (SELECT node FROM reach)
    )
    GROUP BY dist ORDER BY dist
    """,
)
def q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS from a deterministic seed (the smallest node
    id) over the co-purchase graph: how many customers sit at hop
    distance 1, 2, 3 from the seed, and how many graph nodes are not
    reachable within 3 hops (dist = -1) — the min-plus / traversal
    algebra the other graph queries (PageRank, components, k-core,
    triangles) don't exercise.

    The three hops are :func:`bfs_levels` from a one-node seed, so
    the oracle is the same unrolled CTE chain; unbounded-depth BFS
    would use the connected-components loop instead.
    """
    e = copurchase_pairs(
        part_posting_lists(spark, sf_dir), COPURCHASE_MIN_COMMON
    ).select("cust_a", "cust_b")
    und = undirected(e).transform(eager_checkpoint)
    # empty graph -> agg still yields one NULL row; drop it so the
    # result is empty instead of a phantom dist=0 node
    seed = und.agg(F.min("n").alias("node")).filter(F.col("node").isNotNull())
    levels = bfs_levels(und, seed)
    verts = und.select(F.col("n").alias("node")).distinct()
    reach = None
    for dist, lv in enumerate(levels):
        tagged = lv.select(F.lit(dist).alias("dist"), "node")
        reach = tagged if reach is None else reach.unionByName(tagged)
    unreached = (
        verts.join(reach.select("node"), "node", "left_anti")
        .select(F.lit(-1).alias("dist"), "node")
    )
    return (
        reach.unionByName(unreached)
        .groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.min("node").alias("min_node"))
        .orderBy("dist")
    )


# --------------------------------------------------------------------------
# Adamic-Adar link prediction over the co-purchase graph
# --------------------------------------------------------------------------
@query(
    "q_adamic_adar",
    oracle=f"""
    WITH basket AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    pf AS (SELECT part, count(*) AS df FROM basket GROUP BY part),
    capped AS (SELECT b.cust, b.part, pf.df FROM basket b JOIN pf USING (part)
               WHERE pf.df BETWEEN 2 AND {COPURCHASE_MAX_DF})
    SELECT a.cust AS cust_a, b.cust AS cust_b,
           CAST(count(*) AS BIGINT) AS common_parts,
           round(sum(1.0 / ln(a.df)), 6) AS aa_score
    FROM capped a JOIN capped b ON a.part = b.part AND a.cust < b.cust
    GROUP BY 1, 2 HAVING count(*) >= {COPURCHASE_MIN_COMMON}
    ORDER BY cust_a, cust_b
    """,
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003): score every
    candidate customer pair by Σ 1/ln(df) over their common parts —
    rare shared items count more than popular ones, the standard
    common-neighbor weighting for recommend-a-connection features.
    Pairs below {COPURCHASE_MIN_COMMON} common parts are pruned (same
    support floor as ``q_copurchase_jaccard``).

    Plan: reuses the one-scan :func:`part_posting_lists` kernel (DF
    cap kills hot-item d² blow-up); pair enumeration is the narrow
    double-explode with the per-part weight riding along — one extra
    float per row over the co-purchase kernel, same exchange count.
    Float-sum order across parts differs between engines; scores are
    rounded to 6dp on both sides (values ≥ 1/ln(40) ≈ 0.27 per term,
    so 6dp dwarfs the 1e-15 relative reassociation error).
    """
    pl = part_posting_lists(spark, sf_dir).filter(F.size("custs") >= 2)
    wt = 1.0 / F.log(F.size("custs").cast("double"))
    # same packed 64-bit pair key as copurchase_pairs (half the shuffle
    # key width); packed_pair_key casts to LONG and range-guards loudly
    pairs = (
        pl.select(F.explode("custs").alias("cust_a"), "custs", wt.alias("wt"))
        .select("cust_a", F.explode("custs").alias("cust_b"), "wt")
        .filter(F.col("cust_a") < F.col("cust_b"))
        .select(
            packed_pair_key(F.col("cust_a"), F.col("cust_b")).alias("pk"),
            "wt",
        )
    )
    return (
        pairs.groupBy("pk")
        .agg(
            F.count(F.lit(1)).alias("common_parts"),
            F.round(F.sum("wt"), 6).alias("aa_score"),
        )
        .filter(F.col("common_parts") >= COPURCHASE_MIN_COMMON)
        .select(
            F.shiftrightunsigned("pk", 32).alias("cust_a"),
            F.col("pk").bitwiseAND(F.lit(4294967295)).alias("cust_b"),
            "common_parts",
            "aa_score",
        )
        .orderBy("cust_a", "cust_b")
    )


# --------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record-linkage scoring
# --------------------------------------------------------------------------
#: per-feature (m, u) probabilities: P(agree | match), P(agree | non-match).
#: Fixed published-style values — swapping EM-trained estimates in changes
#: only these literals (Fellegi & Sunter 1969; Herzog et al. 2007).
FS_FEATURES = {
    "brand_eq": (0.95, 0.10),
    "type_eq": (0.90, 0.15),
    "size_eq": (0.85, 0.05),
    "name_close": (0.90, 0.02),
}
FS_MATCH_THRESHOLD = 4.0  # total log2 weight above which a pair is a match
FS_NAME_MAX_DIST = 8


def _fs_weight(agree_sql: str, m: float, u: float) -> str:
    import math

    wa, wd = math.log2(m / u), math.log2((1 - m) / (1 - u))
    return f"CASE WHEN {agree_sql} THEN {wa!r} ELSE {wd!r} END"


@query(
    "q_fellegi_sunter",
    oracle=f"""
    WITH scoped AS (
      SELECT p_partkey, p_name, p_brand, p_type, p_size
      FROM part WHERE p_partkey < {ER_SCOPE}
    ),
    cand AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             a.p_brand = b.p_brand AS brand_eq,
             a.p_type = b.p_type AS type_eq,
             a.p_size = b.p_size AS size_eq,
             levenshtein(a.p_name, b.p_name) <= {FS_NAME_MAX_DIST} AS name_close
      FROM scoped a JOIN scoped b
        ON a.p_partkey < b.p_partkey
       AND substr(a.p_name, 1, 4) = substr(b.p_name, 1, 4)
    )
    SELECT id_a, id_b, brand_eq, type_eq, size_eq, name_close,
           round(CAST({_fs_weight('brand_eq', *FS_FEATURES['brand_eq'])}
                 + {_fs_weight('type_eq', *FS_FEATURES['type_eq'])}
                 + {_fs_weight('size_eq', *FS_FEATURES['size_eq'])}
                 + {_fs_weight('name_close', *FS_FEATURES['name_close'])}
                 AS DOUBLE), 6) AS fs_score,
           CAST({_fs_weight('brand_eq', *FS_FEATURES['brand_eq'])}
            + {_fs_weight('type_eq', *FS_FEATURES['type_eq'])}
            + {_fs_weight('size_eq', *FS_FEATURES['size_eq'])}
            + {_fs_weight('name_close', *FS_FEATURES['name_close'])}
            AS DOUBLE) > {FS_MATCH_THRESHOLD} AS is_match
    FROM cand ORDER BY id_a, id_b
    """,
)
def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter
    1969) over the same blocked candidate pairs as
    ``q_entity_resolution``: each comparison feature (brand / type /
    size equality, name edit-distance proximity) contributes its
    agreement weight log2(m/u) or disagreement weight
    log2((1-m)/(1-u)); the summed log-likelihood ratio against a fixed
    threshold is the match decision. This is the SCORING tier the
    binary edit-distance rule in ``q_entity_resolution`` upgrades to
    when fields disagree partially — the standard probabilistic ER
    model (Herzog et al. 2007), with (m, u) as swappable literals
    (EM-trained in production).

    Scale: candidate generation is the same 4-char-prefix block
    (per-block quadratic, never global); all features and weights are
    row-local expressions over the blocked pairs — one narrow
    projection after the blocked join. The float sum is 4 fixed
    literals, written in the same order on both engines, rounded 6dp;
    the decision compares the UNROUNDED sum identically on both sides.
    """
    import math

    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < ER_SCOPE)
    a, b = p.alias("a"), p.alias("b")
    cand = a.join(
        b,
        (F.col("a.p_partkey") < F.col("b.p_partkey"))
        & (
            F.substring(F.col("a.p_name"), 1, 4)
            == F.substring(F.col("b.p_name"), 1, 4)
        ),
    ).select(
        F.col("a.p_partkey").alias("id_a"),
        F.col("b.p_partkey").alias("id_b"),
        (F.col("a.p_brand") == F.col("b.p_brand")).alias("brand_eq"),
        (F.col("a.p_type") == F.col("b.p_type")).alias("type_eq"),
        (F.col("a.p_size") == F.col("b.p_size")).alias("size_eq"),
        (
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= FS_NAME_MAX_DIST
        ).alias("name_close"),
    )
    score = None
    for feat, (m, u) in FS_FEATURES.items():
        wa, wd = math.log2(m / u), math.log2((1 - m) / (1 - u))
        term = F.when(F.col(feat), F.lit(wa)).otherwise(F.lit(wd))
        score = term if score is None else score + term
    return cand.select(
        "id_a",
        "id_b",
        "brand_eq",
        "type_eq",
        "size_eq",
        "name_close",
        F.round(score, 6).alias("fs_score"),
        (score > FS_MATCH_THRESHOLD).alias("is_match"),
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# Label propagation communities (bounded-round synchronous LPA)
# --------------------------------------------------------------------------
LPA_ROUNDS = 3
# Broadcast the per-round (node, label) state only while it plausibly
# fits an executor (~16 B/row → ≤ ~80 MB); above this the loop uses a
# plain hash join — node-scale state must never be force-broadcast.
LPA_BROADCAST_MAX_NODES = ADAPTIVE_BROADCAST_MAX_ROWS


def _lpa_oracle() -> str:
    """Unrolled ``LPA_ROUNDS``-round synchronous label propagation as a
    CTE chain — the same bounded-round recipe as the k-core oracle:
    both engines run exactly this many rounds with identical
    (count DESC, label ASC) tie-breaks, so the contract is
    deterministic on any data."""
    sql = f"""
    WITH basket AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    pf AS (SELECT part, count(*) AS df FROM basket GROUP BY part),
    capped AS (SELECT b.cust, b.part FROM basket b JOIN pf USING (part)
               WHERE pf.df <= {COPURCHASE_MAX_DF}),
    e AS MATERIALIZED (
      SELECT a.cust AS ca, b.cust AS cb
      FROM capped a JOIN capped b ON a.part = b.part AND a.cust < b.cust
      GROUP BY 1, 2 HAVING count(*) >= {COPURCHASE_MIN_COMMON}
    ),
    und AS MATERIALIZED (SELECT ca AS n, cb AS m FROM e UNION ALL SELECT cb, ca FROM e),
    l0 AS MATERIALIZED (SELECT DISTINCT n, n AS lab FROM und)"""
    for r in range(1, LPA_ROUNDS + 1):
        sql += f""",
    c{r} AS (
      SELECT u.n, l.lab, count(*) AS c
      FROM und u JOIN l{r-1} l ON u.m = l.n
      GROUP BY u.n, l.lab
    ),
    l{r} AS MATERIALIZED (
      SELECT n, lab FROM (
        SELECT n, lab, row_number() OVER (PARTITION BY n ORDER BY c DESC, lab) AS rn
        FROM c{r}
      ) WHERE rn = 1
    )"""
    sql += f"""
    SELECT CAST(lab AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(n) AS BIGINT) AS min_member
    FROM l{LPA_ROUNDS} GROUP BY lab ORDER BY community
    """
    return sql


@query("q_label_propagation", oracle=_lpa_oracle())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the co-purchase graph ({LPA_ROUNDS} rounds,
    deterministic ties: neighbor-majority label, ties to the smallest
    label) — the near-linear community pass run before expensive
    modularity methods; communities here are customer cohorts sharing
    niche products (the DF cap already removed everyone-buys-it
    items). Bounded rounds make the operator SQL-expressible, the same
    closed-form-oracle trick as ``q_kcore_peel``; synchronous LPA can
    oscillate on bipartite-ish structure, which a fixed round budget
    also sidesteps deterministically.

    Scale: the iterated state is the (node, label) frame — NODE-
    bounded, which is a weaker bound than the k-/vocab-/domain-bounded
    state elsewhere in the repo: the frame grows with the corpus, so
    the per-round labels join is SIZE-GATED, not force-broadcast. The
    node count is invariant across rounds (one row per node), so one
    count of the checkpointed init frame decides the whole loop:
    ≤ ``LPA_BROADCAST_MAX_NODES`` → broadcast hint (local[32] and any
    cluster where the state fits an executor); above it → plain hash
    join, the documented 100 TB form (AQE may still convert at
    runtime; the edge list is the large side either way — the
    bucketed-IVF gating pattern). The gate is the shared
    :func:`~..plans.adaptive.adaptive_broadcast` path, and its bound
    is the *customer base-table row count* (node domain ⊆ customers)
    via the cached metadata-only :func:`table_row_bound` — zero extra
    actions per invocation after the first. The per-round count is one
    map-side-combined groupBy keyed by (node, label) and the argmax
    is a per-node window over ≤ degree rows. ``localCheckpoint`` per
    round cuts the iterative lineage.
    """
    e = (
        copurchase_pairs(part_posting_lists(spark, sf_dir), COPURCHASE_MIN_COMMON)
        .select("cust_a", "cust_b")
        .coalesce(8)
        .transform(eager_checkpoint)
    )
    und = undirected(e)
    labels = und.select("n").distinct().withColumn("lab", F.col("n")).transform(eager_checkpoint)
    # the state's key domain is fixed across rounds (LPA relabels, it
    # never adds nodes), so ONE measured count over the just-
    # checkpointed node set — nearly free, it scans materialized
    # blocks — tightens the coarse customer-table bound: on a corpus
    # with many customers but a small co-purchase node set the
    # broadcast hint still fires (ADVICE r8, graph.py:1309)
    node_bound = min(
        table_row_bound(spark, sf_dir, "customer"), labels.count()
    )
    for _ in range(LPA_ROUNDS):
        lab_side = labels.selectExpr("n AS m", "lab")
        nbr = und.join(
            adaptive_broadcast(
                lab_side, LPA_BROADCAST_MAX_NODES, count_hint=node_bound
            ),
            "m",
        )
        counts = nbr.groupBy("n", "lab").agg(F.count(F.lit(1)).alias("c"))
        # per-node argmax as a hash aggregate, not a window: min_by on
        # the (-count, label) struct is the same (count DESC, label
        # ASC) tie-break with no per-partition sort
        labels = stats_reset_checkpoint(
            counts.groupBy("n")
            .agg(
                F.min_by("lab", F.struct(-F.col("c"), F.col("lab"))).alias("lab")
            )
        )
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("n").alias("min_member"))
        .orderBy("community")
    )


# --------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999) — integer-ppm fixpoint
# --------------------------------------------------------------------------
@query(
    "q_hits_scores",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    a1 AS (
      SELECT supp, sum(CAST(1000000 AS BIGINT)) AS a FROM edges GROUP BY supp
    ),
    a1n AS (
      SELECT supp, a * 1000000 // (SELECT sum(a) FROM a1) AS a FROM a1
    ),
    h1 AS (
      SELECT e.cust, sum(a1n.a) AS h FROM edges e JOIN a1n USING (supp)
      GROUP BY e.cust
    ),
    h1n AS (
      SELECT cust, h * 1000000 // (SELECT sum(h) FROM h1) AS h FROM h1
    ),
    a2 AS (
      SELECT e.supp, sum(h1n.h) AS a FROM edges e JOIN h1n USING (cust)
      GROUP BY e.supp
    ),
    a2n AS (
      SELECT supp, a * 1000000 // (SELECT sum(a) FROM a2) AS a FROM a2
    ),
    h2 AS (
      SELECT e.cust, sum(a2n.a) AS h FROM edges e JOIN a2n USING (supp)
      GROUP BY e.cust
    ),
    h2n AS (
      SELECT cust, h * 1000000 // (SELECT sum(h) FROM h2) AS h FROM h2
    )
    SELECT supp AS node, CAST(a AS BIGINT) AS authority_ppm
    FROM a2n ORDER BY authority_ppm DESC, node LIMIT 25
    """,
)
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) over the bipartite customer→supplier
    purchase graph: customers are hubs, suppliers authorities; two
    synchronous update rounds (authority = Σ hub of in-neighbors,
    hub = Σ authority of out-neighbors), each followed by L1
    normalization. Like ``q_pagerank_purchases`` the fixpoint runs in
    **parts-per-million integer arithmetic** (``score·1e6 DIV Σ``),
    so every engine produces the bit-identical vector — a float HITS
    would drift with summation order. Top suppliers by final
    authority.

    Plan per half-round: one equi-join of the current score vector
    onto the edge list + one map-side-combined aggregate on the other
    side's key; the L1 total is a 1-row aggregate broadcast back.
    The edge list is built once and persisted; 2 rounds = 4 such
    half-rounds, the synchronous-iteration shape shared with PageRank.
    Overflow headroom: scores are ≤ 1e6 post-normalization, so the
    pre-normalization Σ is ≤ 1e6·|edges| and the ·1e6 product stays
    under 2^63 up to ~9e6 edges per node-side — at larger graphs
    widen to DECIMAL(38,0) before the multiply.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
        .transform(eager_checkpoint)
    )
    return (
        hits_authority_ppm(edges)
        .select(F.col("supp").alias("node"), F.col("s").alias("authority_ppm"))
        .orderBy(F.desc("authority_ppm"), "node")
        .limit(25)
    )


def hits_authority_ppm(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """The HITS fixpoint kernel over a (cust, supp) bipartite edge
    frame: ``rounds`` synchronous hub/authority updates, each L1-
    normalized in ppm integer arithmetic. Returns the final (supp, s)
    authority vector."""

    def l1_normalize(scores: DataFrame, key: str) -> DataFrame:
        tot = scores.agg(F.sum("s").alias("tot"))
        return scores.crossJoin(F.broadcast(tot)).select(
            key, F.expr("s * 1000000 DIV tot").alias("s")
        )

    hubs = edges.select("cust").distinct().select(
        "cust", F.lit(1000000).cast("long").alias("s")
    )
    auth = None
    for _ in range(rounds):
        auth = l1_normalize(
            edges.join(hubs, "cust").groupBy("supp").agg(F.sum("s").alias("s")),
            "supp",
        )
        hubs = l1_normalize(
            edges.join(auth, "supp").groupBy("cust").agg(F.sum("s").alias("s")),
            "cust",
        )
    return auth


# --------------------------------------------------------------------------
# Blocking-key quality evaluation (pairs completeness / reduction ratio)
# --------------------------------------------------------------------------
@query(
    "q_blocking_eval",
    oracle=f"""
    WITH scoped AS (
      SELECT p_partkey, p_name FROM part WHERE p_partkey < {ER_SCOPE}
    ),
    truth AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM scoped a JOIN scoped b ON a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= {ER_MAX_DIST}
    ),
    cand AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM scoped a JOIN scoped b
        ON a.p_partkey < b.p_partkey
       AND substr(a.p_name, 1, 4) = substr(b.p_name, 1, 4)
    ),
    n AS (SELECT count(*) AS nr FROM scoped),
    m AS (
      SELECT
        (SELECT count(*) FROM truth) AS n_truth,
        (SELECT count(*) FROM cand) AS n_cand,
        (SELECT count(*) FROM truth t JOIN cand c
           ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_cov
    )
    SELECT CAST(n.nr AS BIGINT) AS n_records,
           CAST(m.n_truth AS BIGINT) AS n_truth_pairs,
           CAST(m.n_cand AS BIGINT) AS n_candidate_pairs,
           CAST(m.n_cov AS BIGINT) AS n_covered,
           round(m.n_cov * 1.0 / m.n_truth, 6) AS pairs_completeness,
           round(1.0 - m.n_cand * 2.0 / (n.nr * (n.nr - 1)), 6)
             AS reduction_ratio
    FROM m, n
    """,
)
def q_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-key quality audit for entity resolution (Christen
    2012): pairs completeness (what fraction of TRUE edit-distance
    matches the prefix-4 blocking key retains) and reduction ratio
    (what fraction of the all-pairs space it prunes) — the two numbers
    that justify a blocking scheme before anyone trusts
    ``q_entity_resolution``'s output. The dedup-side sibling is
    ``q_lsh_recall_audit`` (same audit, MinHash banding instead of a
    key).

    Scale: the exact-truth side is inherently quadratic, so — exactly
    like the LSH recall audit — it runs on a bounded audit slice
    (p_partkey < {ER_SCOPE}; Spark plans the tiny self-join as a
    BroadcastNestedLoopJoin, the tolerated broadcast form). The
    candidate side is the production blocking join and stays
    equi-keyed at any scale.
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < ER_SCOPE)
    scoped = p.select("p_partkey", "p_name").transform(eager_checkpoint)
    a, b = scoped.alias("a"), scoped.alias("b")
    truth = a.join(b, F.col("a.p_partkey") < F.col("b.p_partkey")).filter(
        F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= ER_MAX_DIST
    ).select(
        F.col("a.p_partkey").alias("id_a"), F.col("b.p_partkey").alias("id_b")
    )
    cand = a.join(
        b,
        (F.col("a.p_partkey") < F.col("b.p_partkey"))
        & (
            F.substring(F.col("a.p_name"), 1, 4)
            == F.substring(F.col("b.p_name"), 1, 4)
        ),
    ).select(
        F.col("a.p_partkey").alias("id_a"), F.col("b.p_partkey").alias("id_b")
    )
    nr = scoped.agg(F.count(F.lit(1)).alias("nr"))
    covered = truth.join(cand, ["id_a", "id_b"])
    m = (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_cand")))
        .crossJoin(covered.agg(F.count(F.lit(1)).alias("n_cov")))
        .crossJoin(F.broadcast(nr))
    )
    return m.select(
        F.col("nr").cast("long").alias("n_records"),
        F.col("n_truth").cast("long").alias("n_truth_pairs"),
        F.col("n_cand").cast("long").alias("n_candidate_pairs"),
        F.col("n_cov").cast("long").alias("n_covered"),
        F.round(F.col("n_cov") / F.col("n_truth"), 6).alias("pairs_completeness"),
        F.round(
            1.0 - F.col("n_cand") * 2.0 / (F.col("nr") * (F.col("nr") - 1)), 6
        ).alias("reduction_ratio"),
    )


# --------------------------------------------------------------------------
# Local clustering coefficient (per-node triangle density)
# --------------------------------------------------------------------------
@query(
    "q_local_clustering",
    oracle="""
    WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM docs, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      WHERE a.shingle NOT IN (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1000)
      GROUP BY 1, 2
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst
      FROM cand JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
      WHERE round(c * 1.0 / (x.n + y.n - c), 6) >= 0.5
    ),
    sym AS MATERIALIZED (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    tr AS (
      SELECT a.src AS v, CAST(count(*) AS BIGINT) AS t
      FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
      JOIN sym c ON c.src = a.dst AND c.dst = b.dst
      GROUP BY a.src
    ),
    deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY src)
    SELECT deg.v AS doc_id, deg.d AS degree,
           coalesce(tr.t, 0) AS n_triangles,
           round(CASE WHEN deg.d >= 2
                      THEN 2.0 * coalesce(tr.t, 0) / (deg.d * (deg.d - 1)) END,
                 6) AS lcc
    FROM deg LEFT JOIN tr ON deg.v = tr.v
    ORDER BY doc_id
    """,
)
def q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node (Watts & Strogatz 1998)
    over the same 3-gram-Jaccard near-dup graph as
    ``q_triangle_count``: lcc(v) = 2·T(v)/(d(v)(d(v)−1)) — the
    PER-NODE refinement of that query's single global coefficient.
    In dedup terms it separates clique-like duplicate groups
    (lcc ≈ 1 everywhere → collapse to one keeper) from chain-like
    groups (low lcc hubs → transitive matches that need component
    splitting or manual review); degree-1 nodes carry NULL (undefined
    denominator) identically on both engines.

    Scale: triangles come from the degree-ORIENTED triple enumerator
    (:func:`oriented_triangle_nodes` — each triangle exactly once,
    wedge fan-out bounded by the arboricity O(√m), celebrity-proof);
    per-node counts are one explode of the 3 corners per triple. The
    oracle enumerates the same triangle SET via the symmetric closure
    (orientation changes enumeration order, never membership).

    The graph carries the PRODUCTION capped-index contract
    (``max_doc_freq=1000``, the same df≤1000 hot-shingle exclusion the
    oracle encodes in its candidate CTE — the contract is the capped
    graph at every corpus scale, not just corpora where no shingle
    happens to exceed the cap), generated via the capped prefix-filter
    kernel (:func:`_neardup_edges`): identical pairs, linear candidate
    generation.
    """
    d = load_table(spark, sf_dir, "documents")
    edges = _neardup_edges(d).transform(eager_checkpoint)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(eager_checkpoint)
    )
    corners = (
        oriented_triangle_nodes(edges, deg=deg)
        .select(
            F.explode(F.array(F.col("n1"), F.col("n2"), F.col("n3"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.join(corners, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.col("d").alias("degree"),
            F.coalesce("t", F.lit(0)).alias("n_triangles"),
            F.round(
                F.when(
                    F.col("d") >= 2,
                    2.0 * F.coalesce("t", F.lit(0)) / (F.col("d") * (F.col("d") - 1)),
                ),
                6,
            ).alias("lcc"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Power-law degree MLE (Clauset-Shalizi-Newman alpha + KS fit distance)
# --------------------------------------------------------------------------
@query(
    "q_degree_powerlaw_mle",
    oracle="""
    WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM docs, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      WHERE a.shingle NOT IN (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1000)
      GROUP BY 1, 2
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst
      FROM cand JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
      WHERE round(c * 1.0 / (x.n + y.n - c), 6) >= 0.5
    ),
    deg AS MATERIALIZED (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
      GROUP BY node
    ),
    mle AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             1.0 + count(*) / sum(ln(d / 0.5)) AS alpha
      FROM deg
    ),
    dc AS (SELECT d, CAST(count(*) AS BIGINT) AS c FROM deg GROUP BY d),
    ccdf AS (
      SELECT d, c,
             sum(c) OVER (ORDER BY d DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               * 1.0 / (SELECT n_nodes FROM mle) AS emp
      FROM dc
    ),
    ks AS (
      SELECT max(abs(emp - pow((ccdf.d - 0.5) / 0.5, 1.0 - mle.alpha))) AS ks_d
      FROM ccdf, mle
    )
    SELECT mle.n_nodes, mle.alpha IS NOT NULL AS fitted,
           round(mle.alpha, 6) AS alpha,
           round(ks.ks_d, 6) AS ks_distance
    FROM mle, ks
    """,
)
def q_degree_powerlaw_mle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-approximation power-law MLE for the degree
    distribution of the near-dup graph (Clauset, Shalizi & Newman
    2009, eq. 3.1 with the discrete half-shift x−½ and x_min = 1):
    α̂ = 1 + n / Σ ln(d/½), plus the KS distance between the
    empirical degree CCDF and the fitted (d−½/½)^(1−α) — the
    diagnostic that says whether the duplicate graph is scale-free
    (a few giant templated clusters dominate, α small / heavy tail)
    or homogeneous. Complements the point statistics
    (``q_triangle_count``'s clustering, ``q_local_clustering``) with
    a whole-distribution fit; ``q_zipf_slope`` is the same law on
    token frequencies via regression rather than MLE.

    Hash-exactness: degrees are exact integers; α is one aggregate
    ratio (Σ of deterministic ln terms); the CCDF running sum windows
    over the DISTINCT-DEGREE rollup (the q_mann_whitney value-domain
    class) and the KS max is an exact aggregate of deterministic
    doubles, 6dp-rounded.

    Scale: the edge list is the capped prefix-filter kernel
    (:func:`_neardup_edges` — same capped contract, linear candidate
    generation); degrees are one rollup; everything after is bounded
    by |distinct degrees|. The oracle encodes the same df≤1000
    hot-shingle exclusion as the production capped index, so the
    contract holds on corpora with hot shingles too.
    """
    d = load_table(spark, sf_dir, "documents")
    edges = _neardup_edges(d)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(eager_checkpoint)
    )
    mle = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (1.0 + F.count(F.lit(1)) / F.sum(F.log(F.col("d") / 0.5))).alias("alpha"),
    )
    dc = deg.groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    dc = bounded_window_input(dc, label="q_degree_powerlaw_mle degree domain")
    w = Window.orderBy(F.desc("d")).rowsBetween(Window.unboundedPreceding, 0)
    ccdf = dc.select("d", F.sum("c").over(w).alias("cum")).crossJoin(
        F.broadcast(mle)
    )
    ks = ccdf.agg(
        F.max(
            F.abs(
                F.col("cum") / F.col("n_nodes")
                - F.pow((F.col("d") - 0.5) / 0.5, 1.0 - F.col("alpha"))
            )
        ).alias("ks_d")
    )
    return (
        mle.crossJoin(ks)
        .select(
            "n_nodes",
            F.col("alpha").isNotNull().alias("fitted"),
            F.round("alpha", 6).alias("alpha"),
            F.round("ks_d", 6).alias("ks_distance"),
        )
    )


# --------------------------------------------------------------------------
# Katz centrality (Katz 1953) — truncated attenuated-path fixpoint
# --------------------------------------------------------------------------


@query(
    "q_katz_centrality",
    oracle="""
    WITH cs AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + 1000000000 AS supp
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
      SELECT cust AS src, supp AS dst FROM cs
      UNION
      SELECT supp AS src, cust AS dst FROM cs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    x0 AS (SELECT node, CAST(1000000 AS BIGINT) AS x FROM nodes),
    s1 AS (
      SELECT e.dst AS node, sum(x0.x) AS inflow
      FROM edges e JOIN x0 ON e.src = x0.node GROUP BY e.dst
    ),
    x1 AS (
      SELECT n.node,
             1000000 + (200000 * COALESCE(s1.inflow, 0)) // 1000000 AS x
      FROM nodes n LEFT JOIN s1 USING (node)
    ),
    s2 AS (
      SELECT e.dst AS node, sum(x1.x) AS inflow
      FROM edges e JOIN x1 ON e.src = x1.node GROUP BY e.dst
    ),
    x2 AS (
      SELECT n.node,
             1000000 + (200000 * COALESCE(s2.inflow, 0)) // 1000000 AS x
      FROM nodes n LEFT JOIN s2 USING (node)
    ),
    s3 AS (
      SELECT e.dst AS node, sum(x2.x) AS inflow
      FROM edges e JOIN x2 ON e.src = x2.node GROUP BY e.dst
    ),
    x3 AS (
      SELECT n.node,
             1000000 + (200000 * COALESCE(s3.inflow, 0)) // 1000000 AS x
      FROM nodes n LEFT JOIN s3 USING (node)
    )
    SELECT node, CAST(x AS BIGINT) AS katz_ppm
    FROM x3
    ORDER BY katz_ppm DESC, node
    LIMIT 25
    """,
)
def q_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (Katz 1953), truncated at 3 attenuated-path
    hops with alpha=0.2 and beta=1, over the customer↔supplier
    purchase graph: x ← beta + alpha·Aᵀx. Unlike PageRank
    (``q_pagerank_purchases``) the inflow is NOT degree-normalized, so
    a hub's influence scales with how many walks reach it, not how it
    splits its own mass — the centrality retrieval stacks use for
    "well-connected to well-connected" expansion.

    Hash-exactness: the shared :func:`ppm_iterate` fixpoint with
    x·1e6 and ``(200000·Σ) DIV 1e6`` per round; the edge list goes in
    with a literal ``d = 1`` because ``x DIV 1 = x``. Magnitude is
    bounded by (alpha·d̄)³·1e6 — int64 has nine orders of headroom over
    the tested graphs; a 100 TB deployment with million-degree hubs
    re-scales beta down before the loop.
    """
    edges = purchase_graph_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct().select(
        "node",
        F.lit(1000000).cast("long").alias("x"),
        F.lit(1000000).cast("long").alias("restart"),
    )
    return (
        ppm_iterate(edges.withColumn("d", F.lit(1)), nodes, 200000)
        .select("node", F.col("x").alias("katz_ppm"))
        .orderBy(F.desc("katz_ppm"), "node")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Personalized PageRank (Jeh & Widom 2003) — seed-restart fixpoint
# --------------------------------------------------------------------------


@query(
    "q_personalized_pagerank",
    oracle="""
    WITH cs AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + 1000000000 AS supp
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
      SELECT cust AS src, supp AS dst FROM cs
      UNION
      SELECT supp AS src, cust AS dst FROM cs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    seeds AS (
      SELECT DISTINCT c_custkey AS node FROM customer WHERE c_nationkey = 1
    ),
    ns AS (
      SELECT n.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
      FROM nodes n LEFT JOIN seeds s USING (node)
    ),
    x0 AS (SELECT node, CAST(is_seed * 1000000 AS BIGINT) AS x FROM ns),
    s1 AS (
      SELECT e.dst AS node, sum(x0.x // o.d) AS inflow
      FROM edges e JOIN x0 ON e.src = x0.node JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ),
    x1 AS (
      SELECT ns.node,
             150000 * ns.is_seed
               + (850000 * COALESCE(s1.inflow, 0)) // 1000000 AS x
      FROM ns LEFT JOIN s1 USING (node)
    ),
    s2 AS (
      SELECT e.dst AS node, sum(x1.x // o.d) AS inflow
      FROM edges e JOIN x1 ON e.src = x1.node JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ),
    x2 AS (
      SELECT ns.node,
             150000 * ns.is_seed
               + (850000 * COALESCE(s2.inflow, 0)) // 1000000 AS x
      FROM ns LEFT JOIN s2 USING (node)
    ),
    s3 AS (
      SELECT e.dst AS node, sum(x2.x // o.d) AS inflow
      FROM edges e JOIN x2 ON e.src = x2.node JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ),
    x3 AS (
      SELECT ns.node,
             150000 * ns.is_seed
               + (850000 * COALESCE(s3.inflow, 0)) // 1000000 AS x
      FROM ns LEFT JOIN s3 USING (node)
    )
    SELECT node, CAST(x AS BIGINT) AS ppr_ppm
    FROM x3 WHERE x > 0
    ORDER BY ppr_ppm DESC, node
    LIMIT 25
    """,
)
def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (Jeh & Widom 2003) with the restart mass
    pinned to a seed set — nation-1 customers — over the
    customer↔supplier purchase graph: x ← 0.15·s + 0.85·Aᵀ(x/d),
    3 synchronous iterations. Where global PageRank
    (``q_pagerank_purchases``) answers "important overall", PPR
    answers "important *to these seeds*" — the similar-item /
    audience-expansion primitive recommender retrieval uses.

    Hash-exactness: the shared :func:`ppm_iterate` fixpoint (`x DIV
    d`, `(850000·Σ) DIV 1e6` per round) with start ``1e6·s`` and
    restart ``150000·s`` — bit-identical on both engines where float
    PPR would drift with summation order. The seed indicator is joined
    onto the node set once (plain hash join — node-scale state is
    never force-broadcast, the q_label_propagation size-adaptive
    lesson).
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    edges = purchase_graph_edges(spark, sf_dir)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    contrib = edges.join(outdeg, "src").transform(eager_checkpoint)
    seeds = cust.filter(F.col("c_nationkey") == 1).select(
        F.col("c_custkey").alias("node"), F.lit(1).alias("flag")
    )
    is_seed = F.coalesce("flag", F.lit(0)).cast("long")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .join(seeds, "node", "left")
        .select(
            "node",
            (is_seed * 1000000).alias("x"),
            (is_seed * 150000).alias("restart"),
        )
    )
    return (
        ppm_iterate(contrib, nodes, 850000)
        .filter(F.col("x") > 0)
        .select("node", F.col("x").alias("ppr_ppm"))
        .orderBy(F.desc("ppr_ppm"), "node")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Degree assortativity (Newman 2002)
# --------------------------------------------------------------------------


@query(
    "q_degree_assortativity",
    oracle="""
    WITH cs AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + 1000000000 AS supp
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
      SELECT cust AS src, supp AS dst FROM cs
      UNION
      SELECT supp AS src, cust AS dst FROM cs
    ),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
    de AS (
      SELECT a.d AS dj, b.d AS dk
      FROM edges e JOIN deg a ON e.src = a.node JOIN deg b ON e.dst = b.node
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(dj * dk) AS BIGINT) AS sjk,
             CAST(sum(dj) AS BIGINT) AS sj,
             CAST(sum(dk) AS BIGINT) AS sk,
             CAST(sum(dj * dj) AS BIGINT) AS sjj,
             CAST(sum(dk * dk) AS BIGINT) AS skk
      FROM de
    )
    SELECT m,
           round(
             (sjk * 1.0 / m - (sj * 1.0 / m) * (sk * 1.0 / m))
             / sqrt((sjj * 1.0 / m - (sj * 1.0 / m) * (sj * 1.0 / m))
                    * (skk * 1.0 / m - (sk * 1.0 / m) * (sk * 1.0 / m))),
             6) AS assortativity
    FROM s
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, "Assortative
    mixing in networks"): the Pearson correlation of endpoint degrees
    over all DIRECTED edge occurrences of the customer↔supplier
    purchase graph — one number answering "do hubs connect to hubs"
    (r>0, social-network-like) or "hubs to leaves" (r<0,
    bipartite/infrastructure-like; expect strongly negative here,
    which is exactly why Katz and PageRank disagree on this graph).

    Hash-exactness: all six moments are exact integer sums (degrees
    are counts; products ≤ deg²·|E| stay far inside int64); the
    coefficient is one deterministic double expression, 6dp-rounded.

    Scale: degrees via one node-keyed aggregate; each endpoint's
    degree joins back onto the edge list on its OWN key (src-keyed
    first — riding the persisted edge partitioning — then dst-keyed);
    the moment rollup collapses everything to one row. No windows,
    no pairwise work beyond the edges themselves.
    """
    edges = purchase_graph_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    de = (
        edges.join(deg.withColumnsRenamed({"node": "src", "d": "dj"}), "src")
        .join(deg.withColumnsRenamed({"node": "dst", "d": "dk"}), "dst")
        .select("dj", "dk")
    )
    s = de.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("dj") * F.col("dk")).alias("sjk"),
        F.sum("dj").alias("sj"),
        F.sum("dk").alias("sk"),
        F.sum(F.col("dj") * F.col("dj")).alias("sjj"),
        F.sum(F.col("dk") * F.col("dk")).alias("skk"),
    )
    m = F.col("m")
    mean_j = F.col("sj") * F.lit(1.0) / m
    mean_k = F.col("sk") * F.lit(1.0) / m
    cov = F.col("sjk") * F.lit(1.0) / m - mean_j * mean_k
    var_j = F.col("sjj") * F.lit(1.0) / m - mean_j * mean_j
    var_k = F.col("skk") * F.lit(1.0) / m - mean_k * mean_k
    return s.select(
        "m", F.round(cov / F.sqrt(var_j * var_k), 6).alias("assortativity")
    )


# --------------------------------------------------------------------------
# Landmark harmonic centrality (BFS from L pivots, Eppstein-Wang style)
# --------------------------------------------------------------------------
HARMONIC_LANDMARKS = 8


@query(
    "q_landmark_harmonic",
    oracle=f"""
    WITH basket AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    pf AS MATERIALIZED (SELECT part, count(*) AS df FROM basket GROUP BY part),
    capped AS MATERIALIZED (
      SELECT b.cust, b.part FROM basket b JOIN pf USING (part)
      WHERE pf.df <= {COPURCHASE_MAX_DF}
    ),
    e AS MATERIALIZED (
      SELECT a.cust AS ca, b.cust AS cb
      FROM capped a JOIN capped b ON a.part = b.part AND a.cust < b.cust
      GROUP BY 1, 2 HAVING count(*) >= {COPURCHASE_MIN_COMMON}
    ),
    und AS MATERIALIZED (
      SELECT ca AS n, cb AS m FROM e UNION ALL SELECT cb, ca FROM e
    ),
    verts AS MATERIALIZED (SELECT DISTINCT n AS node FROM und),
    nv AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM verts),
    d0 AS MATERIALIZED (
      SELECT node AS l, node FROM verts
      ORDER BY node LIMIT {HARMONIC_LANDMARKS}
    ),
    d1 AS MATERIALIZED (
      SELECT DISTINCT d0.l, u.m AS node
      FROM und u JOIN d0 ON u.n = d0.node
      WHERE NOT EXISTS (SELECT 1 FROM d0 x
                        WHERE x.l = d0.l AND x.node = u.m)
    ),
    d2 AS MATERIALIZED (
      SELECT DISTINCT d1.l, u.m AS node
      FROM und u JOIN d1 ON u.n = d1.node
      WHERE NOT EXISTS (SELECT 1 FROM d0 x
                        WHERE x.l = d1.l AND x.node = u.m)
        AND NOT EXISTS (SELECT 1 FROM d1 x
                        WHERE x.l = d1.l AND x.node = u.m)
    ),
    d3 AS MATERIALIZED (
      SELECT DISTINCT d2.l, u.m AS node
      FROM und u JOIN d2 ON u.n = d2.node
      WHERE NOT EXISTS (SELECT 1 FROM d0 x
                        WHERE x.l = d2.l AND x.node = u.m)
        AND NOT EXISTS (SELECT 1 FROM d1 x
                        WHERE x.l = d2.l AND x.node = u.m)
        AND NOT EXISTS (SELECT 1 FROM d2 x
                        WHERE x.l = d2.l AND x.node = u.m)
    ),
    reach AS (
      SELECT l, node, 1 AS dist FROM d1
      UNION ALL SELECT l, node, 2 FROM d2
      UNION ALL SELECT l, node, 3 FROM d3
    ),
    h AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_landmarks_reached,
             sum(1.0 / dist) AS hsum
      FROM reach GROUP BY node
    )
    SELECT h.node, h.n_landmarks_reached,
           round((nv.nn - 1.0) / {HARMONIC_LANDMARKS} * h.hsum, 6)
             AS harmonic_est
    FROM h, nv
    ORDER BY round((nv.nn - 1.0) / {HARMONIC_LANDMARKS} * h.hsum, 6) DESC,
             h.node
    LIMIT 15
    """,
)
def q_landmark_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark (pivot) harmonic centrality (Eppstein & Wang 2004's
    pivot estimator applied to Boldi & Vigna 2014's harmonic
    centrality): BFS to depth 3 from L={HARMONIC_LANDMARKS}
    deterministic landmarks (smallest node ids) of the co-purchase
    graph, then ĥ(v) = (N−1)/L · Σ_l 1/d(l,v) — the top-15 most
    central customers. THE 100 TB centrality recipe: exact
    all-pairs harmonic is O(N·E) BFS rounds, while the pivot
    estimator is L multi-source BFS frontiers carried in ONE frame
    keyed by (landmark, node), so adding landmarks widens rows, never
    adds passes (accuracy ∝ 1/√L by Hoeffding, per Eppstein-Wang).

    The multi-source frontier is :func:`bfs_levels` with the landmark
    column ``l`` in the seed frame, so the visited-set subtraction
    anti-joins on (landmark, node).
    """
    e = copurchase_pairs(
        part_posting_lists(spark, sf_dir), COPURCHASE_MIN_COMMON
    ).select("cust_a", "cust_b")
    und = undirected(e).transform(eager_checkpoint)
    verts = und.select(F.col("n").alias("node")).distinct()
    nv = verts.agg(F.count(F.lit(1)).alias("nn"))
    seeds = (
        verts.orderBy("node")
        .limit(HARMONIC_LANDMARKS)
        .select(F.col("node").alias("l"), "node")
    )
    levels = bfs_levels(und, seeds)
    reach = None
    for dist, lv in enumerate(levels[1:], start=1):
        tagged = lv.select("l", "node", F.lit(dist).alias("dist"))
        reach = tagged if reach is None else reach.unionByName(tagged)
    h = reach.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_landmarks_reached"),
        F.sum(1.0 / F.col("dist")).alias("hsum"),
    )
    est = F.round(
        (F.col("nn") - 1.0) / HARMONIC_LANDMARKS * F.col("hsum"), 6
    )
    return (
        h.crossJoin(F.broadcast(nv))
        .select(
            "node",
            F.col("n_landmarks_reached").cast("long").alias(
                "n_landmarks_reached"
            ),
            est.alias("harmonic_est"),
        )
        .orderBy(F.desc("harmonic_est"), "node")
        .limit(15)
    )


# --------------------------------------------------------------------------
# Link-prediction panel: resource allocation / preferential attachment /
# Salton cosine on the co-purchase candidate pairs
# --------------------------------------------------------------------------
LINKPRED_TOP_K = 15


@query(
    "q_link_prediction_panel",
    oracle=f"""
    WITH basket AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    pf AS (SELECT part, count(*) AS df FROM basket GROUP BY part),
    capped AS (SELECT b.cust, b.part, pf.df FROM basket b JOIN pf USING (part)
               WHERE pf.df BETWEEN 2 AND {COPURCHASE_MAX_DF}),
    deg AS (SELECT cust, count(*) AS d FROM capped GROUP BY cust),
    pairs AS (
      SELECT a.cust AS cust_a, b.cust AS cust_b,
             CAST(count(*) AS BIGINT) AS common_parts,
             sum(1.0 / a.df) AS ra
      FROM capped a JOIN capped b ON a.part = b.part AND a.cust < b.cust
      GROUP BY 1, 2 HAVING count(*) >= {COPURCHASE_MIN_COMMON}
    ),
    scored AS (
      SELECT p.cust_a, p.cust_b, p.common_parts,
             round(p.ra, 6) AS ra_index,
             CAST(da.d * db.d AS BIGINT) AS pref_attach,
             round(p.common_parts / sqrt(CAST(da.d AS DOUBLE) * db.d), 6)
               AS salton_cosine
      FROM pairs p JOIN deg da ON da.cust = p.cust_a
                   JOIN deg db ON db.cust = p.cust_b
    )
    SELECT * FROM scored
    ORDER BY ra_index DESC, cust_a, cust_b LIMIT {LINKPRED_TOP_K}
    """,
)
def q_link_prediction_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction index panel (Zhou, Lü & Zhang 2009) on the
    co-purchase candidate pairs: resource allocation Σ 1/df (the
    Adamic-Adar variant that discounts popular neighbors HARDER —
    1/df vs 1/ln df — and won the authors' benchmark), preferential
    attachment d_a·d_b (the null model: hubs link to hubs no matter
    what they share), and the Salton cosine common/√(d_a·d_b)
    (degree-normalized overlap). Publishing RA next to its null PA is
    the point: a pair can top RA merely by being two hubs, and the
    panel shows it. Top-{LINKPRED_TOP_K} by RA, deterministic
    tie-break.

    Scale: the identical posting-list kernel as ``q_adamic_adar``
    (DF cap bounds the d² fan-out); degrees are one groupBy over the
    capped basket joined back at PAIR level (already pruned to the
    support floor), and the top-k ranks the pruned pair table only.
    """
    pl = part_posting_lists(spark, sf_dir).filter(F.size("custs") >= 2)
    capped = pl.select(
        F.explode("custs").alias("cust"), "part", F.size("custs").alias("df")
    )
    deg = capped.groupBy("cust").agg(F.count(F.lit(1)).alias("d"))
    pairs = (
        pl.select(
            F.explode("custs").alias("cust_a"),
            "custs",
            (1.0 / F.size("custs")).alias("ra_wt"),
        )
        .select("cust_a", F.explode("custs").alias("cust_b"), "ra_wt")
        .filter(F.col("cust_a") < F.col("cust_b"))
        .groupBy("cust_a", "cust_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_parts"),
            F.sum("ra_wt").alias("ra"),
        )
        .filter(F.col("common_parts") >= COPURCHASE_MIN_COMMON)
    )
    da = deg.select(F.col("cust").alias("cust_a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("cust").alias("cust_b"), F.col("d").alias("d_b"))
    scored = (
        pairs.join(da, "cust_a")
        .join(db, "cust_b")
        .select(
            "cust_a",
            "cust_b",
            "common_parts",
            F.round("ra", 6).alias("ra_index"),
            (F.col("d_a") * F.col("d_b")).cast("long").alias("pref_attach"),
            F.round(
                F.col("common_parts")
                / F.sqrt(F.col("d_a").cast("double") * F.col("d_b")),
                6,
            ).alias("salton_cosine"),
        )
    )
    scored = bounded_window_input(scored, label="q_linkpred pruned pairs")
    return (
        scored.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("ra_index"), "cust_a", "cust_b")
            ),
        )
        .filter(F.col("rk") <= LINKPRED_TOP_K)
        .drop("rk")
        .orderBy(F.desc("ra_index"), "cust_a", "cust_b")
    )


# --------------------------------------------------------------------------
# Rich-club coefficient over the purchase graph
# --------------------------------------------------------------------------
RICH_CLUB_KS = (4, 8, 16, 32)


@query(
    "q_rich_club",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      UNION
      SELECT DISTINCT l.l_suppkey + 1000000000 AS src, o.o_custkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY 1),
    ks AS (SELECT unnest([{", ".join(str(k) for k in RICH_CLUB_KS)}]) AS k),
    club AS (
      SELECT ks.k, CAST(count(*) AS BIGINT) AS n_club
      FROM ks JOIN deg ON deg.d > ks.k GROUP BY ks.k
    ),
    within AS (
      SELECT ks.k, CAST(count(*) AS BIGINT) AS directed_edges
      FROM ks, edges e
        JOIN deg da ON da.node = e.src
        JOIN deg db ON db.node = e.dst
      WHERE da.d > ks.k AND db.d > ks.k
      GROUP BY ks.k
    )
    SELECT club.k,
           club.n_club,
           CAST(coalesce(within.directed_edges, 0) // 2 AS BIGINT)
             AS edges_within,
           round(coalesce(within.directed_edges, 0) * 1.0
                 / (club.n_club * (club.n_club - 1)), 6) AS phi
    FROM club LEFT JOIN within ON club.k = within.k
    ORDER BY club.k
    """,
)
def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient (Colizza et al. 2004) of the
    customer↔supplier purchase graph: φ(k) = E_{{>k}} / C(N_{{>k}}, 2),
    the realized edge density among nodes of degree > k — rising φ(k)
    means the high-degree core is disproportionately interconnected (a
    "rich club" of big buyers and big suppliers transacting with each
    other), the mesoscale structure degree distributions
    (``q_degree_powerlaw_mle``) and assortativity
    (``q_degree_assortativity``, which is this curve's slope sign in
    one number) both summarize away. Evaluated at k ∈
    {RICH_CLUB_KS}.

    Scale: degrees are one groupBy over the shared edge list; the
    within-club edge count joins the edge list to the degree table
    twice (src and dst sides) and crosses only the 4-row k spine.
    """
    edges = purchase_graph_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    ks = spark.createDataFrame(
        [(k,) for k in RICH_CLUB_KS], ["k"]
    )
    club = (
        F.broadcast(ks)
        .join(deg, deg["d"] > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_club"))
    )
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("d_src"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("d_dst"))
    within = (
        edges.join(da, "src")
        .join(db, "dst")
        .crossJoin(F.broadcast(ks))
        .filter((F.col("d_src") > F.col("k")) & (F.col("d_dst") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("directed_edges"))
    )
    out = club.join(within, "k", "left").select(
        "k",
        "n_club",
        (F.floor(F.coalesce(F.col("directed_edges"), F.lit(0)) / 2))
        .cast("long")
        .alias("edges_within"),
        F.round(
            F.coalesce(F.col("directed_edges"), F.lit(0))
            * 1.0
            / (F.col("n_club") * (F.col("n_club") - 1)),
            6,
        ).alias("phi"),
    )
    return out.orderBy("k")
