"""query_mix: the analytics side, one client in a closed loop.

Thirteen registered queries, each timed as ``fn(spark, data_dir)`` (the
driver-side build) plus ``.count()`` (execution), with Spark's cache
cleared between queries as in ``bench.py``. Every pass runs all thirteen
in an order drawn from the seed. ``q_kcore_peel`` is left out so that no
single query dominates a pass.

The unit is a query; items are queries. The typical latency is the
geometric mean over the queries of each query's median over passes. A timed window runs whole
passes, at least ``MIN_PASSES``, until ``--seconds`` have passed. The warm-up pass collects each
result through Arrow and, after the timed window, compares it with the
query's ``oracle_sql()`` twin in DuckDB via
``tools/local_verify.table_key``. A timed query passes when its row
count equals its warm-up result's.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import datagen
from common import (
    Context,
    Outcome,
    Window,
    after_window,
    duckdb_over,
    exec_layer,
    median,
    overhead_layer,
    table_key,
)
from spans import ExecTotals

QUERIES = (
    # build-heavy: many load_table calls
    "q01_pricing_summary",
    "q05_regional_revenue",
    "q09_product_profit",
    "q_stream_static_join",
    # streaming-shaped
    "q_window_tumbling",
    "q_session_window",
    # ingest parity
    "q_decode_json_payload",
    "q_dlq_split",
    # kernel-heavy
    "q_minhash_lsh_neardup",
    "q_cosine_topk",
    "q_mutual_knn",
    "q_embedding_neardup",
    "q_bm25_search",
)


# Q05's oracle divides an exact integer sum by the DOUBLE 10000.0 and then
# rounds to cents: at a half-cent tie DuckDB rounds the binary quotient
# down where Spark rounds the decimal value up. The check evaluates the
# same SQL with the quotient taken in DECIMAL, which is exact. If the
# oracle text changes, the rewrite no longer applies and the registered
# oracle is used as it stands.
_Q05_REVENUE = (
    "round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * "
    "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))) / 10000.0, 2)"
)
_Q05_REVENUE_EXACT = (
    "CAST(round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * "
    "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS DECIMAL(38, 0)) "
    "* 0.0001, 2) AS DOUBLE)"
)


def reference_sql(name: str, oracle: str) -> str:
    if name == "q05_regional_revenue":
        return oracle.replace(_Q05_REVENUE, _Q05_REVENUE_EXACT)
    return oracle


# a timed window holds at least this many whole passes: with one sample
# per query the per-query figures moved too much from run to run
MIN_PASSES = 2


def _sizes(ctx: Context) -> datagen.Sizes:
    if ctx.tiny:
        return datagen.Sizes(tpch=0.01, events=1_000, documents=200, embeddings=200)
    return datagen.Sizes(tpch=0.1, events=10_000, documents=1_000, embeddings=600)


def _typical_ms(recs: list[dict], field: str) -> float:
    """Geometric mean over the queries of each query's median over passes.
    The median of 13 different queries would jump between neighbours that
    lie 20 % apart; every query weighs the same however often it ran."""
    return statistics.geometric_mean(
        median(r[field] for r in recs if r["query"] == q) for q in QUERIES
    )


def run(ctx: Context) -> Outcome:
    import __spark_entry__ as entry

    spark = ctx.spark
    data_dir = os.path.join(ctx.root, "data")
    with ctx.phase("prepare"):
        datagen.generate(data_dir, ctx.seed, _sizes(ctx))
    registry, oracles = entry.queries(), entry.oracle_sql()
    order_rng = ctx.rng("order")

    def shuffled() -> list[str]:
        names = list(QUERIES)
        order_rng.shuffle(names)
        return names

    out = Outcome()
    warm: dict[str, object] = {}
    with ctx.phase("warm-up"):
        for name in shuffled():
            try:
                t0 = time.perf_counter()
                warm[name] = registry[name](spark, data_dir).toArrow()
                print(f"perfbench: warm-up {name} {time.perf_counter() - t0:.2f}s", file=sys.stderr)
            except Exception as exc:  # noqa: BLE001 — counted as a failed query
                out.fail(1, f"warm-up {name}: {type(exc).__name__}: {str(exc)[:300]}")
            spark.catalog.clearCache()
    out.attempted += len(QUERIES)

    def timed_query(name: str, rec: dict) -> None:
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            n = registry[name](spark, data_dir).count()
        except Exception as exc:  # noqa: BLE001 — counted as a failed query
            out.fail(1, f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return
        finally:
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
            spark.catalog.clearCache()
        if name in warm and n != warm[name].num_rows:
            out.fail(1, f"{name}: {n} rows, warm-up returned {warm[name].num_rows}")

    w, done = Window(ctx.seconds), []
    with ctx.phase("timed"):
        while len(done) < MIN_PASSES * len(QUERIES) or w.more():
            for name in shuffled():
                rec = {"query": name}
                timed_query(name, rec)
                done.append(rec)
    out.wall_s = time.perf_counter() - w.t0
    out.items = len(done)
    out.latency_ms = _typical_ms(done, "ms")
    after_window(ctx, out)

    if ctx.trace:
        ctx.tracer.enabled = True
        with ctx.phase("traced"):
            out.layer.update(_traced(ctx, registry, data_dir, shuffled, warm, out))
        ctx.tracer.enabled = False

    with ctx.phase("check"):
        key = table_key()
        con = duckdb_over(data_dir, list(datagen.ALL_TABLES))
        for name, got in warm.items():
            want = con.sql(reference_sql(name, oracles[name])).arrow()
            if ctx.wrong_expectation:
                want = want.slice(1)
            if key(got) != key(want):
                out.fail(1, f"warm-up {name}: {got.num_rows} rows differ from its oracle ({want.num_rows} rows)")
        con.close()
    return out


def _traced(ctx: Context, registry, data_dir: str, shuffled, warm, out: Outcome) -> dict:
    """Whole traced passes for at least ``seconds``: per query, the
    build (``operators``), Catalyst's phases on the built plan, and the
    count (Spark execution), each with the jobs it launched."""
    spark, probe, tracer = ctx.spark, ctx.probe, ctx.tracer
    recs, w = [], Window(ctx.seconds)
    while not recs or w.more():
        for name in shuffled():
            rec, out.attempted = {"query": name}, out.attempted + 1
            with tracer.span("query", query=name):
                t0 = time.perf_counter()
                with tracer.span("operators.build"):
                    j0 = probe.job_mark()
                    df = registry[name](spark, data_dir)
                    j1 = probe.job_mark()
                t1 = time.perf_counter()
                with tracer.span("catalyst.plan"):
                    rec["catalyst"] = probe.catalyst_ms(df)
                t2 = time.perf_counter()
                with tracer.span("exec.count"):
                    n = df.count()
                    j2 = probe.job_mark()
                t3 = time.perf_counter()
            spark.catalog.clearCache()
            if name in warm and n != warm[name].num_rows:
                out.fail(1, f"traced {name}: {n} rows, warm-up returned {warm[name].num_rows}")
            rec.update(
                build_ms=(t1 - t0) * 1000.0,
                exec_ms=(t3 - t2) * 1000.0,
                total_ms=(t3 - t0) * 1000.0,
                build_jobs=j1 - j0,
                build=probe.exec_totals(j0, j1),
                exec=probe.exec_totals(j1, j2),
            )
            recs.append(rec)

    passes = len(recs) / len(QUERIES)
    totals = ExecTotals()
    for r in recs:
        totals.add(r["build"])
        totals.add(r["exec"])
    layer = {
        "operators.build_ms": (sum(r["build_ms"] for r in recs) / passes, "ms"),
        "operators.build_jobs": (sum(r["build_jobs"] for r in recs) / passes, "count"),
        **{
            f"catalyst.{phase}_ms": (sum(r["catalyst"][phase] for r in recs) / passes, "ms")
            for phase in ("analysis", "optimization", "planning")
        },
        **exec_layer(totals, len(recs)),
        **overhead_layer(out.latency_ms, _typical_ms(recs, "total_ms")),
    }
    for name in QUERIES:
        mine = [r for r in recs if r["query"] == name]
        layer[f"build_ms.{name}"] = (median(r["build_ms"] for r in mine), "ms")
        layer[f"exec_ms.{name}"] = (median(r["exec_ms"] for r in mine), "ms")
    return layer
