"""Event-table operators (SURVEY.md §2B streaming row): JSON extraction,
tumbling/sliding/session time windows, pivot, stream-static join shape.

These run the *same logical operators* the streaming layer uses
(``streaming/windows.py``) in batch mode, which is what makes them
oracle-checkable: Spark's ``window()`` / ``session_window()`` work
identically over a static DataFrame, and the DuckDB oracle recomputes
the window assignment arithmetically (epoch-aligned buckets,
gaps-and-islands sessions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mi_inbound_pulsar_spark.operators import query
from mi_inbound_pulsar_spark.plans.ranking import bounded_window_input
from mi_inbound_pulsar_spark.sources.tables import load_table
from ..plans.iterate import eager_checkpoint

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "q_json_extract",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')            AS k_str,
           CAST(json_extract(props, '$.k') AS INTEGER)  AS k_int
    FROM events
    ORDER BY event_id
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events.props string column.

    ``get_json_object`` (string out) + ``from_json`` (typed out) — the
    two schema-on-read paths; same dispatch the ingestion layer's T1
    decode uses for content-type ``application/json``
    (reference: PulsarMessageConsumer.java:518-526).
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            "event_id",
            F.get_json_object("props", "$.k").alias("k_str"),
            F.from_json("props", "k INT").getField("k").alias("k_int"),
        )
        .orderBy("event_id")
    )


@query(
    "q_window_tumbling",
    oracle="""
    SELECT TIMESTAMP '1970-01-01 00:00:00'
             + to_seconds(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)) AS w_start,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS total
    FROM events
    GROUP BY 1, 2
    ORDER BY w_start, event_type
    """,
)
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window aggregation (batch form of the streaming op).

    Spark's ``window()`` aligns buckets to the Unix epoch; the oracle
    reproduces that with epoch arithmetic. Scale: tumbling windows are
    a plain groupBy on (bucket, type) — partial aggregation applies,
    state is bounded by watermark in the streaming form.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "total")
        .orderBy("w_start", "event_type")
    )


@query(
    "q_window_sliding",
    oracle="""
    WITH shifted AS (
      SELECT TIMESTAMP '1970-01-01 00:00:00'
               + to_seconds(CAST(floor(epoch(ts) / 1800) * 1800 - k.off AS BIGINT)) AS w_start,
             value
      FROM events CROSS JOIN (VALUES (0), (1800)) AS k(off)
    )
    SELECT w_start, count(*) AS n, round(sum(value), 2) AS total_value
    FROM shifted
    GROUP BY 1
    ORDER BY w_start
    """,
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes.

    Each event lands in length/slide = 2 windows; the oracle assigns
    both via a cross join with the two slide offsets. Scale: the 2×
    row amplification happens map-side (Expand node), before partial
    aggregation — no extra shuffle versus tumbling.

    The aggregate is round(sum, 2): values carry 2 decimals, so the
    true sum is a 2-decimal number and the rounded double sum is
    engine-order-independent (an avg rounded at 4 decimals is not —
    it can straddle a rounding boundary between Spark's partial-agg
    order and DuckDB's sequential order).
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("w_start"), "n", "total_value")
        .orderBy("w_start")
    )


@query(
    "q_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts)                        AS session_start,
           max(ts) + INTERVAL 30 MINUTE   AS session_end,
           count(*)                       AS n_events,
           round(sum(value), 2)           AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap.

    Spark side uses the native ``session_window`` operator (the same
    one the streaming layer uses with a watermark); the oracle derives
    identical sessions with the gaps-and-islands idiom. Spark defines
    session_end = last_event + gap, mirrored in the oracle. The gap
    test is ``>=``: Spark merges per-event windows [ts, ts+gap) only
    when they strictly overlap, so a gap of exactly 30:00.000000
    starts a NEW session — the oracle must not keep it open.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "q_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into per-type count columns.

    The pivot value list is explicit — with an inferred list Spark
    would run an extra distinct job and the output schema would depend
    on the data (not allowed for a stable schema at scale).
    """
    e = load_table(spark, sf_dir, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
        .orderBy("user_id")
    )
    return out


@query(
    "q_pivot_inferred",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_pivot_inferred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an *inferred* value list (`.pivot(col)` without
    values): Spark runs an extra distinct job first, then sorts the
    values to fix column order. Correct but two jobs and a
    data-dependent schema — `q_pivot` (explicit list) is the
    at-scale form; this registers the inferred surface too.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type")
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
        .orderBy("user_id")
    )


@query(
    "q_stream_static_join",
    oracle="""
    SELECT c_mktsegment, event_type, count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    ORDER BY c_mktsegment, event_type
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (batch form).

    Scale: the static dimension is broadcast, so in streaming each
    micro-batch joins map-side with zero shuffle — the canonical
    enrichment pattern for an ingest pipeline.
    """
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("c_mktsegment", "event_type")
    )


@query(
    "q_approx_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           true AS within_5pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per event_type.

    HLL estimates are implementation-specific (Spark's HLL++ ≠
    DuckDB's), so the raw estimate can't be hash-compared. Instead the
    query emits a *bounded* oracle form: the exact distinct count plus
    a boolean asserting the sketch landed within 5% of it — both
    deterministic, so the driver can hash-check the tolerance claim.
    Scale: HLL sketch is O(1) memory per group vs O(n) for exact
    distinct — this is the 100 TB cardinality operator (the exact twin
    here exists only to make the sketch verifiable).
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


@query(
    "q_zscore_per_group",
    oracle="""
    SELECT event_id, user_id,
           round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 6) AS z
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    ORDER BY event_id
    """,
)
def q_zscore_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score normalization — the feature-standardization
    pattern of a training pipeline.

    Registered form: pure window functions (one hash shuffle, JVM
    whole-stage codegen, streams through groups of any size) — the
    plan a user should copy for a plain z-score. The grouped-map
    ``applyInPandas`` twin (:func:`zscore_per_group_pandas`) is the
    surface you swap in when the per-group logic outgrows SQL (sklearn
    transforms, per-entity model scoring); it is equivalence-tested
    against this form but NOT the canonical plan — one group must fit
    in memory there, and each group pays an Arrow round-trip.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    w = Window.partitionBy("user_id")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return e.select("event_id", "user_id", F.round(z, 6).alias("z")).orderBy("event_id")


def zscore_per_group_pandas(e: DataFrame) -> DataFrame:
    """Grouped-map twin of :func:`q_zscore_per_group` — the
    group→Arrow-batch→pandas extension surface (see its docstring for
    when to prefer which). Skew note: a whole group materializes in one
    worker's memory — for 100 TB hot keys, pre-aggregate or salt."""
    import pandas as pd

    def standardize(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf["value"].std(ddof=1)
        m = pdf["value"].mean()
        z = (pdf["value"] - m) / s
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "z": z.round(6)}
        )

    return e.select("event_id", "user_id", "value").groupBy("user_id").applyInPandas(
        standardize, schema="event_id long, user_id long, z double"
    )


@query(
    "q_variant_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k,
           CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_mod,
           CASE WHEN json_extract(props, '$.missing') IS NULL THEN NULL
                ELSE CAST(json_extract(props, '$.missing') AS INTEGER) END AS absent
    FROM events
    ORDER BY event_id
    """,
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4): ``parse_json`` once,
    then typed ``try_variant_get`` path extraction.

    Versus ``get_json_object`` (re-parses the JSON string per
    extraction), VARIANT parses once into a binary-encoded tree —
    the schema-on-read path a 100 TB event pipeline should use when
    the props shape varies; missing paths yield NULL, not errors.
    """
    e = load_table(spark, sf_dir, "events")
    v = e.select("event_id", F.parse_json("props").alias("v"))
    k = F.try_variant_get("v", "$.k", "int")
    return (
        v.select(
            "event_id",
            k.alias("k"),
            (k % 10).alias("k_mod"),
            F.try_variant_get("v", "$.missing", "int").alias("absent"),
        )
        .orderBy("event_id")
    )


@query(
    "q_sessionize_batch",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tagged AS (
      SELECT user_id, ts, event_id,
             sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM ordered
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM tagged
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in batch: a new session starts wherever
    the per-user inter-event gap exceeds 30 minutes; session ids are
    the running count of such boundaries — lag + cumulative sum, the
    classic two-window formulation. Complements the *streaming*
    ``session_window`` operator (same semantics, stateful merge) with
    the batch/backfill form an analyst runs over history.

    Scale: both windows share one (user_id) partitioning — Catalyst
    plans a single Exchange; the ordering key (ts, event_id) is total,
    so results are deterministic under any parallelism.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Gap test runs on unix_micros, not floor-second casts: event
    # timestamps carry microsecond precision, and a (1800 s, 1801 s)
    # gap whose floor-second diff is exactly 1800 must still open a
    # new session in BOTH engines (oracle compares epoch_us too).
    gap_new = (
        F.when(
            F.lag("ts").over(wo).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wo)) > 1_800_000_000),
            1,
        ).otherwise(0)
    )
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(gap_new).over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias(
            "session_id"
        ),
    )
    return (
        tagged.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "q_ewma_smoothing",
    oracle="""
    WITH s AS (
      SELECT user_id,
             list(value ORDER BY ts, event_id) AS vals,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           round(vals[-1], 6) AS last_value,
           round(list_reduce(vals, (acc, x) -> 0.2 * x + 0.8 * acc), 6) AS ewma_value
    FROM s ORDER BY user_id
    """,
)
def q_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key exponentially-weighted moving average (α=0.2), batch
    form: collect the per-key series in (ts, event_id) order and fold
    it with the ``aggregate`` higher-order function — seed = first
    value, then ewma = α·x + (1−α)·ewma. The identical left fold runs
    in DuckDB as ``list_reduce``, so the float math is
    order-deterministic and engine-portable (same IEEE op sequence).

    Scale note: the batch fold materializes each key's series in one
    task — inherent to the sequential recurrence; for unbounded
    history a streaming form would carry the accumulator (one double
    per key, e.g. in ``applyInPandasWithState``) instead of the series.
    """
    e = load_table(spark, sf_dir, "events")
    seq = F.array_sort(
        F.collect_list(
            F.struct(
                F.unix_micros("ts").alias("us"),
                F.col("event_id").alias("eid"),
                F.col("value").alias("v"),
            )
        )
    )
    per_user = e.groupBy("user_id").agg(
        seq.alias("seq"), F.count(F.lit(1)).alias("n_events")
    )
    return (
        per_user.withColumn("vals", F.expr("transform(seq, s -> s.v)"))
        .select(
            "user_id",
            "n_events",
            F.round(F.element_at("vals", -1), 6).alias("last_value"),
            F.round(
                F.expr(
                    "aggregate(slice(vals, 2, size(vals) - 1), element_at(vals, 1),"
                    " (acc, x) -> 0.2 * x + 0.8 * acc)"
                ),
                6,
            ).alias("ewma_value"),
        )
        .orderBy("user_id")
    )


WM_PARTITIONS = 8
WM_JITTER_US = 3_600_000_000  # 0..1 h simulated transport delay


def _wm_sqls():
    from mi_inbound_pulsar_spark.operators.auditstats import _hexval_sql

    part = (
        _hexval_sql("md5(concat('wmpart:', CAST(user_id AS STRING)))", 2)
        + f" % {WM_PARTITIONS}"
    )
    # 8 hex chars: term multipliers reach 16^7, so the helper emits
    # CAST(... AS BIGINT) multipliers directly (wide=True) — Spark's
    # ANSI INT arithmetic would overflow, DuckDB accepts the same CAST
    # (round-10 ADVICE: no post-hoc regex rewriting of the helper's
    # SQL). The `% 3_600_000_000` jitter is ~20% biased toward small
    # delays (16^8 is not a multiple of the modulus) — acceptable for
    # SYNTHETIC transport jitter: the calibration only needs out-of-
    # order arrivals to exist, not a uniform delay distribution.
    jitter = (
        _hexval_sql("md5(concat('wmjit:', CAST(event_id AS STRING)))", 8, wide=True)
        + f" % {WM_JITTER_US}"
    )
    return part, jitter


_WM_PART_SQL, _WM_JITTER_SQL = _wm_sqls()


@query(
    "q_watermark_calibration",
    oracle=f"""
    WITH arr AS (
      SELECT {_WM_PART_SQL} AS part_id,
             event_id,
             epoch_us(ts) AS ev_us,
             epoch_us(ts) + {_WM_JITTER_SQL} AS arr_us
      FROM events
    ),
    seq AS (
      SELECT ev_us - max(ev_us) OVER (
               PARTITION BY part_id ORDER BY arr_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS lead_us
      FROM arr
    ),
    lag_us AS (
      SELECT CASE WHEN lead_us < 0 THEN -lead_us ELSE 0 END AS disorder_us,
             (lead_us < 0) AS is_late
      FROM seq WHERE lead_us IS NOT NULL
    )
    SELECT count(*) AS n_arrivals,
           CAST(sum(CASE WHEN is_late THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
           round(avg(CASE WHEN is_late THEN 1.0 ELSE 0.0 END), 6) AS late_fraction,
           round(quantile_cont(disorder_us, 0.95), -3) AS p95_disorder_us,
           round(quantile_cont(disorder_us, 0.99), -3) AS p99_disorder_us,
           max(disorder_us) AS max_disorder_us
    FROM lag_us
    """,
)
def q_watermark_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit that *calibrates the watermark*: events
    are routed to 8 simulated topic partitions by key hash (exactly
    Pulsar's key_hash % N routing) and arrive with a deterministic
    md5-derived transport jitter of 0..1 h; per partition, each
    arrival's event time is compared with the running max event time
    over ARRIVAL order. p99 of that disorder IS the ``withWatermark``
    delay that would keep ≤1% of late rows from being dropped — the
    streaming knob as a measured quantity instead of a guess.

    Why the simulated arrival clock (round-10 fix): the synthetic feed
    records no separate arrival time and its event_id is monotone with
    ts, so the previous arrival proxy made every disorder metric
    IDENTICALLY ZERO at every scale factor — oracle-green but
    degenerate, the q_max_drawdown lesson. The md5 jitter is evaluated
    bit-identically by Spark SQL and DuckDB (the portable-sketch hash
    idiom), so the whole calibration stays value-checked end to end.

    Plan: one window per (partition, arrival-order) — the same
    single-Exchange shape as the sessionizer — then one global
    aggregate. Exact integer-µs disorder; exact interpolated
    percentiles (``percentile`` ≙ DuckDB ``quantile_cont``). At 100 TB
    the window partitions by the topic's real partition count and the
    final aggregate is a single small reduce.
    """
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    arr = e.select(
        F.expr(_WM_PART_SQL).alias("part_id"),
        "event_id",
        us.alias("ev_us"),
        (us + F.expr(_WM_JITTER_SQL)).alias("arr_us"),
    )
    w = (
        Window.partitionBy("part_id")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = arr.select(
        (F.col("ev_us") - F.max("ev_us").over(w)).alias("lead_us"),
    ).filter(F.col("lead_us").isNotNull())
    lagged = seq.select(
        F.when(F.col("lead_us") < 0, -F.col("lead_us")).otherwise(F.lit(0)).alias("disorder_us"),
        (F.col("lead_us") < 0).alias("is_late"),
    )
    return lagged.agg(
        F.count(F.lit(1)).alias("n_arrivals"),
        F.sum(F.col("is_late").cast("long")).alias("n_out_of_order"),
        F.round(F.avg(F.col("is_late").cast("double")), 6).alias("late_fraction"),
        # ms-precision rounding: interpolated percentiles of 1e9-scale
        # integer us sit at the double-precision edge where 6dp rounding
        # diverges across engines by 1e-6
        F.round(F.percentile("disorder_us", F.lit(0.95)), -3).alias("p95_disorder_us"),
        F.round(F.percentile("disorder_us", F.lit(0.99)), -3).alias("p99_disorder_us"),
        F.max("disorder_us").alias("max_disorder_us"),
    )


@query(
    "q_session_paths",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) FILTER (rn <= 5) AS path
      FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                                     ORDER BY ts, event_id) AS rn
        FROM sessions
      )
      GROUP BY user_id, session_id
    )
    SELECT path, count(*) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 10
    """,
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths: sessionize (30-minute gap), take each
    session's first five event types in order, count the most common
    paths — the funnel-discovery pass that tells you which funnels to
    define.

    Plan: the gaps-and-islands sessionizer (one per-user window), then
    a per-session ordered fold — collect_list of (ts, event_id, type)
    structs sorted in-array (deterministic, unlike bare collect_list
    ordering), sliced to 5, joined with '>'. Shuffles: one per-user
    Exchange shared by both windows + one path groupBy bounded by the
    distinct-path space.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            lag_ts.isNull() | (F.unix_micros("ts") - F.unix_micros(lag_ts) > 1_800_000_000), 1
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    paths = (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.slice(F.transform(F.col("evs"), lambda s: s.event_type), 1, 5), ">"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


@query(
    "q_last_touch_attribution",
    oracle="""
    WITH seq AS (
      SELECT user_id, epoch_us(ts) AS us, event_id, event_type, value
      FROM events
    ),
    attributed AS (
      SELECT event_id, value,
             last_value(
               CASE WHEN event_type IN ('click', 'view') THEN event_type END
               IGNORE NULLS
             ) OVER (
               PARTITION BY user_id ORDER BY us
               RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING
             ) AS touch
      FROM seq
      QUALIFY event_type = 'purchase'
    )
    SELECT COALESCE(touch, 'direct') AS attribution,
           count(*) AS n_purchases,
           round(sum(value), 2) AS attributed_value
    FROM attributed
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the most
    recent click or view by the same user within a 7-day lookback, else
    'direct'. The classic attribution rollup, done set-wise — no
    per-user loop, no self-join explosion.

    Plan: ONE event-time RANGE window per user (epoch-µs ordering,
    7-day frame, current row excluded) with last(ignoreNulls) — the
    same single-Exchange shape as the sessionizer — then a three-row
    aggregate. The RANGE frame is what bounds the lookback *in the
    plan itself* rather than in a post-filter.
    """
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    seq = e.select(
        "user_id", us.alias("us"), "event_id", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-604800000000, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin("click", "view"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    attributed = seq.withColumn("touch", touch).filter(F.col("event_type") == "purchase")
    return (
        attributed.groupBy(F.coalesce("touch", F.lit("direct")).alias("attribution"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
        .orderBy("attribution")
    )


@query(
    "q_seasonal_baseline",
    oracle="""
    WITH base AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hod, value
      FROM events
    ),
    seasonal AS (
      SELECT event_type, hod,
             avg(value) AS mu,
             stddev_samp(value) AS sd,
             count(*) AS n
      FROM base GROUP BY event_type, hod
    )
    SELECT b.event_type,
           CAST(b.hod AS BIGINT) AS hod,
           round(s.mu, 6) AS baseline,
           CAST(s.n AS BIGINT) AS n_obs,
           CAST(sum(CASE WHEN abs(b.value - s.mu) > 3 * s.sd THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anomalies
    FROM base b JOIN seasonal s USING (event_type, hod)
    GROUP BY b.event_type, b.hod, s.mu, s.sd, s.n
    ORDER BY event_type, hod
    """,
)
def q_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal (hour-of-day) baseline per event type with 3-sigma
    residual anomaly counts — the de-seasonalized monitor: a traffic
    spike at 3 am is an anomaly against the 3 am baseline, not against
    the daily mean.

    Plan: one (type, hour) aggregate builds the 120-row seasonal
    profile, broadcast back onto the stream, one counting aggregate.
    The profile is inherently tiny (types × 24), so the join never
    shuffles the events side — the same broadcast-profile shape as the
    winsorized and MAD monitors.
    """
    e = load_table(spark, sf_dir, "events")
    base = e.select("event_type", F.hour("ts").alias("hod"), "value")
    seasonal = base.groupBy("event_type", "hod").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sd"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        base.join(F.broadcast(seasonal), ["event_type", "hod"])
        .groupBy("event_type", "hod", "mu", "sd", "n")
        .agg(
            F.sum(
                F.when(F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sd"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalies")
        )
        .select(
            "event_type",
            F.col("hod").cast("long").alias("hod"),
            F.round("mu", 6).alias("baseline"),
            F.col("n").alias("n_obs"),
            "n_anomalies",
        )
        .orderBy("event_type", "hod")
    )


@query(
    "q_cusum_drift",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS mu_day
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type, avg(mu_day) AS mu0 FROM daily GROUP BY event_type
    ),
    dev AS (
      SELECT d.event_type, d.day, d.mu_day - b.mu0 AS dev
      FROM daily d JOIN base b USING (event_type)
    )
    SELECT event_type, day,
           round(sum(dev) OVER (PARTITION BY event_type ORDER BY day
                                ROWS UNBOUNDED PRECEDING), 6) + 0.0 AS cusum
    FROM dev
    ORDER BY event_type, day
    """,
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift chart per event type: the running sum of each day's
    deviation from the series' own mean. A flat random walk hugs zero;
    a sustained level shift shows as a persistent ramp long before any
    single day trips a 3-sigma rule — the classic change-point monitor
    over the daily rollup.

    Plan: two aggregates shrink events → (type, day) → (type), then
    one window over the tiny daily series. The cumulative sum runs on
    the rollup (types × days rows), never on raw events.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.avg("value").alias("mu_day"))
    base = daily.groupBy("event_type").agg(F.avg("mu_day").alias("mu0"))
    dev = daily.join(F.broadcast(base), "event_type").select(
        "event_type", "day", (F.col("mu_day") - F.col("mu0")).alias("dev")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        dev.select(
            "event_type",
            "day",
            # + 0.0 folds IEEE −0.0 (a fully-cancelled running sum) to
            # +0.0 in both engines so the rounded value hashes equally
            (F.round(F.sum("dev").over(w), 6) + F.lit(0.0)).alias("cusum"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q_dau_wau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    metrics AS (
      SELECT d.day,
             (SELECT count(DISTINCT u.user_id) FROM ud u WHERE u.day = d.day) AS dau,
             (SELECT count(DISTINCT u.user_id) FROM ud u
              WHERE u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day) AS wau
      FROM days d
    )
    SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           round(dau * 1.0 / wau, 6) AS stickiness
    FROM metrics ORDER BY day
    """,
)
def q_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day: daily actives over trailing-7-day
    actives — the engagement ratio product teams track. Windowed
    COUNT(DISTINCT) isn't a frame aggregate in either engine, so the
    trailing-week distinct count is expressed as a *range join* of the
    deduped (user, day) rollup onto the day spine.

    Plan: events collapse to the (user, day) rollup first (one
    distinct, the only pass over raw events); the spine join and both
    distinct counts run on rollup-sized data — days × active-users
    rows, not events.
    """
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct().transform(eager_checkpoint)
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    wau = (
        days.alias("d")
        .join(
            ud.alias("u"),
            (F.col("u.day") >= F.date_sub(F.col("d.day"), 6))
            & (F.col("u.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


@query(
    "q_first_touch_attribution",
    oracle="""
    WITH seq AS (
      SELECT user_id, epoch_us(ts) AS us, event_id, event_type, value
      FROM events
    ),
    attributed AS (
      SELECT event_id, value,
             first_value(
               CASE WHEN event_type IN ('click', 'view') THEN event_type END
               IGNORE NULLS
             ) OVER (
               PARTITION BY user_id ORDER BY us
               RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING
             ) AS touch
      FROM seq
      QUALIFY event_type = 'purchase'
    )
    SELECT COALESCE(touch, 'direct') AS attribution,
           count(*) AS n_purchases,
           round(sum(value), 2) AS attributed_value
    FROM attributed
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution — the symmetric twin of
    ``q_last_touch_attribution``: each purchase credits the EARLIEST
    click or view inside the 7-day lookback (the channel that started
    the journey, vs the one that closed it). Same single per-user
    event-time RANGE window; only the fold direction changes
    (first vs last ignoreNulls).
    """
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    seq = e.select("user_id", us.alias("us"), "event_id", "event_type", "value")
    w = Window.partitionBy("user_id").orderBy("us").rangeBetween(-604800000000, -1)
    touch = F.first(
        F.when(F.col("event_type").isin("click", "view"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    attributed = seq.withColumn("touch", touch).filter(F.col("event_type") == "purchase")
    return (
        attributed.groupBy(F.coalesce("touch", F.lit("direct")).alias("attribution"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
        .orderBy("attribution")
    )


@query(
    "q_tumbling_ohlc",
    oracle="""
    WITH keyed AS (
      SELECT event_type, date_trunc('hour', ts) AS bar_start, value,
             printf('%020d%010d', epoch_us(ts), event_id) AS ord_key
      FROM events
    )
    SELECT event_type, bar_start,
           round(arg_min(value, ord_key), 6) AS open,
           round(max(value), 6)              AS high,
           round(min(value), 6)              AS low,
           round(arg_max(value, ord_key), 6) AS close,
           CAST(count(*) AS BIGINT)          AS n_trades
    FROM keyed
    GROUP BY event_type, bar_start
    ORDER BY event_type, bar_start
    """,
)
def q_tumbling_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close) bars per event type — the
    time-series downsampling shape shared by tick data, sensor
    telemetry, and metric rollups. Open/close are argmin/argmax over a
    TOTAL per-row ordering key (zero-padded epoch-µs ++ event_id, so
    same-microsecond rows break ties identically in both engines) —
    min_by/max_by keep one candidate per group per partition, never
    sorting the group (the window formulation would).

    Scale: one hash aggregate keyed by (type, hour) with map-side
    partial combine; the ordering key is a narrow codegen'd projection.
    The streaming twin is the same aggregate under a watermark via
    F.window — identical semantics at bar close.
    """
    e = load_table(spark, sf_dir, "events")
    ord_key = F.format_string("%020d%010d", F.unix_micros("ts"), F.col("event_id"))
    return (
        e.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bar_start"),
            "value",
            ord_key.alias("ord_key"),
        )
        .groupBy("event_type", "bar_start")
        .agg(
            F.round(F.min_by("value", "ord_key"), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", "ord_key"), 6).alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .orderBy("event_type", "bar_start")
    )


@query(
    "q_timeseries_similarity",
    oracle="""
    WITH s AS (
      SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT count(DISTINCT day) AS n FROM s),
    stats AS (
      SELECT user_id, sum(c) AS sx, sum(c*c) AS sxx FROM s GROUP BY user_id
    ),
    probe AS (SELECT min(user_id) AS pu FROM events),
    xy AS (
      SELECT b.user_id, sum(a.c * b.c) AS sxy
      FROM s a JOIN s b ON a.day = b.day
      WHERE a.user_id = (SELECT pu FROM probe)
        AND b.user_id <> (SELECT pu FROM probe)
      GROUP BY b.user_id
    )
    SELECT xy.user_id,
           round((span.n * xy.sxy - pa.sx * pb.sx) /
                 (sqrt(CAST(span.n * pa.sxx - pa.sx*pa.sx AS DOUBLE)) *
                  sqrt(CAST(span.n * pb.sxx - pb.sx*pb.sx AS DOUBLE))), 6) AS corr
    FROM xy
    JOIN stats pb ON pb.user_id = xy.user_id
    CROSS JOIN (SELECT sx, sxx FROM stats JOIN probe ON user_id = pu) pa(sx, sxx)
    CROSS JOIN span
    WHERE span.n * pa.sxx - pa.sx*pa.sx > 0
      AND span.n * pb.sxx - pb.sx*pb.sx > 0
    ORDER BY corr DESC, xy.user_id LIMIT 20
    """,
)
def q_timeseries_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search: top-20 users whose daily activity
    curve best Pearson-correlates with the probe user's (missing days
    count as zero, handled implicitly: they contribute nothing to any
    sum, and the mean-centering happens inside the closed form).

    Exactness: every correlation input (n, Σx, Σy, Σxy, Σx², Σy²) is
    an *integer* aggregate, so partial-aggregation order cannot
    perturb them; the one double expression evaluates identical IEEE
    ops on identical ints in both engines (the q_random_projection
    principle applied to correlation). Zero-variance series are
    excluded before the division.

    Scale: the probe's series (≤ days rows) broadcasts into the
    day-equi-join, so scoring the whole user base is one map-side
    join + per-user aggregate — linear in users, never user × user.
    A k-probe batch variant broadcasts k series; full all-pairs would
    bucket by correlated-day LSH instead (PAPERS.md: streaming
    time-series similarity, EDBT'19).
    """
    e = load_table(spark, sf_dir, "events")
    s = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    ).transform(eager_checkpoint)
    n_days = s.select(F.count_distinct("day")).first()[0]
    probe_u = e.select(F.min("user_id")).first()[0]
    stats = s.groupBy("user_id").agg(
        F.sum("c").alias("sx"), F.sum(F.col("c") * F.col("c")).alias("sxx")
    )
    pa = stats.filter(F.col("user_id") == probe_u).select(
        F.col("sx").alias("pa_sx"), F.col("sxx").alias("pa_sxx")
    )
    xy = (
        s.filter(F.col("user_id") != probe_u)
        .withColumnsRenamed({"user_id": "b_user", "c": "bc"})
        .join(
            F.broadcast(
                s.filter(F.col("user_id") == probe_u).select("day", F.col("c").alias("ac"))
            ),
            "day",
        )
        .groupBy("b_user")
        .agg(F.sum(F.col("ac") * F.col("bc")).alias("sxy"))
    )
    n = F.lit(n_days)
    var_a = n * F.col("pa_sxx") - F.col("pa_sx") * F.col("pa_sx")
    var_b = n * F.col("sxx") - F.col("sx") * F.col("sx")
    corr = F.round(
        (n * F.col("sxy") - F.col("pa_sx") * F.col("sx"))
        / (F.sqrt(var_a.cast("double")) * F.sqrt(var_b.cast("double"))),
        6,
    )
    return (
        xy.join(stats.withColumnsRenamed({"user_id": "b_user"}), "b_user")
        .join(F.broadcast(pa))
        .filter((var_a > 0) & (var_b > 0))
        .select(F.col("b_user").alias("user_id"), corr.alias("corr"))
        .orderBy(F.desc("corr"), "user_id")
        .limit(20)
    )


@query(
    "q_holt_linear_trend",
    oracle="""
    WITH s AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ),
    fitted AS (
      SELECT user_id, n_events,
             list_reduce(list_transform(vals, x -> [x, 0.0]),
               (acc, x) -> [0.3*x[1] + 0.7*(acc[1]+acc[2]),
                            0.2*((0.3*x[1] + 0.7*(acc[1]+acc[2])) - acc[1])
                              + 0.8*acc[2]]) AS st
      FROM s
    )
    SELECT user_id, n_events,
           round(st[1], 6) AS level,
           round(st[2], 6) AS trend,
           round(st[1] + st[2], 6) AS forecast_1
    FROM fitted ORDER BY user_id
    """,
)
def q_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing (alpha = 0.3,
    beta = 0.2) per user — the forecasting step up from
    :func:`q_ewma_smoothing`: the state is (level, trend) and the
    1-step-ahead forecast is ``level + trend``. Recurrence:
    ``l' = a*x + (1-a)*(l+t)``; ``t' = b*(l'-l) + (1-b)*t``, seeded
    ``l=x1, t=0``.

    The fold runs as the ``aggregate`` higher-order function over the
    (ts, event_id)-ordered value array with a 2-element array as the
    accumulator; DuckDB replays the *identical* IEEE op sequence with
    ``list_reduce`` (its init-free form seeds from the first element —
    mirrored by folding Spark's aggregate from element 2 with
    ``[x1, 0]`` as the init), so the oracle is hash-exact on doubles
    with no rounding games beyond the final display rounding.

    Scale: same shape as the EWMA fold — each key's series
    materializes in one task (inherent to a sequential recurrence; for
    unbounded history carry (level, trend) in streaming state
    instead, as the EWMA's streaming form would carry its one double).
    """
    e = load_table(spark, sf_dir, "events")
    seq = F.array_sort(
        F.collect_list(
            F.struct(
                F.unix_micros("ts").alias("us"),
                F.col("event_id").alias("eid"),
                F.col("value").cast("double").alias("v"),
            )
        )
    )
    per_user = e.groupBy("user_id").agg(
        seq.alias("seq"), F.count(F.lit(1)).alias("n_events")
    )
    st = F.expr(
        """
        aggregate(
          slice(transform(seq, s -> s.v), 2, size(seq) - 1),
          array(element_at(transform(seq, s -> s.v), 1), cast(0.0 as double)),
          (acc, x) -> array(
            0.3*x + 0.7*(acc[0]+acc[1]),
            0.2*((0.3*x + 0.7*(acc[0]+acc[1])) - acc[0]) + 0.8*acc[1]))
        """
    )
    return (
        per_user.withColumn("st", st)
        .select(
            "user_id",
            "n_events",
            F.round(F.element_at("st", 1), 6).alias("level"),
            F.round(F.element_at("st", 2), 6).alias("trend"),
            F.round(F.element_at("st", 1) + F.element_at("st", 2), 6).alias("forecast_1"),
        )
        .orderBy("user_id")
    )


@query(
    "q_cumulative_distinct",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT d, CAST(count(*) AS BIGINT) AS new_users FROM first_seen GROUP BY d
    ),
    spine AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
    SELECT spine.d AS day,
           CAST(coalesce(daily.new_users, 0) AS BIGINT) AS new_users,
           CAST(sum(coalesce(daily.new_users, 0)) OVER (
             ORDER BY spine.d ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cumulative_users
    FROM spine LEFT JOIN daily ON spine.d = daily.d
    ORDER BY day
    """,
)
def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count over time — the growth-curve query
    every analytics stack runs, and a classic distributed trap: a naive
    ``count(DISTINCT user) OVER (ORDER BY day)`` re-scans every prefix
    (quadratic) or drags full user sets through a global window. The
    exact two-phase form: (1) each user's FIRST day (one groupBy —
    a user contributes +1 exactly on that day), (2) daily new-user
    counts, (3) a running sum over the *days* series. The window is
    global but its input is the per-day rollup — |days| rows, the
    documented bounded-window class (same as q_period_over_period),
    not raw events.

    Scale: shuffle keys are user_id then day; the unbounded-distinct
    state collapses to one row per user. The same shape maintains
    incrementally: new data can only add first-seen rows for unseen
    users (see q_incremental_rollup's partial-merge contract).
    """
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d"))
    daily = first_seen.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    spine = e.select(F.to_date("ts").alias("d")).distinct()
    joined = (
        spine.join(daily, "d", "left")
        .select(
            F.col("d").alias("day"),
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
    )
    joined = bounded_window_input(joined, label="q_cumulative_distinct day spine")
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        joined.withColumn("cumulative_users", F.sum("new_users").over(w))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Session-gap calibration: the data-driven way to pick the 30-min timeout
# --------------------------------------------------------------------------
@query(
    "q_session_gap_calibration",
    oracle="""
    WITH gaps AS (
      SELECT epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    g AS (SELECT gap_us FROM gaps WHERE gap_us IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           round(CAST(quantile_cont(gap_us, 0.50) AS DOUBLE) / 1000000, 6)
             AS p50_gap_s,
           round(CAST(quantile_cont(gap_us, 0.90) AS DOUBLE) / 1000000, 6)
             AS p90_gap_s,
           round(CAST(quantile_cont(gap_us, 0.99) AS DOUBLE) / 1000000, 6)
             AS p99_gap_s,
           round(count(*) FILTER (WHERE gap_us > 1800 * 1000000) * 1.0
                 / count(*), 6) AS break_rate_30m,
           round(count(*) FILTER (WHERE gap_us > 900 * 1000000) * 1.0
                 / count(*), 6) AS break_rate_15m
    FROM g
    """,
)
def q_session_gap_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution per user — the calibration readout
    that justifies ``q_session_window``'s 30-minute timeout instead of
    folklore: gap percentiles (exact interpolated, in seconds) and the
    session-break rate a 15- vs 30-minute threshold would produce.
    Gaps are exact integer microseconds (epoch diff), so the only
    float is the percentile interpolation, rounded 6dp.

    Scale: the lag window is PARTITIONED by user (no global sort);
    gaps collapse into one exact-percentile aggregate — at 100 TB
    swap percentile for approx_percentile and gate with the
    equi-depth audit.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = e.select((us - F.lag(us).over(w)).alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.percentile("gap_us", F.lit(0.50)) / 1000000, 6).alias("p50_gap_s"),
        F.round(F.percentile("gap_us", F.lit(0.90)) / 1000000, 6).alias("p90_gap_s"),
        F.round(F.percentile("gap_us", F.lit(0.99)) / 1000000, 6).alias("p99_gap_s"),
        F.round(
            F.count_if(F.col("gap_us") > 1800 * 1000000) / F.count(F.lit(1)), 6
        ).alias("break_rate_30m"),
        F.round(
            F.count_if(F.col("gap_us") > 900 * 1000000) / F.count(F.lit(1)), 6
        ).alias("break_rate_15m"),
    )


# --------------------------------------------------------------------------
# STL-style seasonal-trend decomposition (Cleveland et al. 1990, one pass)
# --------------------------------------------------------------------------


@query(
    "q_stl_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, day, n,
             CASE WHEN count(*) OVER w7 = 7
                  THEN avg(n) OVER w7 END AS trend,
             (day - DATE '1970-01-01') % 7 AS dow
      FROM daily
      WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    seas AS (
      SELECT event_type, dow, avg(n - trend) AS s_raw
      FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2
    ),
    seas_c AS (
      SELECT event_type, dow,
             s_raw - avg(s_raw) OVER (PARTITION BY event_type) AS seasonal
      FROM seas
    )
    SELECT t.event_type, t.day, CAST(t.n AS BIGINT) AS n,
           round(t.trend, 6) AS trend,
           round(s.seasonal, 6) AS seasonal,
           round(t.n - t.trend - s.seasonal, 6) + 0.0 AS residual
    FROM tr t JOIN seas_c s USING (event_type, dow)
    ORDER BY t.event_type, t.day
    """,
)
def q_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass seasonal-trend decomposition of the per-type daily
    event-count series (the additive skeleton of STL, Cleveland et
    al. 1990): trend = centered 7-row moving average (NULL at the
    edges where the frame is short), seasonal = the per-day-of-week
    mean of the detrended series re-centered to sum to zero, residual
    = the remainder. Day-of-week is the portable ``epoch_days % 7``
    so both engines bucket identically. The rollup a forecasting
    pipeline runs before fitting anything: how much of the signal is
    calendar, how much is drift, how much is noise.

    Hash-exactness: the moving average is a fixed 7-row frame in a
    deterministic (day) order; the seasonal means aggregate <= ~13
    doubles — all rounded 6dp, with the ``q_cusum_drift`` +0.0
    negative-zero fold on the fully-cancelling residual.

    Scale: events collapse to the (type, day) rollup first; every
    window partitions by event_type over day-domain-bounded rows
    (never raw events), and the 7-row seasonal profile broadcasts
    back onto the rollup.
    

    Known scope: an event type whose daily series is shorter than
    the 7-day trend window yields no interior trend rows, so the
    profile joins drop it from the output entirely (both engines
    agree — the oracle mirrors the joins); emitting NULL-trend rows
    for sub-window series is a deliberate non-goal here.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w7 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "event_type",
        "day",
        "n",
        F.when(
            F.count(F.lit(1)).over(w7) == 7, F.avg("n").over(w7)
        ).alias("trend"),
        (
            F.datediff("day", F.to_date(F.lit("1970-01-01"))) % 7
        ).alias("dow"),
    )
    seas = (
        tr.filter(F.col("trend").isNotNull())
        .groupBy("event_type", "dow")
        .agg(F.avg(F.col("n") - F.col("trend")).alias("s_raw"))
    )
    w_type = Window.partitionBy("event_type")
    seas_c = seas.select(
        "event_type",
        "dow",
        (F.col("s_raw") - F.avg("s_raw").over(w_type)).alias("seasonal"),
    )
    return (
        tr.join(F.broadcast(seas_c), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "n",
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            (
                F.round(F.col("n") - F.col("trend") - F.col("seasonal"), 6)
                + F.lit(0.0)
            ).alias("residual"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# Page-Hinkley sequential drift test (Page 1954, Hinkley 1971)
# --------------------------------------------------------------------------
PH_DELTA = 0.005
PH_LAMBDA = 1.0


@query(
    "q_page_hinkley",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS mu_day
      FROM events GROUP BY 1, 2
    ),
    dev AS (
      SELECT event_type, day, mu_day,
             mu_day - avg(mu_day) OVER wc - {PH_DELTA} AS dev
      FROM daily
      WINDOW wc AS (PARTITION BY event_type ORDER BY day
                    ROWS UNBOUNDED PRECEDING)
    ),
    m AS (
      SELECT event_type, day, mu_day,
             sum(dev) OVER wc AS m
      FROM dev
      WINDOW wc AS (PARTITION BY event_type ORDER BY day
                    ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_type, day, round(mu_day, 6) AS mu_day,
           round(m - min(m) OVER wc, 6) + 0.0 AS ph,
           round(m - min(m) OVER wc, 6) > {PH_LAMBDA} AS alarm
    FROM m
    WINDOW wc AS (PARTITION BY event_type ORDER BY day
                  ROWS UNBOUNDED PRECEDING)
    ORDER BY event_type, day
    """,
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential mean-shift test per event type over the
    daily mean-value series: m_t = cumulative sum of (x_t − mean-so-
    far − delta), PH_t = m_t − min(m) so far, alarm when PH exceeds
    lambda — the one-sided sequential change detector ML monitoring
    stacks run where CUSUM (``q_cusum_drift``) needs the whole series
    to center. Three STACKED cumulative windows (expanding mean →
    cumulative deviation → running minimum) share one partition/order,
    so Spark plans a single Exchange+Sort with chained Window nodes.

    Hash-exactness: every window is a sequential left-to-right fold in
    (day) order on both engines; the alarm compares the 6dp-ROUNDED
    statistic so a knife-edge float cannot flip the boolean on one
    side only; +0.0 folds the fully-cancelled −0.0.

    Scale: all windows run on the (type, day) rollup, partitioned by
    event_type — never a global window, never raw events.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.avg("value").alias("mu_day")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dev = daily.select(
        "event_type",
        "day",
        "mu_day",
        (F.col("mu_day") - F.avg("mu_day").over(wc) - PH_DELTA).alias("dev"),
    )
    m = dev.select(
        "event_type", "day", "mu_day", F.sum("dev").over(wc).alias("m")
    )
    ph = F.round(F.col("m") - F.min("m").over(wc), 6)
    return m.select(
        "event_type",
        "day",
        F.round("mu_day", 6).alias("mu_day"),
        (ph + F.lit(0.0)).alias("ph"),
        (ph > PH_LAMBDA).alias("alarm"),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# UCB1 bandit-policy trajectory (Auer et al. 2002)
# --------------------------------------------------------------------------


@query(
    "q_ucb1_bandit",
    oracle="""
    WITH daily AS (
      SELECT event_type AS arm, CAST(ts AS DATE) AS day,
             count(*) AS n_d, sum(value) AS s_d
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT a.arm, d.day
      FROM (SELECT DISTINCT arm FROM daily) a,
           (SELECT DISTINCT day FROM daily) d
    ),
    cum AS (
      SELECT g.arm, g.day,
             sum(COALESCE(d.n_d, 0)) OVER wa AS cum_n,
             sum(COALESCE(d.s_d, 0)) OVER wa AS cum_s
      FROM grid g LEFT JOIN daily d USING (arm, day)
      WINDOW wa AS (PARTITION BY g.arm ORDER BY g.day
                    ROWS UNBOUNDED PRECEDING)
    ),
    scored AS (
      SELECT arm, day, cum_n,
             CASE WHEN cum_n > 0 THEN round(cum_s / cum_n, 6) END
               AS mean_reward,
             CASE WHEN cum_n > 0 THEN
               round(cum_s / cum_n
                     + sqrt(2 * ln(sum(cum_n) OVER (PARTITION BY day))
                            / cum_n), 6)
             END AS ucb
      FROM cum
    )
    SELECT arm, day, CAST(cum_n AS BIGINT) AS cum_n, mean_reward, ucb,
           row_number() OVER (PARTITION BY day
                              ORDER BY ucb DESC NULLS LAST, arm) = 1
             AS chosen
    FROM scored
    ORDER BY day, arm
    """,
)
def q_ucb1_bandit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 policy replay (Auer et al. 2002) over the event stream:
    treating each event_type as an arm and ``value`` as its reward,
    emit for every (day, arm) the cumulative play count, mean reward,
    and the UCB1 index mean + sqrt(2·ln N / n) computed from the
    cumulative statistics THROUGH that day (N = total plays across
    arms), plus which arm the policy would pull next. The offline
    policy-evaluation rollup an experimentation platform renders as
    its bandit dashboard.

    The (arm × day) grid is completed by a cross join of the two
    DISTINCT rollups before the cumulative windows, so an arm silent
    on a day still carries its statistics forward — identical
    gap-filling on both engines. Selection ranks the 6dp-rounded
    index (ties → arm name; never-played arms rank last, mirroring
    both engines' NULLS LAST).

    Scale: everything runs on the (arms × days) grid — both domains
    are rollup-bounded (5 × ~90 here), never raw events; the per-day
    total-N window partitions by day over |arms| rows.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type").alias("arm"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_d"), F.sum("value").alias("s_d"))
    grid = (
        daily.select("arm")
        .distinct()
        .crossJoin(daily.select("day").distinct())
    )
    wa = (
        Window.partitionBy("arm")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.join(daily, ["arm", "day"], "left").select(
        "arm",
        "day",
        F.sum(F.coalesce("n_d", F.lit(0))).over(wa).alias("cum_n"),
        F.sum(F.coalesce("s_d", F.lit(0.0))).over(wa).alias("cum_s"),
    )
    n_day = F.sum("cum_n").over(Window.partitionBy("day"))
    scored = cum.select(
        "arm",
        "day",
        "cum_n",
        F.when(
            F.col("cum_n") > 0, F.round(F.col("cum_s") / F.col("cum_n"), 6)
        ).alias("mean_reward"),
        F.when(
            F.col("cum_n") > 0,
            F.round(
                F.col("cum_s") / F.col("cum_n")
                + F.sqrt(2 * F.log(n_day) / F.col("cum_n")),
                6,
            ),
        ).alias("ucb"),
    )
    w_pick = Window.partitionBy("day").orderBy(
        F.col("ucb").desc_nulls_last(), "arm"
    )
    return scored.select(
        "arm",
        "day",
        "cum_n",
        "mean_reward",
        "ucb",
        (F.row_number().over(w_pick) == 1).alias("chosen"),
    ).orderBy("day", "arm")


# --------------------------------------------------------------------------
# Sequential pattern mining: frequent event-type trigrams per session
# --------------------------------------------------------------------------


@query(
    "q_event_trigram_mining",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    tri AS (
      SELECT user_id, session_id,
             event_type || '>' ||
             lead(event_type, 1) OVER w || '>' ||
             lead(event_type, 2) OVER w AS trigram
      FROM sessions
      WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
    )
    SELECT trigram,
           CAST(count(DISTINCT CAST(user_id AS VARCHAR) || '#'
                               || CAST(session_id AS VARCHAR)) AS BIGINT)
             AS support,
           CAST(count(*) AS BIGINT) AS occurrences
    FROM tri WHERE trigram IS NOT NULL
    GROUP BY trigram
    ORDER BY support DESC, trigram
    LIMIT 20
    """,
)
def q_event_trigram_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent sequential patterns — the contiguous-trigram special
    case of PrefixSpan-style sequence mining (Pei et al. 2001)
    restricted to within-session order: 30-minute-gap sessionization
    (the ``q_session_paths`` recipe), consecutive event-type trigrams
    via two ``lead``s, support counted in SESSIONS (the sequence-
    mining convention — one session voting once however often it
    repeats the pattern) next to raw occurrences. Top-20 by support —
    the "what do users do in what order" building block behavioral
    funnels are mined from.

    Hash-exactness: pure integer counts over exact string patterns;
    ordering is (support, trigram).

    Scale: both windows are user-/session-partitioned (never global);
    the trigram aggregate is bounded by the event-type³ pattern
    vocabulary; top-20 is a TakeOrderedAndProject.
    """
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(wu).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu))
                > 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("new_session")
        .over(wu.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    tri = sessions.select(
        "user_id",
        "session_id",
        # F.concat (not concat_ws): NULLs must propagate exactly like
        # the oracle's || operator, not be skipped
        F.concat(
            F.col("event_type"),
            F.lit(">"),
            F.lead("event_type", 1).over(ws),
            F.lit(">"),
            F.lead("event_type", 2).over(ws),
        ).alias("trigram"),
    ).filter(F.col("trigram").isNotNull())
    skey = F.concat_ws(
        "#", F.col("user_id").cast("string"), F.col("session_id").cast("string")
    )
    return (
        tri.groupBy("trigram")
        .agg(
            F.countDistinct(skey).alias("support"),
            F.count(F.lit(1)).alias("occurrences"),
        )
        .orderBy(F.desc("support"), "trigram")
        .limit(20)
    )


# --------------------------------------------------------------------------
# SAX symbolization of the daily-revenue series (Lin, Keogh et al. 2003)
# --------------------------------------------------------------------------
SAX_SEGMENTS = 16


@query(
    "q_sax_symbolic",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(round(sum(o_totalprice), 0) AS BIGINT) AS rev
      FROM orders GROUP BY o_orderdate
    ),
    stats AS (
      SELECT count(*) AS n, sum(rev) AS sx, sum(rev * rev) AS sxx FROM daily
    ),
    idx AS (
      SELECT d, rev, row_number() OVER (ORDER BY d) - 1 AS i FROM daily
    ),
    seg AS (
      SELECT (i * {SAX_SEGMENTS}) // n AS segment,
             CAST(count(*) AS BIGINT) AS n_days,
             sum(rev) AS seg_sum
      FROM idx, stats
      GROUP BY 1
    ),
    z AS (
      SELECT segment, n_days,
             (seg_sum * 1.0 / n_days - sx * 1.0 / n)
               / sqrt(sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n))
               AS paa
      FROM seg, stats
    )
    SELECT segment, n_days, round(paa, 6) AS paa,
           CASE WHEN round(paa, 9) < -0.6745 THEN 'a'
                WHEN round(paa, 9) < 0 THEN 'b'
                WHEN round(paa, 9) < 0.6745 THEN 'c'
                ELSE 'd' END AS symbol
    FROM z
    ORDER BY segment
    """,
)
def q_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX — Symbolic Aggregate approXimation (Lin, Keogh, Lonardi &
    Chiu 2003) of the daily-revenue series: z-normalize, Piecewise
    Aggregate Approximation into {SAX_SEGMENTS} equal-width segments,
    then map each segment mean to a 4-letter alphabet at the standard
    Gaussian breakpoints (−0.6745, 0, 0.6745). The discretization that
    turns a numeric series into a string so the TEXT machinery
    (n-gram novelty, fingerprinting, exact-substring dedup) applies to
    time series — motif discovery's front end.

    Hash-exactness: daily revenue is rounded to whole-dollar INTEGERS
    first, so n/Σx/Σx² and per-segment sums are exact; each PAA value
    is computed FROM THOSE SUMS ((Σseg/n_seg − μ)/σ, one deterministic
    double expression — never a float sum whose order could differ);
    symbols compare the 9dp-rounded PAA against the breakpoints.

    Scale: the corpus collapses to the date-domain rollup immediately;
    the day-index window runs over that bounded spine (declared via
    ``bounded_window_input``); Σx² of whole-dollar daily totals is
    carried as DECIMAL(38,0) — the long form overflowed at sf1.0
    (round-11 second-decade audit; the prior "int64-safe through sf10"
    note was off by two orders), and DuckDB's HUGEINT sum was already
    exact, so the decimal sums restore bit parity at any scale.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.round(F.sum("o_totalprice"), 0).cast("long").alias("rev"))
    )
    daily = bounded_window_input(daily, label="q_sax_symbolic date spine")
    dec = "decimal(38,0)"
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").cast(dec).alias("sx"),
        F.sum(F.col("rev").cast(dec) * F.col("rev")).cast(dec).alias("sxx"),
    )
    idx = daily.select(
        "rev", (F.row_number().over(Window.orderBy("d")) - 1).alias("i")
    )
    seg = (
        idx.crossJoin(F.broadcast(stats))
        .groupBy(
            F.expr(f"CAST(i AS BIGINT) * {SAX_SEGMENTS} DIV n").alias(
                "segment"
            )
        )
        .agg(F.count(F.lit(1)).alias("n_days"), F.sum("rev").alias("seg_sum"))
    )
    mu = F.col("sx") * F.lit(1.0) / F.col("n")
    sigma = F.sqrt(F.col("sxx") * F.lit(1.0) / F.col("n") - mu * mu)
    paa = (F.col("seg_sum") * F.lit(1.0) / F.col("n_days") - mu) / sigma
    paa_r = F.round(paa, 9)
    return (
        seg.crossJoin(F.broadcast(stats))
        .select(
            "segment",
            "n_days",
            F.round(paa, 6).alias("paa"),
            F.when(paa_r < -0.6745, "a")
            .when(paa_r < 0, "b")
            .when(paa_r < 0.6745, "c")
            .otherwise("d")
            .alias("symbol"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# Permutation entropy of the daily series (Bandt & Pompe 2002)
# --------------------------------------------------------------------------


@query(
    "q_permutation_entropy",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(round(sum(o_totalprice), 0) AS BIGINT) AS rev
      FROM orders GROUP BY o_orderdate
    ),
    tri AS (
      SELECT rev AS a,
             lead(rev, 1) OVER (ORDER BY d) AS b,
             lead(rev, 2) OVER (ORDER BY d) AS c
      FROM daily
    ),
    pat AS (
      SELECT CASE
               WHEN a <= b AND b <= c THEN '012'
               WHEN a <= c AND c < b THEN '021'
               WHEN b < a AND a <= c THEN '102'
               WHEN c < a AND a <= b THEN '120'
               WHEN b <= c AND c < a THEN '201'
               ELSE '210' END AS pattern
      FROM tri WHERE c IS NOT NULL
    ),
    cnt AS (
      SELECT pattern, CAST(count(*) AS BIGINT) AS n FROM pat GROUP BY pattern
    ),
    tot AS (SELECT sum(n) AS t FROM cnt)
    SELECT pattern, n,
           round(n * 1.0 / t, 6) AS p,
           round(-(n * 1.0 / t) * ln(n * 1.0 / t), 6) AS neg_p_ln_p
    FROM cnt, tot
    ORDER BY pattern
    """,
)
def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy components (Bandt & Pompe 2002, embedding
    dimension 3): the distribution of ordinal patterns among
    consecutive daily-revenue triples — the complexity measure that
    distinguishes structured series from noise using only ORDER
    comparisons, immune to monotone transforms and outliers (their
    "natural complexity measure for time series"). Emits each
    pattern's count, probability, and −p·ln p term; the entropy is the
    sum of the last column, left unsummed so the oracle checks the
    full distribution.

    Ties break toward the earlier index (a<=b ⇒ ascending), the
    standard convention. Hash-exactness: patterns come from INTEGER
    comparisons of whole-dollar daily totals; counts are exact; the
    only doubles are the final two rounded expressions.

    Scale: date-domain rollup first; the lead window rides the
    bounded spine (``bounded_window_input``); the pattern aggregate
    is 6 rows by construction.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.round(F.sum("o_totalprice"), 0).cast("long").alias("rev"))
    )
    daily = bounded_window_input(
        daily, label="q_permutation_entropy date spine"
    )
    w = Window.orderBy("d")
    tri = daily.select(
        F.col("rev").alias("a"),
        F.lead("rev", 1).over(w).alias("b"),
        F.lead("rev", 2).over(w).alias("c"),
    ).filter(F.col("c").isNotNull())
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    pat = tri.select(
        F.when((a <= b) & (b <= c), "012")
        .when((a <= c) & (c < b), "021")
        .when((b < a) & (a <= c), "102")
        .when((c < a) & (a <= b), "120")
        .when((b <= c) & (c < a), "201")
        .otherwise("210")
        .alias("pattern")
    )
    cnt = pat.groupBy("pattern").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.agg(F.sum("n").alias("t"))
    p = F.col("n") * F.lit(1.0) / F.col("t")
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "pattern",
            "n",
            F.round(p, 6).alias("p"),
            F.round(-p * F.log(p), 6).alias("neg_p_ln_p"),
        )
        .orderBy("pattern")
    )


# --------------------------------------------------------------------------
# Geometric adstock (Broadbent 1979; media-mix modeling's carryover)
# --------------------------------------------------------------------------
#: ppm carryover weights 0.7^k, k=0..13, PRE-QUANTIZED to integers so
#: both engines convolve with bit-identical coefficients (cross-engine
#: pow(0.7, k) is not ulp-stable; a Python-time table is).
ADSTOCK_W_PPM = [round(0.7**k * 1e6) for k in range(14)]


@query(
    "q_geometric_adstock",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS cents
      FROM orders GROUP BY o_orderdate
    ),
    conv AS (
      SELECT d, cents,
             {" + ".join(
                 f"COALESCE(lag(cents, {k}) OVER (ORDER BY d), 0) * {w}"
                 for k, w in enumerate(ADSTOCK_W_PPM)
             )} AS adstock_ppm
      FROM daily
    )
    SELECT d, round(cents / 100.0, 2) AS revenue,
           round(adstock_ppm / 100000000.0, 2) AS adstock
    FROM conv
    ORDER BY adstock DESC, d
    LIMIT 25
    """,
)
def q_geometric_adstock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric adstock (Broadbent 1979) — the carryover transform at
    the heart of media-mix models: adstock_t = Σₖ 0.7ᵏ·x_{t−k} over a
    14-day memory, i.e. today's effective pressure includes decayed
    echoes of the last two weeks. Applied to daily revenue; top-25
    carryover-pressure days. MMM fits regress outcomes on THIS column
    instead of raw spend — the transform is the feature engineering.

    Hash-exactness: daily cents are exact integers and the decay
    weights are PRE-QUANTIZED ppm integers (module constant — computed
    once in Python, so neither engine ever calls pow), making the
    convolution pure int64 (≤14 terms × cents×1e6 ≈ 10¹⁵, int64-safe
    through sf10); only the two display divisions are doubles.

    Scale: date-domain rollup first; the 14 lags ride ONE ordered
    window over the bounded spine (``bounded_window_input``); top-25
    is a TakeOrderedAndProject.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.round(F.sum("o_totalprice") * 100, 0).cast("long").alias("cents")
    )
    daily = bounded_window_input(
        daily, label="q_geometric_adstock date spine"
    )
    w = Window.orderBy("d")
    terms = [
        F.coalesce(F.lag("cents", k).over(w), F.lit(0)) * F.lit(wk)
        for k, wk in enumerate(ADSTOCK_W_PPM)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return (
        daily.select(
            "d",
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            total.alias("adstock_ppm"),
        )
        .select(
            "d",
            "revenue",
            F.round(F.col("adstock_ppm") / 100000000.0, 2).alias("adstock"),
        )
        .orderBy(F.desc("adstock"), "d")
        .limit(25)
    )


# --------------------------------------------------------------------------
# IPS offline policy evaluation (Horvitz-Thompson replay; Li et al. 2011)
# --------------------------------------------------------------------------


@query(
    "q_ips_policy_eval",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             substring(md5('ips' || CAST(event_id AS VARCHAR)), 1, 2) < '80'
               AS is_log
      FROM events
    ),
    pol AS (
      SELECT user_id, event_type AS rec, count(*) AS c,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY count(*) DESC, event_type) AS rn
      FROM ev WHERE is_log GROUP BY user_id, event_type
    ),
    rec AS (SELECT user_id, rec FROM pol WHERE rn = 1),
    test AS (SELECT * FROM ev WHERE NOT is_log),
    prop AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_a
      FROM test GROUP BY event_type
    ),
    ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM test),
    matched AS (
      SELECT t.event_type,
             CAST(count(*) AS BIGINT) AS n_match,
             CAST(sum(t.cents) AS BIGINT) AS match_cents
      FROM test t JOIN rec r
        ON r.user_id = t.user_id AND r.rec = t.event_type
      GROUP BY t.event_type
    )
    SELECT p.event_type, p.n_a,
           round(p.n_a * 1.0 / ntot.n, 6) AS p_log,
           COALESCE(m.n_match, 0) AS n_match,
           round(COALESCE(m.match_cents, 0) * 1.0 / p.n_a * 1.0 / 100, 6)
             AS ips_contribution
    FROM prop p LEFT JOIN matched m USING (event_type), ntot
    ORDER BY p.event_type
    """,
)
def q_ips_policy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-scored offline policy evaluation (the
    Horvitz-Thompson replay estimator of Li, Chu, Langford & Schapire
    2011): split events into an exploration log and an evaluation log
    (md5 halves), learn a deterministic target policy π(user) = the
    user's most frequent logged event type (count desc, type asc),
    then estimate π's per-action value on the held-out log as
    Σ reward·1[a=π(x)] / p̂(a) — the counterfactual "what would this
    policy have earned" number computed WITHOUT deploying it. The
    per-action decomposition is exposed (the total IPS estimate is
    Σ ips_contribution / n, left unsummed so the oracle checks the
    full profile); propensities are the evaluation log's empirical
    action frequencies, the standard replay convention for logs
    without recorded probabilities.

    Hash-exactness: rewards are exact integer cents, propensities and
    contributions are ratios of integer aggregates; the policy argmax
    is a (count desc, type asc) row_number — integer-deterministic.

    Scale: the policy table is one (user × type) count + a
    user-partitioned argmax window; scoring is an equi-join of the
    evaluation log onto that user-keyed table; every aggregate is
    action-domain-bounded. Nothing collects, nothing is pairwise.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        (
            F.substring(
                F.md5(
                    F.concat(F.lit("ips"), F.col("event_id").cast("string"))
                ),
                1,
                2,
            )
            < "80"
        ).alias("is_log"),
    ).transform(eager_checkpoint)
    wu = Window.partitionBy("user_id").orderBy(
        F.desc("c"), F.col("event_type")
    )
    rec = (
        ev.filter("is_log")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("rec"))
    )
    test = ev.filter(~F.col("is_log"))
    prop = test.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_a"))
    ntot = test.agg(F.count(F.lit(1)).alias("n"))
    matched = (
        test.join(
            rec,
            (test.user_id == rec.user_id) & (test.event_type == rec.rec),
        )
        .groupBy(test.event_type)
        .agg(
            F.count(F.lit(1)).alias("n_match"),
            F.sum("cents").alias("match_cents"),
        )
    )
    return (
        prop.join(matched, "event_type", "left")
        .crossJoin(F.broadcast(ntot))
        .select(
            "event_type",
            "n_a",
            F.round(F.col("n_a") * F.lit(1.0) / F.col("n"), 6).alias("p_log"),
            F.coalesce("n_match", F.lit(0)).alias("n_match"),
            F.round(
                F.coalesce("match_cents", F.lit(0))
                * F.lit(1.0)
                / F.col("n_a")
                * F.lit(1.0)
                / 100,
                6,
            ).alias("ips_contribution"),
        )
        .orderBy("event_type")
    )
