"""Ingestion-layer parity queries (SURVEY.md §2A) in oracle-checkable
batch form.

The simulated message frame (sources/pulsar_source.py) is pure column
arithmetic over ``events``, so each DuckDB oracle reconstructs it
inline via this CTE and checks the operator's semantics exactly.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mi_inbound_pulsar_spark.config import DeadLetterPolicy, PulsarSourceConfig
from mi_inbound_pulsar_spark.functions.payload import decode_payload, encode_properties_json
from mi_inbound_pulsar_spark.operators import query
from mi_inbound_pulsar_spark.sources.pulsar_source import simulated_message_frame, subscribe
from mi_inbound_pulsar_spark.sources.tables import load_table
from mi_inbound_pulsar_spark.streaming.chunking import reassemble_batch
from mi_inbound_pulsar_spark.streaming.delivery import dlq_split

CHUNK_SIZE = 200

_SCRATCH_ROOT: str | None = None


def _replay_scratch(name: str) -> str:
    """Deterministic scratch dir for a replay query's parquet state.

    ``mkdtemp`` per invocation accumulated orphan state families across
    bench passes and verify sweeps (ADVICE r8, ingestion.py:664): each
    query now reuses ONE ``<tmp>/mi_pulsar_replay_<pid>/<name>`` dir,
    wiped at the START of the next invocation (the returned DataFrame
    reads the dir lazily, so deleting at the end of the builder would
    race the caller's collect), and an ``atexit`` hook removes the
    whole per-process root — at most one copy per query ever persists.
    """
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = os.path.join(
            tempfile.gettempdir(), f"mi_pulsar_replay_{os.getpid()}"
        )
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    path = os.path.join(_SCRATCH_ROOT, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def chunked_document_frame(spark: SparkSession, sf_dir: str, chunk_size: int = CHUNK_SIZE) -> DataFrame:
    """Deterministic chunked-message frame: each document's text split
    into fixed-size fragments — the producer side of S15."""
    d = load_table(spark, sf_dir, "documents")
    n_chunks = F.ceil(F.length("text") / chunk_size).cast("int")
    return d.select(
        F.col("doc_id").cast("string").alias("chunk_uuid"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.substring(F.col("text"), i * chunk_size + 1, F.lit(chunk_size)),
            )
        ).alias("chunk_index", "fragment"),
        n_chunks.alias("total_chunks"),
    ).select("chunk_uuid", "chunk_index", "total_chunks", "fragment")

#: DuckDB reconstruction of simulated_message_frame (keep in sync).
MSG_CTE = """
    WITH msgs AS (
      SELECT props AS value,
             'persistent://public/default/t' || CAST(event_id % 3 AS VARCHAR) AS topic,
             CAST(event_id AS VARCHAR) AS message_id,
             CASE WHEN user_id % 10 = 0 THEN NULL
                  ELSE 'user-' || CAST(user_id AS VARCHAR) END AS key,
             CASE WHEN event_id % 17 = 0
                  THEN CAST(CAST(floor(event_id / 17) AS BIGINT) % 8 AS INTEGER)
                  ELSE 0 END AS redelivery_count,
             event_type, user_id,
             ts AS event_time,
             ts + INTERVAL 1 SECOND AS publish_time,
             event_id
      FROM events
    )
"""


@query(
    "q_msg_metadata_projection",
    oracle=MSG_CTE
    + """
    SELECT topic AS topicNames, message_id AS msgId, key,
           redelivery_count AS redeliveryCount,
           '[{"event_type":"' || event_type || '"},{"uid":"' || CAST(user_id AS VARCHAR) || '"}]'
             AS properties_json,
           value
    FROM msgs
    ORDER BY CAST(msgId AS BIGINT)
    """,
)
def q_msg_metadata_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 + T3 — metadata projection with the exact-shape properties JSON
    (array of single-key objects, PulsarUtils.java:121-130,144-157)."""
    m = simulated_message_frame(spark, sf_dir)
    return (
        m.select(
            F.col("topic").alias("topicNames"),
            F.col("message_id").alias("msgId"),
            "key",
            F.col("redelivery_count").alias("redeliveryCount"),
            encode_properties_json("properties").alias("properties_json"),
            "value",
        )
        .orderBy(F.col("msgId").cast("long"))
    )


@query(
    "q_decode_json_payload",
    oracle=MSG_CTE
    + """
    SELECT message_id, CAST(json_extract(value, '$.k') AS INTEGER) AS k
    FROM msgs
    ORDER BY CAST(message_id AS BIGINT)
    """,
)
def q_decode_json_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — content-type decode dispatch for application/json
    (PulsarMessageConsumer.java:505-529): payload string → typed struct."""
    m = simulated_message_frame(spark, sf_dir)
    decoded = decode_payload(m, "application/json; charset=utf-8", schema="k INT")
    return decoded.select("message_id", F.col("body.k").alias("k")).orderBy(
        F.col("message_id").cast("long")
    )


@query(
    "q_topic_subscribe_filter",
    oracle=MSG_CTE
    + """
    SELECT topic, count(*) AS n
    FROM msgs
    WHERE topic IN ('persistent://public/default/t0', 'persistent://public/default/t2')
    GROUP BY topic ORDER BY topic
    """,
)
def q_topic_subscribe_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 — multi-topic subscription as a topic-list filter
    (PulsarMessageConsumer.java:249-251)."""
    cfg = PulsarSourceConfig(
        service_url="pulsar://sim:6650",
        topics=["persistent://public/default/t0", "persistent://public/default/t2"],
    )
    m = subscribe(simulated_message_frame(spark, sf_dir), cfg)
    return m.groupBy("topic").agg(F.count(F.lit(1)).alias("n")).orderBy("topic")


@query(
    "q_topic_pattern_subscribe",
    oracle=MSG_CTE
    + """
    SELECT topic, count(*) AS n
    FROM msgs
    WHERE regexp_matches(topic, '.*/t[01]$')
    GROUP BY topic ORDER BY topic
    """,
)
def q_topic_pattern_subscribe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — regex-pattern subscription (PulsarMessageConsumer.java:252-258)."""
    cfg = PulsarSourceConfig(service_url="pulsar://sim:6650", topics_pattern=".*/t[01]$")
    m = subscribe(simulated_message_frame(spark, sf_dir), cfg)
    return m.groupBy("topic").agg(F.count(F.lit(1)).alias("n")).orderBy("topic")


@query(
    "q_read_compacted",
    oracle=MSG_CTE
    + """
    SELECT key, arg_max(value, event_id) AS value,
           CAST(arg_max(message_id, event_id) AS VARCHAR) AS message_id
    FROM msgs
    WHERE key IS NOT NULL
    GROUP BY key
    ORDER BY key
    """,
)
def q_read_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16 — readCompacted: latest-value-per-key view
    (PulsarMessageConsumer.java:350-352), via ``max_by`` (one shuffle,
    partial aggregation — no window sort needed)."""
    cfg = PulsarSourceConfig(
        service_url="pulsar://sim:6650", topics_pattern=".*", read_compacted=True
    )
    m = subscribe(simulated_message_frame(spark, sf_dir), cfg)
    return (
        m.filter(F.col("key").isNotNull())
        .select("key", "value", "message_id")
        .orderBy("key")
    )


@query(
    "q_chunk_reassembly",
    oracle=f"""
    SELECT CAST(doc_id AS VARCHAR) AS chunk_uuid,
           CAST(ceil(length(text) / {CHUNK_SIZE}.0) AS INTEGER) AS n_chunks,
           text AS payload
    FROM documents
    ORDER BY CAST(chunk_uuid AS BIGINT)
    """,
)
def q_chunk_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 — chunked-message reassembly, batch form: documents are split
    into {CHUNK_SIZE}-char fragments and reassembled; the oracle asserts
    the output is byte-identical to the originals
    (PulsarMessageConsumer.java:326-336; streaming form with state +
    expiry in streaming/chunking.py, driven by pytest)."""
    chunks = chunked_document_frame(spark, sf_dir)
    return reassemble_batch(chunks).orderBy(F.col("chunk_uuid").cast("long"))


@query(
    "q_dlq_split",
    oracle=MSG_CTE
    + """
    SELECT message_id, redelivery_count,
           CASE WHEN redelivery_count >= 5 THEN 'dlq' ELSE 'main' END AS route
    FROM msgs
    WHERE redelivery_count > 0
    ORDER BY CAST(message_id AS BIGINT)
    """,
)
def q_dlq_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 — dead-letter routing after max redeliveries (default 5,
    PulsarMessageConsumer.java:295-304)."""
    m = simulated_message_frame(spark, sf_dir)
    main, dlq = dlq_split(m, DeadLetterPolicy(max_redeliveries=5))
    routed = main.withColumn("route", F.lit("main")).unionByName(
        dlq.withColumn("route", F.lit("dlq"))
    )
    return (
        routed.filter(F.col("redelivery_count") > 0)
        .select("message_id", "redelivery_count", "route")
        .orderBy(F.col("message_id").cast("long"))
    )


@query(
    "q_key_distribution",
    oracle="""
    WITH m AS (
      SELECT CASE WHEN user_id % 10 = 0 THEN NULL
                  ELSE 'user-' || CAST(user_id AS VARCHAR) END AS key
      FROM events
    ),
    per_key AS (
      SELECT key, count(*) AS n FROM m WHERE key IS NOT NULL GROUP BY key
    )
    SELECT CAST(count(*) AS BIGINT)          AS n_keys,
           CAST(max(n) AS BIGINT)            AS hottest,
           CAST(min(n) AS BIGINT)            AS coldest,
           round(max(n) * 1.0 / avg(n), 4)   AS skew_ratio
    FROM per_key
    """,
)
def q_key_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew profile of the message stream: distinct key count,
    hottest/coldest key volume, and hottest/mean skew ratio — the
    diagnostic that decides whether a Key_Shared consumer (S4) or a
    keyed-state operator needs salting (plans/skew.py). One partial
    aggregate on the key, then a scalar fold."""
    frame = simulated_message_frame(spark, sf_dir)
    per_key = (
        frame.filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("hottest"),
        F.min("n").alias("coldest"),
        F.round(F.max("n") / F.avg("n"), 4).alias("skew_ratio"),
    )


@query(
    "q_topic_throughput",
    oracle="""
    WITH m AS (
      SELECT 'persistent://public/default/t' || CAST(event_id % 3 AS VARCHAR) AS topic,
             ts + INTERVAL 1 SECOND AS publish_time,
             event_id
      FROM events
    )
    SELECT topic, date_trunc('hour', publish_time) AS hour,
           CAST(count(*) AS BIGINT) AS n_msgs,
           CAST(count(DISTINCT event_id % 32) AS BIGINT) AS n_buckets_touched
    FROM m GROUP BY topic, date_trunc('hour', publish_time)
    ORDER BY topic, hour
    """,
)
def q_topic_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-topic hourly throughput (plus a partition-spread proxy) from
    publish_time — the broker-side observability query an operator runs
    against the ingest history; one partial-aggregate shuffle."""
    frame = simulated_message_frame(spark, sf_dir)
    return (
        frame.groupBy(
            "topic", F.date_trunc("hour", "publish_time").alias("hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.count_distinct(F.col("message_id").cast("long") % 32).alias(
                "n_buckets_touched"
            ),
        )
        .orderBy("topic", "hour")
    )


@query(
    "q_retry_pipeline_audit",
    oracle="""
    -- closed form of the K5/K7 contract: with max_redeliveries=3 and
    -- zero nack delay, every always-failing (poison) message is dead-
    -- lettered after exactly 3 deliveries; flaky messages (succeed on
    -- the 3rd attempt) and normal messages never reach the DLQ
    SELECT CAST(event_id AS VARCHAR) AS message_id,
           CAST(3 AS INTEGER)        AS redelivery_count
    FROM events WHERE event_id % 100 = 13
    ORDER BY CAST(message_id AS BIGINT)
    """,
)
def q_retry_pipeline_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5/K7 as a driver-hashable query: replay the message stream
    through the cluster-tier :class:`KeyedRetryPipeline` (keyed parquet
    state, no data-batch collect) for a deterministic schedule — two
    source batches plus drain epochs under a fixed clock — and return
    the resulting dead-letter table.

    Flaky messages (id % 100 == 7) fail until their 3rd delivery;
    poison messages (id % 100 == 13) always fail. The reference's
    broker contract (PulsarMessageConsumer.java:295-304) demands the
    DLQ hold exactly the poison set, each after exactly
    ``max_redeliveries`` deliveries — which is the closed-form oracle.
    """

    from mi_inbound_pulsar_spark.streaming.delivery import KeyedRetryPipeline

    frame = simulated_message_frame(spark, sf_dir)
    mid = F.col("message_id").cast("long")

    def process(deliver: DataFrame, epoch_id: int) -> DataFrame:
        m = F.col("message_id").cast("long")
        ok = ~(((m % 100 == 7) & (F.col("redelivery_count") < 2)) | (m % 100 == 13))
        return deliver.select("message_id", ok.alias("ok"))

    pipe = KeyedRetryPipeline(
        process,
        DeadLetterPolicy(max_redeliveries=3),
        state_dir=_replay_scratch("retry_audit"),
        nack_delay_ms=0,
        clock=lambda: 0.0,
    )
    half = frame.agg(F.max(mid)).first()[0] // 2
    pipe(frame.filter(mid <= half), 0)
    pipe(frame.filter(mid > half), 1)
    empty = frame.filter(F.lit(False))
    for epoch in range(2, 6):  # drain parked redeliveries
        pipe(empty, epoch)

    dlq = pipe.dead_letters_df(spark)
    return dlq.select("message_id", "redelivery_count").orderBy(
        F.col("message_id").cast("long")
    )


@query(
    "q_streaming_curation_replay",
    oracle="""
    -- closed form of the streaming curation contract: on doc_id-
    -- ordered batches, the union of the committed per-epoch outputs
    -- is row-identical to the single-shot batch pipeline (quality ->
    -- exact dedup with min-doc_id keeper -> train split -> per-source
    -- sequence packing), because the cross-batch hash index makes the
    -- keeper the globally-first occurrence and the offsets snapshot
    -- continues each source's token stream exactly where the previous
    -- epoch stopped
    WITH quality AS (
      SELECT doc_id, source, text, len(string_split(text, ' ')) AS n_tokens
      FROM documents
      WHERE len(string_split(text, ' ')) >= 20
    ),
    deduped AS (
      SELECT min(doc_id) AS doc_id, arg_min(source, doc_id) AS source,
             arg_min(n_tokens, doc_id) AS n_tokens
      FROM quality GROUP BY md5(text)
    ),
    train AS (
      SELECT doc_id, source, n_tokens FROM deduped
      WHERE substring(md5('split-' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
    ),
    packed AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS stream_offset
      FROM train
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(stream_offset AS BIGINT) AS stream_offset,
           CAST(stream_offset // 512 AS BIGINT) AS pack_start
    FROM packed ORDER BY source, doc_id
    """,
)
def q_streaming_curation_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 streaming-curation stretch as a driver-hashable
    query (the ``q_retry_pipeline_audit`` recipe): replay the
    documents table through :class:`StreamingCurationPipeline` as
    THREE doc_id-ordered micro-batches — fresh state dirs, per-epoch
    commit markers, cross-batch exact-dedup index and per-source
    offset snapshots all exercised for real — then return the union
    of the committed packed outputs.

    The oracle is the single-shot batch twin
    (``q_training_data_pipeline``'s SQL): on ordered input the
    streaming decomposition must be row-identical, which is exactly
    the exactly-once/batch-twin contract the pytest suite asserts
    (tests/test_streaming_curation.py) — this query makes the same
    contract hash-checkable by the external driver at every scale
    factor.

    Scale: each epoch's work is bounded by its batch (the dedup probe
    is delta-vs-index, never index×index); state is parquet keyed by
    hash/source, so a 1000-executor deployment shards it like any
    other table.
    """

    from mi_inbound_pulsar_spark.streaming.curation import (
        StreamingCurationPipeline,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    pipe = StreamingCurationPipeline(
        state_dir=_replay_scratch("curation_state"),
        out_dir=_replay_scratch("curation_out"),
    )
    hi = d.agg(F.max("doc_id")).first()[0] or 0
    cuts = (hi // 3, 2 * hi // 3)
    pipe(d.filter(F.col("doc_id") <= cuts[0]), 0)
    pipe(
        d.filter((F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1])), 1
    )
    pipe(d.filter(F.col("doc_id") > cuts[1]), 2)
    out = pipe.read_output(spark)
    return out.select(
        "doc_id", "source", "n_tokens", "stream_offset", "pack_start"
    ).orderBy("source", "doc_id")


@query(
    "q_streaming_privacy_replay",
    oracle="""
    -- closed form of the streaming privacy gate's park-and-release
    -- contract: a record is released in the FIRST epoch at which its
    -- quasi-identifier class's CUMULATIVE statistics satisfy both
    -- k-anonymity (size >= 5) and l-diversity (>= 3 distinct bands),
    -- and never before it arrives: release_epoch =
    -- greatest(arrival_epoch, class_qualify_epoch); records of
    -- never-qualifying classes stay suppressed
    WITH c AS (
      SELECT c_custkey AS ck, c_nationkey AS nat, c_mktsegment AS seg,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) // 100000 AS band,
             'reach user' || CAST(c_custkey AS VARCHAR)
               || '@example.com call 555-'
               || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS pii
      FROM customer
    ),
    hi AS (SELECT max(ck) AS h FROM c),
    b AS (
      SELECT c.*, CASE WHEN ck <= h // 3 THEN 0
                       WHEN ck <= 2 * h // 3 THEN 1 ELSE 2 END AS arrival
      FROM c, hi
    ),
    q AS (
      SELECT nat, seg,
             CASE
               WHEN count(*) FILTER (arrival <= 0) >= 5
                    AND count(DISTINCT band) FILTER (arrival <= 0) >= 3
                 THEN 0
               WHEN count(*) FILTER (arrival <= 1) >= 5
                    AND count(DISTINCT band) FILTER (arrival <= 1) >= 3
                 THEN 1
               WHEN count(*) >= 5 AND count(DISTINCT band) >= 3 THEN 2
             END AS qe
      FROM b GROUP BY nat, seg
    )
    SELECT b.ck, b.nat, b.seg, CAST(b.band AS BIGINT) AS band,
           CAST(len(b.pii) - len(
             regexp_replace(regexp_replace(b.pii,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+', '<EMAIL>', 'g'),
               '\\b555-[0-9][0-9][0-9][0-9]\\b', '<PHONE>', 'g'))
             AS BIGINT) AS chars_removed,
           CAST(greatest(b.arrival, q.qe) AS BIGINT) AS release_epoch
    FROM b JOIN q USING (nat, seg)
    WHERE q.qe IS NOT NULL
    ORDER BY ck
    """,
)
def q_streaming_privacy_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-anonymity / l-diversity family run ON THE STREAMING PATH
    (round-6 verdict stretch #7): replay the customer table as three
    custkey-ordered micro-batches through
    :class:`StreamingPrivacyPipeline` — PII redaction plus cross-batch
    quasi-identifier state with park-and-release semantics — and
    return every released record with the epoch it was released in.

    The oracle is the closed form of the park-and-release contract
    (release monotonicity makes it SQL-expressible with a 3-epoch
    unrolled qualify CASE, the ``q_label_propagation`` bounded-round
    recipe): hash parity here proves the cross-batch state machine —
    parked records really surface in the exact epoch their class
    first satisfies both thresholds, and suppressed classes never
    leak a row.

    Scale: per-epoch work is bounded by the batch plus the QI-domain-
    bounded stats snapshot; the safe-class frame is broadcast by
    construction (QI domain).
    """

    from mi_inbound_pulsar_spark.streaming.privacy import (
        StreamingPrivacyPipeline,
    )

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        (F.round(F.col("c_acctbal") * 100, 0).cast("long") / F.lit(100000))
        .cast("long")
        .alias("band"),
        F.concat(
            F.lit("reach user"),
            F.col("c_custkey").cast("string"),
            F.lit("@example.com call 555-"),
            F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        ).alias("contact"),
    )
    pipe = StreamingPrivacyPipeline(
        state_dir=_replay_scratch("privacy_state"),
        out_dir=_replay_scratch("privacy_out"),
        qi_cols=["nat", "seg"],
        band_col="band",
        id_col="ck",
        text_col="contact",
    )
    hi = c.agg(F.max("ck")).first()[0] or 0
    cuts = (hi // 3, 2 * hi // 3)
    pipe(c.filter(F.col("ck") <= cuts[0]), 0)
    pipe(c.filter((F.col("ck") > cuts[0]) & (F.col("ck") <= cuts[1])), 1)
    pipe(c.filter(F.col("ck") > cuts[1]), 2)
    out = pipe.read_output(spark)
    return out.select(
        "ck", "nat", "seg", "band", "chars_removed", "release_epoch"
    ).orderBy("ck")


@query(
    "q_streaming_composed_replay",
    oracle=r"""
    -- closed form of the COMPOSED gates (round-7 verdict stretch:
    -- redact -> privacy park-and-release -> curation, one commit
    -- protocol): a record is released in the first epoch its lang
    -- class cumulatively satisfies k>=5 / l>=3 over n_chars//150
    -- bands (and never before it arrives); released records enter
    -- curation in RELEASE order, so the dedup keeper is the min
    -- (release_epoch, doc_id) occurrence of each redacted text and
    -- the per-source pack offsets accumulate over that same order
    WITH d AS (
      SELECT doc_id, source, lang, n_chars // 150 AS band,
             text || ' reach user' || CAST(doc_id AS VARCHAR)
                  || '@example.com call 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      FROM documents
    ),
    hi AS (SELECT max(doc_id) AS h FROM documents),
    b AS (
      SELECT d.*, CASE WHEN doc_id <= h // 3 THEN 0
                       WHEN doc_id <= 2 * h // 3 THEN 1 ELSE 2 END AS arrival
      FROM d, hi
    ),
    q AS (
      SELECT lang,
             CASE
               WHEN count(*) FILTER (arrival <= 0) >= 5
                    AND count(DISTINCT band) FILTER (arrival <= 0) >= 3
                 THEN 0
               WHEN count(*) FILTER (arrival <= 1) >= 5
                    AND count(DISTINCT band) FILTER (arrival <= 1) >= 3
                 THEN 1
               WHEN count(*) >= 5 AND count(DISTINCT band) >= 3 THEN 2
             END AS qe
      FROM b GROUP BY lang
    ),
    rel AS (
      SELECT b.doc_id, b.source,
             regexp_replace(regexp_replace(b.raw,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+', '<EMAIL>', 'g'),
               '\b555-[0-9][0-9][0-9][0-9]\b', '<PHONE>', 'g') AS text,
             greatest(b.arrival, q.qe) AS release_epoch
      FROM b JOIN q USING (lang) WHERE q.qe IS NOT NULL
    ),
    quality AS (
      SELECT *, len(string_split(text, ' ')) AS n_tokens FROM rel
      WHERE len(string_split(text, ' ')) >= 20
    ),
    keep AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(text) ORDER BY release_epoch, doc_id
        ) AS rn FROM quality
      ) WHERE rn = 1
    ),
    train AS (
      SELECT doc_id, source, n_tokens, release_epoch FROM keep
      WHERE substring(md5('split-' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
    ),
    packed AS (
      SELECT doc_id, source, n_tokens, release_epoch,
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY release_epoch, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS stream_offset
      FROM train
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(stream_offset AS BIGINT) AS stream_offset,
           CAST(stream_offset // 512 AS BIGINT) AS pack_start,
           CAST(release_epoch AS BIGINT) AS release_epoch
    FROM packed ORDER BY source, doc_id
    """,
)
def q_streaming_composed_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 stretch delivered as a driver-hashable query: the
    documents table replayed as THREE doc_id-ordered micro-batches
    through :class:`~..streaming.composed.ComposedGatesPipeline` —
    redaction, quasi-identifier park-and-release (qi = lang, band =
    n_chars//150), and the curation pipeline over the RELEASED records,
    with all seven state families (stats, pending, released, hashes,
    shingles, offsets, packed out) versioned under ONE epoch/commit-
    marker protocol — then the union of committed packed outputs,
    each row tagged with the epoch its record cleared the privacy gate.

    Hash parity with the closed-form oracle proves the composition's
    end-to-end contract: the dedup index and pack offsets really
    advance in release order (a record parked at epoch 0 and released
    at epoch 2 packs AFTER epoch-1 releases of its source), redaction
    happens before both the class statistics and the dedup hash, and
    suppressed classes never reach the training stream.

    Scale: per-epoch cost is the batch plus the QI-domain-bounded
    stats snapshot and the delta-vs-index dedup probe; every state
    family's 100 TB bound is tabulated in SCALE.md's round-8 sizing
    appendix.
    """

    from mi_inbound_pulsar_spark.streaming.composed import ComposedGatesPipeline

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        F.expr("n_chars DIV 150").alias("band"),
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    pipe = ComposedGatesPipeline(
        state_dir=_replay_scratch("composed_state"),
        out_dir=_replay_scratch("composed_out"),
        qi_cols=["lang"],
        band_col="band",
    )
    hi = d.agg(F.max("doc_id")).first()[0] or 0
    cuts = (hi // 3, 2 * hi // 3)
    pipe(d.filter(F.col("doc_id") <= cuts[0]), 0)
    pipe(d.filter((F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1])), 1)
    pipe(d.filter(F.col("doc_id") > cuts[1]), 2)
    packed = pipe.read_output(spark)
    released = pipe.read_released(spark).select("doc_id", "release_epoch")
    return (
        packed.join(released, "doc_id")
        .select(
            "doc_id", "source", "n_tokens", "stream_offset", "pack_start",
            "release_epoch",
        )
        .orderBy("source", "doc_id")
    )
