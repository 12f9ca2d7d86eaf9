"""Delivery semantics: pipeline dispatch, ack/nack, retry, DLQ.

Reference semantics being re-expressed (SURVEY.md §2A):

- K1 pipeline dispatch — the reference looks up the ``injectingSeq``
  mediation sequence and injects each message
  (PulsarMessageConsumer.java:530-547); unknown sequence → failure at
  :538-539. Here the pipeline is a DataFrame→sink function run in
  ``foreachBatch``; an unknown pipeline name raises at query start.
- K2 error route — ``onErrorSeq`` (:541) becomes an error-sink
  callback invoked with the failing batch.
- K3/K4 — rollback/ack: Structured Streaming replays a failed
  micro-batch from the checkpoint and commits offsets only after
  ``foreachBatch`` returns — the same at-least-once contract as
  ack-after-process (:203-227).
- K5/K6/K7 — nack/redelivery/DLQ: Pulsar nacks per *record*;
  micro-batch replay is per *batch*. The finer-grained equivalent
  (:class:`KeyedRetryPipeline`) is a retry table keyed by message_id
  carrying the redelivery count and last attempt: failures are
  appended, re-unioned into the next batch after ``nack_delay`` (K5),
  forced out after ``ack_timeout`` (K6), and routed to the DLQ sink
  once the count reaches the policy max (K7, default 5 per
  PulsarMessageConsumer.java:296-298).

Scale: the retry table is partitioned by message_id hash and is
idempotent (last-write-wins upsert per message_id), so batch replays
do not double-count redeliveries.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mi_inbound_pulsar_spark.config import DeadLetterPolicy
from mi_inbound_pulsar_spark.streaming.epochstore import EpochStore

PipelineFn = Callable[[DataFrame, int], None]


def dlq_split(df: DataFrame, policy: DeadLetterPolicy) -> tuple[DataFrame, DataFrame]:
    """K7 — split a message frame into (main, dead-lettered).

    Poison messages are those redelivered ≥ ``max_redeliveries`` times
    (PulsarMessageConsumer.java:295-304). Both sides reuse one scan —
    Catalyst plans two filters over the same source, no materialization.
    """
    poison = F.col("redelivery_count") >= F.lit(policy.max_redeliveries)
    return df.filter(~poison), df.filter(poison)


@dataclass
class PipelineRegistry:
    """K1 — named pipelines, mirroring sequence lookup by ``injectingSeq``."""

    _pipelines: dict[str, PipelineFn] = field(default_factory=dict)

    def register(self, name: str, fn: PipelineFn) -> None:
        self._pipelines[name] = fn

    def get(self, name: str) -> PipelineFn:
        if name not in self._pipelines:
            # parity: missing sequence is a hard failure (PulsarMessageConsumer.java:538-539)
            raise KeyError(f"unknown pipeline {name!r}; registered: {sorted(self._pipelines)}")
        return self._pipelines[name]


def run_pipeline(
    stream: DataFrame,
    registry: PipelineRegistry,
    injecting_pipeline: str,
    on_error: PipelineFn | None = None,
    checkpoint_dir: str | None = None,
    query_name: str = "pulsar-ingest",
    trigger_ms: int = 100,
):
    """K1-K4 — dispatch each micro-batch to the named pipeline via
    ``foreachBatch``; route failures to ``on_error`` (K2); offsets commit
    only on success (K4 at-least-once). Trigger default mirrors the
    reference's 100 ms poll interval (uischema.json:91-96)."""
    pipeline = registry.get(injecting_pipeline)  # fail at start, like :538-539

    def dispatch(batch_df: DataFrame, epoch_id: int) -> None:
        try:
            pipeline(batch_df, epoch_id)
        except Exception:
            if on_error is not None:
                on_error(batch_df, epoch_id)  # K2 error route
            else:
                raise  # K3: failed batch → replay from checkpoint

    writer = (
        stream.writeStream.foreachBatch(dispatch)
        .queryName(query_name)
        .trigger(processingTime=f"{trigger_ms} milliseconds")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


class KeyedRetryPipeline:
    """K5/K6/K7 at cluster scale — per-record nack/redelivery/DLQ state
    in a hash-partitioned, epoch-versioned parquet table. The data batch
    is NEVER collected to the driver; every step is a DataFrame plan.

    This is the package's only K5/K6/K7 implementation; the pure-Python
    model in ``tests/retry_model.py`` replays the same contract and
    ``tests/test_retry_differential.py`` checks the two epoch by epoch.
    Reference contract: PulsarMessageConsumer.java:203-227 (ack after
    process), :295-304 (DLQ after max redeliveries).

    State layout (:mod:`.epochstore` owns the protocol): the snapshot
    ``state_dir/v<epoch>/`` and the DLQ delta ``dlq_dir/v<epoch>/``,
    written in that order DLQ → state → ``state_dir/_commits/<epoch>``
    marker, keyed by ``message_id``. The store keeps the two newest
    markers and state versions; DLQ versions are never collected. An
    invocation at epoch N reads the newest *committed* version with
    epoch < N, so a replayed micro-batch (crash between state write and
    offset commit) deterministically rewrites the same version instead
    of double-bumping redelivery counts — last-write-wins upsert,
    idempotent under K3 replay.

    ``process(deliver_df, epoch) -> DataFrame[(message_id, ok bool)]``
    decides per-record outcomes. Only ``ok = TRUE`` acks; ``ok = FALSE``
    and ``ok = NULL`` are both explicit nacks. Rows delivered but
    MISSING from the outcome frame are the K6 case: with
    ``ack_timeout_ms`` set they are parked and redelivered once the
    timeout elapses; without one they are treated as nacked immediately
    (conservative at-least-once). Every parked row's count is bumped in
    the epoch it is judged, and a row whose bumped count reaches
    ``policy.max_redeliveries`` is routed to ``dlq_dir/v<epoch>/`` (same
    idempotent versioning) and dropped from state, keeping state
    bounded. That holds for an unanswered row as for a nack: it is
    dead-lettered in the epoch it goes unanswered, not when its ack
    timeout would expire.

    Scale: each epoch judges its delivered rows in ONE pass — a single
    left join of the delivered rows with the outcome, whose matched
    side carries a ``_responded`` tag so unacked rows stay
    distinguishable from nacked ones — so ``process`` and the batch
    scan run once per epoch. The parked rows (failures — a sliver of
    the stream) are persisted for the epoch and feed both the DLQ and
    the state write. The state read passes the schema of the version
    this instance last committed, so only a freshly constructed
    instance (e.g. after a restart) infers it from the files.
    """

    _META = ("_retry_count", "_retry_last", "_retry_pending_ack")

    def __init__(
        self,
        process: Callable[[DataFrame, int], DataFrame],
        policy: DeadLetterPolicy,
        state_dir: str,
        dlq_dir: str | None = None,
        nack_delay_ms: int = 0,
        ack_timeout_ms: int | None = None,
        backoff_multiplier: float = 1.0,
        max_delay_ms: int | None = None,
        clock: Callable[[], float] = time.time,
    ):
        self.process = process
        self.policy = policy
        self.state_dir = state_dir
        self.dlq_dir = dlq_dir or os.path.join(state_dir, "_dlq")
        self.nack_delay_ms = nack_delay_ms
        self.ack_timeout_ms = ack_timeout_ms
        self.backoff_multiplier = backoff_multiplier
        self.max_delay_ms = max_delay_ms
        self.clock = clock
        self.store = EpochStore(state_dir)

    def _delay_col(self):
        count = F.col("_retry_count")
        delay_ms = F.lit(float(self.nack_delay_ms)) * F.pow(
            F.lit(float(self.backoff_multiplier)), F.greatest(count - 1, F.lit(0)).cast("double")
        )
        if self.max_delay_ms is not None:
            delay_ms = F.least(delay_ms, F.lit(float(self.max_delay_ms)))
        if self.ack_timeout_ms is not None:
            delay_ms = F.when(
                F.col("_retry_pending_ack"), F.lit(float(self.ack_timeout_ms))
            ).otherwise(delay_ms)
        return delay_ms / 1000.0

    # -- the foreachBatch body ----------------------------------------------
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        now = self.clock()
        spark = batch_df.sparkSession
        state = self.store.latest(spark, self.state_dir, below=epoch_id)

        fresh = batch_df.withColumn("redelivery_count", F.lit(0))
        if state is not None:
            due_pred = F.lit(now) - F.col("_retry_last") >= self._delay_col()
            due = (
                state.filter(due_pred)
                # K5 anti-join: a replayed source batch may already carry
                # the same message_id — the fresh copy wins
                .join(fresh.select("message_id"), "message_id", "left_anti")
            )
            held = state.filter(~due_pred)
            deliver = fresh.unionByName(
                due.withColumn("redelivery_count", F.col("_retry_count")).drop(*self._META)
            )
        else:
            held = None
            deliver = fresh

        outcome = self.process(deliver, epoch_id).select(
            "message_id",
            F.col("ok").cast("boolean").alias("ok"),
            F.lit(True).alias("_responded"),
        )
        # one judged pass: only ok = TRUE acks; FALSE/NULL are nacks, and a
        # row with no outcome (_responded NULL) is the K6 unacked case
        pending_ack = (
            F.col("_responded").isNull()
            if self.ack_timeout_ms is not None
            else F.lit(False)
        )
        parked = (
            deliver.join(outcome, "message_id", "left")
            .filter(~F.coalesce(F.col("ok"), F.lit(False)))
            .withColumn("_retry_pending_ack", pending_ack)
            .drop("ok", "_responded")
            .withColumn("_retry_count", F.col("redelivery_count") + 1)
            .withColumn("_retry_last", F.lit(now))
            .persist()
        )
        try:
            # K7: exhausted → DLQ (dropped from state: bounded)
            exhausted = F.col("_retry_count") >= F.lit(self.policy.max_redeliveries)
            dead = parked.filter(exhausted)
            live = parked.filter(~exhausted)
            if held is not None:
                live = live.unionByName(held)

            self.store.write(
                dead.withColumn("redelivery_count", F.col("_retry_count")).drop(*self._META),
                self.dlq_dir,
                epoch_id,
                "message_id",
            )
            self.store.write(live, self.state_dir, epoch_id, "message_id")
            self.store.commit(epoch_id, retain=2)  # keep two state versions
        finally:
            parked.unpersist()

    # -- inspection helpers (tests / ops) -----------------------------------
    def state_df(self, spark: SparkSession) -> DataFrame | None:
        return self.store.latest(spark, self.state_dir)

    def dead_letters_df(self, spark: SparkSession) -> DataFrame | None:
        """Union of the COMMITTED per-epoch DLQ versions. A crash
        between the DLQ write and the state write leaves a dlq
        ``v<epoch>`` with no marker — those rows stay invisible until
        the epoch's replay completes, or a reader would double-count
        them (found by the torn-epoch injection test). DLQ versions
        outlive the GC'd state markers; :meth:`EpochStore.union` states
        the visibility rule."""
        return self.store.union(spark, self.dlq_dir)
