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
  micro-batch replay is per *batch*. The finer-grained equivalent is a
  retry table keyed by message_id carrying ``redelivery_count`` and
  ``last_attempt``: failures are appended, re-unioned into the next
  batch after ``nack_delay`` (K5), forced out after ``ack_timeout``
  (K6), and routed to the DLQ sink once ``redelivery_count`` exceeds
  the policy max (K7, default 5 per PulsarMessageConsumer.java:296-298).

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


class RetryingPipeline:
    """K5/K6/K7 integrated — per-*record* nack/redelivery/DLQ semantics
    on top of micro-batch processing (SURVEY.md §7 hard part 1).

    ``process`` receives each batch (original rows ∪ due redeliveries,
    with ``redelivery_count`` reflecting the retry state) and returns
    the message_ids that FAILED. Successes are acked (state cleared);
    failures are nacked (count bumped, row parked for redelivery after
    ``nack_delay_ms``); records exceeding ``policy.max_redeliveries``
    are routed to the DLQ sink instead of being retried — the
    reference's broker-side contract (PulsarMessageConsumer.java:203-227,
    295-304) rebuilt engine-side.

    State here is in-memory (driver) keyed by message_id — the
    unit-test tier. The cluster-scale form is :class:`KeyedRetryPipeline`
    below: the same semantics over a hash-partitioned, last-write-wins
    parquet state table, with no driver collect of the data batch.
    """

    def __init__(
        self,
        process: Callable[[list], list[str]],
        policy: DeadLetterPolicy,
        nack_delay_ms: int = 0,
        on_dead_letter: Callable[[list], None] | None = None,
    ):
        self.process = process
        self.table = RetryTable(policy, nack_delay_ms=nack_delay_ms)
        self.on_dead_letter = on_dead_letter or (lambda rows: None)
        self._parked: dict[str, object] = {}  # message_id -> Row awaiting redelivery
        self._dead: list = []

    def __call__(self, batch_df: DataFrame, epoch_id: int, now: float | None = None) -> None:
        now = time.time() if now is None else now
        due = self.table.due_for_redelivery(now=now)
        redelivered = []
        for mid in due:
            row = self._parked.get(mid)
            if row is not None:
                d = row.asDict()
                d["redelivery_count"] = self.table.redelivery_count(mid)
                redelivered.append(d)
        fresh = batch_df.collect() if hasattr(batch_df, "collect") else list(batch_df)
        rows = fresh + [_DictRow(d) for d in redelivered]
        if not rows:
            return
        failed = set(self.process(rows))
        ok_ids = [r["message_id"] for r in rows if r["message_id"] not in failed]
        self.table.ack(ok_ids)
        for mid in ok_ids:
            self._parked.pop(mid, None)
        self.table.nack(sorted(failed), now=now)
        for r in rows:
            mid = r["message_id"]
            if mid in failed:
                self._parked[mid] = r
        # K7: exhausted records leave the retry loop for the DLQ; acking
        # them afterwards drops them from the retry state so dead-letter
        # bookkeeping stays bounded over the query lifetime
        dead_now = [m for m in self.table.dead_letters() if m in self._parked]
        if dead_now:
            dead_rows = [self._parked.pop(m) for m in dead_now]
            self._dead.extend(dead_rows)
            self.on_dead_letter(dead_rows)
            self.table.ack(dead_now)

    @property
    def dead_letters(self) -> list:
        return list(self._dead)

    def pending_ids(self) -> list[str]:
        return sorted(self._parked)


class _DictRow(dict):
    """Row-alike over a dict (supports r['col'] and .asDict())."""

    def asDict(self):  # noqa: N802 - Row API parity
        return dict(self)


class RetryTable:
    """K5/K6/K7 — per-record nack/redelivery state on top of micro-batch
    replay.

    In-memory dict keyed by message_id for local use; the keyed
    parquet-table equivalent at cluster scale is
    :class:`KeyedRetryPipeline` (per-message-id state,
    hash-partitioned, last-write-wins).
    """

    def __init__(
        self,
        policy: DeadLetterPolicy,
        nack_delay_ms: int = 0,
        ack_timeout_ms: int | None = None,
        backoff_multiplier: float = 1.0,
        max_delay_ms: int | None = None,
    ):
        self.policy = policy
        self.nack_delay_ms = nack_delay_ms
        self.ack_timeout_ms = ack_timeout_ms
        # Pulsar's NegativeAckRedeliveryExponentialBackoff: attempt n
        # waits nack_delay * multiplier^(n-1), capped at max_delay.
        # multiplier=1.0 (default) keeps the reference's fixed delay.
        self.backoff_multiplier = backoff_multiplier
        self.max_delay_ms = max_delay_ms
        self._state: dict[str, tuple[int, float]] = {}  # id -> (redeliveries, last_attempt)
        self._delivered: dict[str, float] = {}  # id -> delivery time, awaiting ack/nack (K6)

    def _delay_s(self, redeliveries: int) -> float:
        delay_ms = self.nack_delay_ms * (self.backoff_multiplier ** max(redeliveries - 1, 0))
        if self.max_delay_ms is not None:
            delay_ms = min(delay_ms, self.max_delay_ms)
        return delay_ms / 1000.0

    def deliver(self, message_ids: list[str], now: float | None = None) -> None:
        """K6 — stamp delivery time. A delivered id that is neither
        acked nor nacked is forced back out once ``ack_timeout_ms``
        elapses (no-op when no ack timeout is configured)."""
        if self.ack_timeout_ms is None:
            return
        now = time.time() if now is None else now
        for mid in message_ids:
            self._delivered[mid] = now

    def _expire_unacked(self, now: float) -> None:
        """K6 — an expired delivery counts as a redelivery trigger, due
        immediately (Pulsar ackTimeout redelivery is not delayed)."""
        if self.ack_timeout_ms is None:
            return
        timeout_s = self.ack_timeout_ms / 1000.0
        for mid, t0 in list(self._delivered.items()):
            if now - t0 >= timeout_s:
                del self._delivered[mid]
                count, _ = self._state.get(mid, (0, 0.0))
                self._state[mid] = (count + 1, now - self._delay_s(count + 1))

    def nack(self, message_ids: list[str], now: float | None = None) -> None:
        """K5 — negative-acknowledge: bump redelivery count, stamp time."""
        now = time.time() if now is None else now
        for mid in message_ids:
            self._delivered.pop(mid, None)
            count, _ = self._state.get(mid, (0, 0.0))
            self._state[mid] = (count + 1, now)

    def ack(self, message_ids: list[str]) -> None:
        """K4 — acknowledged records leave the retry state."""
        for mid in message_ids:
            self._state.pop(mid, None)
            self._delivered.pop(mid, None)

    def due_for_redelivery(self, now: float | None = None) -> list[str]:
        """K5/K6 — ids whose nack delay or ack timeout has elapsed and
        that are still under the DLQ threshold."""
        now = time.time() if now is None else now
        self._expire_unacked(now)
        due = []
        for mid, (count, last) in self._state.items():
            if count >= self.policy.max_redeliveries:
                continue
            if now - last >= self._delay_s(count):
                due.append(mid)
        return due

    def dead_letters(self) -> list[str]:
        """K7 — ids that exhausted max_redeliveries."""
        return [
            mid
            for mid, (count, _) in self._state.items()
            if count >= self.policy.max_redeliveries
        ]

    def redelivery_count(self, message_id: str) -> int:
        return self._state.get(message_id, (0, 0.0))[0]


class KeyedRetryPipeline:
    """K5/K6/K7 at cluster scale — per-record nack/redelivery/DLQ state
    in a hash-partitioned, epoch-versioned parquet table. The data batch
    is NEVER collected to the driver; every step is a DataFrame plan.

    This is the keyed-table form the ``RetryTable`` docstring promises
    (the in-memory twin remains for unit-level semantics). Reference
    contract: PulsarMessageConsumer.java:203-227 (ack after process),
    :295-304 (DLQ after max redeliveries).

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
    (conservative at-least-once). Rows whose bumped count reaches
    ``policy.max_redeliveries`` are routed to ``dlq_dir/v<epoch>/``
    (same idempotent versioning) and dropped from state, keeping state
    bounded.

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
