"""Streaming privacy gate: PII redaction + k-anonymity / l-diversity
release control run per micro-batch in ``foreachBatch``, with the
cross-batch quasi-identifier statistics as persisted state — the
privacy companion of :mod:`mi_inbound_pulsar_spark.streaming.curation`
(same state design: one :mod:`.epochstore` protocol).

The streaming twist over the batch audits (``q_k_anonymity`` /
``q_l_diversity``, aggstats.py): a record may arrive BEFORE its
quasi-identifier class is safe to release. The pipeline **parks** such
records and releases them in the first epoch whose cumulative class
statistics satisfy both thresholds (park-and-release). State families,
written through :class:`.epochstore.EpochStore`:

- ``state_dir/stats/v<epoch>/`` — full snapshot of per-(class, band)
  cumulative counts. Bounded by |QI domain| × |band domain| (tiny by
  definition — if the QI domain were corpus-scale the data would be
  trivially k-anonymous), so a snapshot, not a delta.
- ``state_dir/pending/v<epoch>/`` — full snapshot of parked records
  (arrival epoch preserved). Shrinks as classes qualify; bounded by
  the rows of never-qualifying classes.
- ``out_dir/v<epoch>/`` — records released this epoch, with their
  ``release_epoch``.
- ``state_dir/_commits/<epoch>`` — the store's commit marker, landed
  after all three writes; a replayed epoch rewrites the same
  ``v<epoch>`` dirs (exactly-once from at-least-once, the K3 contract).

Release is MONOTONE (cumulative counts only grow), so the union of
committed outputs over any batch decomposition equals the single-shot
batch filter over the full data — the batch-twin identity asserted in
tests/test_streaming_privacy.py and hash-checked by
``q_streaming_privacy_replay``'s closed-form oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mi_inbound_pulsar_spark.streaming.epochstore import EpochStore

K_ANON = 5
L_DIVERSE = 3
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"
PHONE_RE = r"\b555-[0-9][0-9][0-9][0-9]\b"


class StreamingPrivacyPipeline:
    """``foreachBatch`` body: redact → update QI stats → release the
    records of every class whose CUMULATIVE statistics meet
    ``k``-anonymity and ``l``-diversity, parking the rest.

    ``qi_cols`` are the quasi-identifier columns, ``band_col`` the
    sensitive attribute (already banded), ``text_col`` the free-text
    column to scrub (pass ``None`` to skip redaction), ``id_col`` a
    unique record id.

    ``num_partitions`` is accepted for existing callers and ignored:
    every family write is a keyed exchange with no pinned partition
    count, which AQE sizes to the epoch's bytes.
    """

    def __init__(
        self,
        state_dir: str,
        out_dir: str,
        qi_cols: list[str],
        band_col: str,
        id_col: str,
        text_col: str | None = None,
        k: int = K_ANON,
        l_div: int = L_DIVERSE,
        num_partitions: int | None = None,
    ):
        self.state_dir = state_dir
        self.out_dir = out_dir
        self.qi_cols = list(qi_cols)
        self.band_col = band_col
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.l_div = l_div
        self.store = EpochStore(state_dir)

    def read_output(self, spark: SparkSession) -> DataFrame | None:
        return self.store.union(spark, self.out_dir)

    def read_pending(self, spark: SparkSession) -> DataFrame | None:
        return self.store.latest(spark, os.path.join(self.state_dir, "pending"))

    def _redacted(self, df: DataFrame) -> DataFrame:
        if self.text_col is None:
            return df
        t = self.text_col
        clean = F.regexp_replace(
            F.regexp_replace(t, F.lit(EMAIL_RE), F.lit("<EMAIL>")),
            F.lit(PHONE_RE),
            F.lit("<PHONE>"),
        )
        return df.withColumn(
            "chars_removed", (F.length(t) - F.length(clean)).cast("long")
        ).withColumn(t, clean)

    # -- the foreachBatch body ----------------------------------------------
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        _released, wait = self._run(batch_df, epoch_id)
        wait()
        self.store.commit(epoch_id)

    def _run(self, batch_df: DataFrame, epoch_id: int):
        """Compute the epoch, SUBMIT its three family writes as
        concurrent jobs WITHOUT waiting, and return
        ``(released_frame, wait)`` — the deferred form a composing
        caller (streaming/composed.py) uses to overlap these writes
        with the next gate's compute. ``wait()`` joins every write
        (:meth:`.EpochStore.submit`) and releases the epoch's caches;
        the caller owns the commit marker. The released frame derives from the PERSISTED
        candidates cache, so a consumer reading it computes the same
        rows the concurrent ``released`` dir write lands."""
        spark = batch_df.sparkSession
        stats_root = os.path.join(self.state_dir, "stats")
        pending_root = os.path.join(self.state_dir, "pending")
        qi = self.qi_cols

        arrivals = self._redacted(batch_df).withColumn(
            "arrival_epoch", F.lit(epoch_id).cast("long")
        )

        # 1. cumulative per-(class, band) counts — prior snapshot + batch
        batch_stats = arrivals.groupBy(*qi, self.band_col).agg(
            F.count(F.lit(1)).alias("n")
        )
        prev = self.store.latest(spark, stats_root, below=epoch_id)
        if prev is not None:
            stats = (
                prev.unionByName(batch_stats)
                .groupBy(*qi, self.band_col)
                .agg(F.sum("n").alias("n"))
            )
        else:
            stats = batch_stats
        stats = stats.persist()

        # 2. classes safe to release under the CUMULATIVE statistics
        safe = (
            stats.groupBy(*qi)
            .agg(
                F.sum("n").alias("class_size"),
                F.count(F.lit(1)).alias("l_distinct"),  # one row per band
            )
            .filter(
                (F.col("class_size") >= self.k)
                & (F.col("l_distinct") >= self.l_div)
            )
            .select(*qi)
        )

        # 3. park-and-release: prior pending ∪ this batch, split by class
        # safety. The safe-class frame is QI-domain-bounded → broadcast.
        pending = self.store.latest(spark, pending_root, below=epoch_id)
        if pending is not None:
            candidates = pending.unionByName(arrivals)
        else:
            candidates = arrivals
        candidates = candidates.persist()
        released = candidates.join(F.broadcast(safe), qi).withColumn(
            "release_epoch", F.lit(epoch_id).cast("long")
        )
        still_pending = candidates.join(F.broadcast(safe), qi, "left_anti")

        # 4. idempotent epoch writes (concurrent jobs — all three
        # families derive from the persisted stats/candidates frames),
        # then the commit marker. The separate cache-fill wave before
        # the writes (fill_all, rounds 11-12) is gone (round 13): at
        # replay batch sizes a job WAVE is mostly fixed scheduling
        # cost, so one wave of slightly-fatter jobs (the racing writes
        # fill the persisted frames' caches themselves; a concurrently
        # computed partition is deduped at BlockManager put, only the
        # tiny upstream compute is duplicated) beats two waves —
        # measured on the full replay, min-of-3 interleaved.
        wait_writes = self.store.submit(
            [
                (stats, stats_root, qi[0]),
                (still_pending, pending_root, self.id_col),
                (released, self.out_dir, self.id_col),
            ],
            epoch_id,
        )

        def wait() -> None:
            try:
                wait_writes()
            finally:
                candidates.unpersist()
                stats.unpersist()

        return released, wait
