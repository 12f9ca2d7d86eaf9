"""Streaming training-data curation: the batch pipeline
(``q_training_data_pipeline``'s quality-gate → exact dedup → train
split → sequence packing) run per micro-batch in ``foreachBatch``,
with the **incremental dedup index** (``q_dedup_incremental``'s
delta-vs-base probe shape, dedup.py:1040) as cross-batch state.

This closes the loop between the ingestion layer (§2A: the reference
hands each message batch to a pipeline — PulsarMessageConsumer.java
:535-545) and the LLM-data-pipeline layer: the pipeline a curation
user would inject IS this object.

State design (families of one :class:`.epochstore.EpochStore`):

- ``state_dir/hashes/v<epoch>/`` — per-epoch DELTA of accepted
  documents' text hashes (exact-dedup index). Append-only: reading
  the index unions the committed deltas; a 100 TB deployment
  compacts old deltas with the layout.compact_small_files kernel.
- ``state_dir/shingles/v<epoch>/`` — per-epoch delta of accepted
  documents' hashed 3-gram shingles (near-dup inverted index). Each
  batch probes base-vs-delta only (``jaccard_matches_against``) —
  never base×base, so ingest cost is bounded by the batch.
- ``state_dir/offsets/v<epoch>/`` — full snapshot (it is one row per
  source) of the per-source cumulative token totals, so sequence
  packing continues across batch boundaries exactly where the
  previous batch stopped.
- ``out_dir/v<epoch>/`` — the epoch's packed training rows.
- The store's commit marker ``state_dir/_commits/<epoch>`` lands only
  after every write of that epoch succeeds. A replayed micro-batch
  (crash between state write and offset commit — the K3 case)
  deterministically REWRITES the same ``v<epoch>`` directories
  instead of appending twice: exactly-once output from at-least-once
  delivery.

Batch-boundary consistency: when batches arrive in doc_id order, the
union of the committed per-epoch outputs is row-identical to the
single-shot batch twin (asserted in tests/test_streaming_curation.py)
— the streaming form is a refinement, not a re-implementation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mi_inbound_pulsar_spark.streaming.epochstore import EpochStore

MIN_TOKENS = 20
TRAIN_CUT = "cd"
PACK_SIZE = 512


class StreamingCurationPipeline:
    """``foreachBatch`` body: quality → dedup (in-batch exact +
    cross-batch exact + cross-batch near-dup probe) → split → pack.

    ``neardup_threshold=None`` disables the shingle probe (exact
    cross-batch dedup only) — that configuration is row-identical to
    ``q_training_data_pipeline`` on ordered input. Enabling the probe
    on state whose committed epochs lack a shingle index raises
    ``ValueError`` at construction: backfill ``shingles/v<epoch>`` first.

    ``num_partitions`` is accepted for existing callers and ignored:
    every family write is a keyed exchange with no pinned partition
    count, which AQE sizes to the epoch's bytes.
    """

    def __init__(
        self,
        state_dir: str,
        out_dir: str,
        min_tokens: int = MIN_TOKENS,
        train_cut: str = TRAIN_CUT,
        pack_size: int = PACK_SIZE,
        neardup_threshold: float | None = None,
        num_partitions: int | None = None,
    ):
        self.state_dir = state_dir
        self.out_dir = out_dir
        self.min_tokens = min_tokens
        self.train_cut = train_cut
        self.pack_size = pack_size
        self.neardup_threshold = neardup_threshold
        self.store = EpochStore(state_dir)
        if neardup_threshold is not None:
            shingles = self._family("shingles")
            missing = sorted(
                set(self.store.committed()) - set(self.store.versions(shingles))
            )
            if missing:
                raise ValueError(
                    f"neardup_threshold is set but committed epochs {missing} "
                    f"have no shingle index under {shingles}; backfill "
                    "shingles/v<epoch> for them before enabling the probe"
                )

    def read_output(self, spark: SparkSession) -> DataFrame | None:
        """Union of the committed per-epoch packed outputs."""
        return self.store.union(spark, self.out_dir)

    def _family(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    @staticmethod
    def _hashed_shingles(docs: DataFrame) -> DataFrame:
        """(doc_id, shingle) with the shingle collapsed to a 64-bit
        hash — the index stores 8 bytes per posting, never the text."""
        from mi_inbound_pulsar_spark.operators.dedup import shingles

        return shingles(docs, n=3).select(
            "doc_id", F.xxhash64("shingle").alias("shingle")
        )

    # -- the foreachBatch body ----------------------------------------------
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self._run(batch_df, epoch_id)
        self.store.commit(epoch_id)

    def _run(self, batch_df: DataFrame, epoch_id: int) -> None:
        """The epoch's compute and family writes, without the commit
        marker — a composing caller (streaming/composed.py) lands one
        marker for several gates."""
        from mi_inbound_pulsar_spark.operators.dedup import jaccard_matches_against
        from mi_inbound_pulsar_spark.operators.sampling import hash_bucket

        spark = batch_df.sparkSession

        # 1. quality gate — narrow filter, pushed to the batch scan
        quality = batch_df.select(
            "doc_id",
            "source",
            "text",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        ).filter(F.col("n_tokens") >= self.min_tokens)

        # 2a. in-batch exact dedup (min-doc_id keeper). text/n_tokens
        # are identical across an md5 group, but SOURCE may differ
        # (cross-source duplicates exist in the corpus — observed at
        # sf0.1), so every passenger column is taken from the KEEPER
        # row via min_by: deterministic under any batch decomposition,
        # which the replay oracles' arg_min closed form depends on
        deduped = (
            quality.groupBy(F.md5("text").alias("text_md5"))
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.min_by("source", "doc_id").alias("source"),
                F.min_by("text", "doc_id").alias("text"),
                F.min_by("n_tokens", "doc_id").alias("n_tokens"),
            )
        )
        # 2b. cross-batch exact dedup: anti-join the accepted-hash index
        base_hashes = self.store.union(spark, self._family("hashes"), below=epoch_id)
        if base_hashes is not None:
            deduped = deduped.join(
                base_hashes.select("text_md5"), "text_md5", "left_anti"
            )
        # 2c. cross-batch near-dup: probe the base shingle index with
        # the delta only (q_dedup_incremental's asymmetric join — the
        # index is never self-joined)
        sh_base = (
            self.store.union(spark, self._family("shingles"), below=epoch_id)
            if self.neardup_threshold is not None
            else None
        )
        if sh_base is not None:
            sh_delta = self._hashed_shingles(deduped.select("doc_id", "text"))
            near = jaccard_matches_against(
                sh_delta, sh_base, self.neardup_threshold
            ).select(F.col("delta_id").alias("doc_id")).distinct()
            deduped = deduped.join(near, "doc_id", "left_anti")

        survivors = deduped.persist()
        survivors.count()  # fill the cache once before concurrent writes

        # 3+4 build the four state-family frames over the persisted
        # survivors, then write them as concurrent jobs at the end
        train = survivors.filter(
            hash_bucket(F.col("doc_id"), "split-") < self.train_cut
        )
        offsets = self.store.latest(spark, self._family("offsets"), below=epoch_id)
        if offsets is None:
            offsets = spark.createDataFrame([], "source string, total long")
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        packed = (
            train.join(F.broadcast(offsets), "source", "left")
            .withColumn(
                "stream_offset",
                F.coalesce("total", F.lit(0))
                + F.sum("n_tokens").over(w)
                - F.col("n_tokens"),
            )
            .select(
                "doc_id",
                "source",
                "n_tokens",
                "stream_offset",
                F.floor(F.col("stream_offset") / self.pack_size).alias("pack_start"),
            )
        )
        batch_totals = train.groupBy("source").agg(F.sum("n_tokens").alias("bt"))
        new_offsets = (
            offsets.join(batch_totals, "source", "full_outer")
            .select(
                "source",
                (F.coalesce("total", F.lit(0)) + F.coalesce("bt", F.lit(0))).alias(
                    "total"
                ),
            )
        )
        writes = [
            (survivors.select("text_md5", "doc_id"), self._family("hashes"), "text_md5"),
            (packed, self.out_dir, "source"),
            (new_offsets, self._family("offsets"), "source"),
        ]
        # the shingle inverted index is state FOR the near-dup probe
        # (2c) — when the probe is disabled nothing ever reads it, and
        # the per-epoch explode+hash+write of every survivor's 3-grams
        # was the epoch's fattest job (round 13; the three replay
        # queries and the composed pipeline all run with
        # neardup_threshold=None). A deployment enabling the probe
        # mid-stream must backfill the index for pre-enable epochs
        # either way (the constructor checks), so the gate loses nothing.
        if self.neardup_threshold is not None:
            writes.insert(
                1,
                (
                    self._hashed_shingles(survivors.select("doc_id", "text")),
                    self._family("shingles"),
                    "shingle",
                ),
            )
        try:
            self.store.submit(writes, epoch_id)()
        finally:
            survivors.unpersist()
