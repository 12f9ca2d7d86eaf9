"""Composed streaming gates: redact → privacy park-and-release →
curation (quality / dedup / split / pack) in ONE ``foreachBatch`` body
with all three state families under a single epoch/commit-marker
protocol.

This is the full ingest-side pipeline a training-data deployment
actually runs (the reference hands each polled batch to exactly one
injected pipeline — ``PulsarMessageConsumer.java:535-545`` — so the
composition must live inside one batch callback, not three chained
jobs): PII is scrubbed first, records wait in the privacy gate until
their quasi-identifier class is provably safe to use, and only
*released* records enter the curation pipeline (quality gate → exact
dedup index → train split → sequence packing). Records parked by the
privacy gate in epoch N and released in epoch M>N enter curation in
epoch M — curation's cross-batch dedup index and per-source pack
offsets therefore advance in RELEASE order, which is what makes the
composition's closed form expressible (and hash-checkable) at all.

Single-protocol state layout: one :class:`.epochstore.EpochStore` over
one root, shared by both gates:

- ``state_dir/stats|pending/v<epoch>`` — the privacy gate's families
  (:mod:`.privacy`).
- ``state_dir/released/v<epoch>`` — the privacy gate's per-epoch
  release output, which is also curation's per-epoch INPUT.
- ``state_dir/hashes|shingles|offsets/v<epoch>`` — curation's
  families (:mod:`.curation`).
- ``out_dir/v<epoch>`` — the packed training stream.
- ``state_dir/_commits/<epoch>`` — ONE marker for the whole composed
  epoch, landed only after every family's write succeeded. The
  composer runs each gate's ``_run`` (its writes, no marker) and
  commits once, so both gates discover committed epochs from the
  shared marker set: a crash anywhere mid-epoch (privacy written,
  curation not) leaves no marker, every reader stays blind to the torn
  epoch, and the replay rewrites every ``v<epoch>`` dir.

Monotone release (privacy) + order-insensitive index/dedup semantics
(curation on release-ordered batches) ⇒ the batch-twin identity holds
end-to-end, asserted in tests/test_streaming_composed.py and
hash-checked by ``q_streaming_composed_replay``'s closed-form oracle.
"""

from __future__ import annotations

import os
import traceback

from pyspark.sql import DataFrame, SparkSession

from mi_inbound_pulsar_spark.streaming.curation import StreamingCurationPipeline
from mi_inbound_pulsar_spark.streaming.privacy import StreamingPrivacyPipeline


class ComposedGatesPipeline:
    """``foreachBatch`` body chaining the privacy gate into curation
    under one commit protocol.

    The batch frame must carry ``id_col``, ``source_col``, ``qi_cols``,
    ``band_col`` and ``text_col``; released records are fed to curation
    as ``(doc_id, source, text)`` with the redacted text.

    ``num_partitions`` is accepted for existing callers and ignored:
    every family write of both gates is a keyed exchange with no pinned
    partition count, which AQE sizes to the epoch's bytes.
    """

    def __init__(
        self,
        state_dir: str,
        out_dir: str,
        qi_cols: list[str],
        band_col: str,
        id_col: str = "doc_id",
        source_col: str = "source",
        text_col: str = "text",
        k: int = 5,
        l_div: int = 3,
        min_tokens: int = 20,
        train_cut: str = "cd",
        pack_size: int = 512,
        num_partitions: int | None = None,
    ):
        self.state_dir = state_dir
        self.id_col = id_col
        self.source_col = source_col
        self.text_col = text_col
        self.privacy = StreamingPrivacyPipeline(
            state_dir=state_dir,
            out_dir=os.path.join(state_dir, "released"),
            qi_cols=qi_cols,
            band_col=band_col,
            id_col=id_col,
            text_col=text_col,
            k=k,
            l_div=l_div,
        )
        self.curation = StreamingCurationPipeline(
            state_dir=state_dir,
            out_dir=out_dir,
            min_tokens=min_tokens,
            train_cut=train_cut,
            pack_size=pack_size,
        )
        self.store = self.curation.store = self.privacy.store

    def read_output(self, spark: SparkSession) -> DataFrame | None:
        """Committed packed training stream (curation's output)."""
        return self.curation.read_output(spark)

    def read_released(self, spark: SparkSession) -> DataFrame | None:
        """Committed privacy-gate releases (curation's inputs)."""
        return self.privacy.read_output(spark)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        # 1+2. redact + park-and-release: the privacy families
        # (stats/pending/released v<epoch>) are SUBMITTED as concurrent
        # jobs and drain while curation computes (round 13, guide §2.6
        # — overlap independent jobs; the epoch's wall time drops by a
        # full job wave). Curation consumes the released FRAME — it
        # derives from the privacy gate's persisted candidates cache,
        # so it computes exactly the rows the concurrent released-dir
        # write lands (the dir itself remains the committed-state
        # artifact read_released serves).
        released, wait_privacy = self.privacy._run(batch_df, epoch_id)
        try:
            # 3+4. curation over the released records only (writes
            # hashes/shingles/offsets/out v<epoch>, no marker)
            self.curation._run(
                released.select(
                    released[self.id_col].alias("doc_id"),
                    released[self.source_col].alias("source"),
                    released[self.text_col].alias("text"),
                ),
                epoch_id,
            )
        except BaseException as exc:
            # privacy's writes quiesce before any failure propagates:
            # a torn epoch leaves a settled (arbitrary) subset of
            # v<epoch> dirs and NO marker — the seam matrix's contract.
            # The curation error is the one raised; a privacy write
            # failure rides along as a note with its traceback
            try:
                wait_privacy()
            except Exception as privacy_exc:  # noqa: BLE001 — attached, not lost
                exc.add_note(
                    "privacy-gate writes also failed:\n"
                    + "".join(traceback.format_exception(privacy_exc))
                )
            raise
        wait_privacy()
        # 5. the composed epoch's single commit marker
        self.store.commit(epoch_id)
