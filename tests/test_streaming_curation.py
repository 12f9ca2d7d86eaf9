"""Streaming training-data curation: batch-boundary consistency with
the batch twin (q_training_data_pipeline), cross-batch near-dup state,
and idempotent epoch replay."""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import functions as F


def _pipe(tmp_prefix: str, **kw):
    from mi_inbound_pulsar_spark.streaming.curation import StreamingCurationPipeline

    root = tempfile.mkdtemp(prefix=tmp_prefix)
    return StreamingCurationPipeline(
        state_dir=os.path.join(root, "state"),
        out_dir=os.path.join(root, "out"),
        **kw,
    )


def test_streaming_curation_matches_batch_twin(spark, sf_dir):
    """The documents table streamed in 3 doc_id-ordered micro-batches
    through foreachBatch must produce, across all committed epochs,
    exactly the rows of the single-shot batch pipeline — dedup keepers,
    split membership, and cross-batch pack offsets all line up."""
    from mi_inbound_pulsar_spark.operators.sampling import q_training_data_pipeline
    from mi_inbound_pulsar_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    staging = tempfile.mkdtemp(prefix="curation_stream_")
    cuts = [(0, 170), (170, 340), (340, 10**9)]
    for i, (lo, hi) in enumerate(cuts):
        path = os.path.join(staging, f"part{i}.parquet")
        (
            d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(path)
        )
        # file source processes oldest-mtime first: pin the order
        t = time.time() - 300 + i * 60
        for f in [os.path.join(path, x) for x in os.listdir(path)]:
            os.utime(f, (t, t))

    pipe = _pipe("curation_twin_")
    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(staging)
    )
    q = stream.writeStream.foreachBatch(pipe).start()
    q.processAllAvailable()
    q.stop()

    assert len(pipe.store.committed()) >= 3  # really a micro-batch sequence
    got = {
        (r.doc_id, r.source, r.n_tokens, r.stream_offset, r.pack_start)
        for r in pipe.read_output(spark).collect()
    }
    want = {
        (r.doc_id, r.source, r.n_tokens, r.stream_offset, r.pack_start)
        for r in q_training_data_pipeline(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_curation_neardup_state_drops_cross_batch(spark):
    """A later batch's near-duplicate of an earlier accepted document
    is dropped by the shingle-index probe; a unique document in the
    same batch passes. Acceptance is read from the hash-index state
    delta (dedup happens before the train split)."""
    base = " ".join(f"tok{i}" for i in range(30))
    neardup = " ".join(f"tok{i}" for i in range(29)) + " changed"
    unique = " ".join(f"other{i}" for i in range(25))

    pipe = _pipe("curation_near_", neardup_threshold=0.5)
    b0 = spark.createDataFrame([(1, "web", base)], "doc_id long, source string, text string")
    b1 = spark.createDataFrame(
        [(10, "web", neardup), (11, "web", unique)],
        "doc_id long, source string, text string",
    )
    pipe(b0, 0)
    pipe(b1, 1)

    v0 = spark.read.parquet(os.path.join(pipe.state_dir, "hashes", "v0"))
    v1 = spark.read.parquet(os.path.join(pipe.state_dir, "hashes", "v1"))
    assert [r.doc_id for r in v0.collect()] == [1]
    assert [r.doc_id for r in v1.collect()] == [11]  # 10 = near-dup, dropped


def test_streaming_curation_replay_is_idempotent(spark):
    """Replaying an epoch (K3: crash between state write and offset
    commit) rewrites the same version instead of double-appending:
    output rows and the per-source token totals are unchanged."""
    texts = [" ".join(f"w{i}a{j}" for i in range(25)) for j in range(6)]
    pipe = _pipe("curation_replay_")
    b0 = spark.createDataFrame(
        [(i, "web", texts[i]) for i in range(3)],
        "doc_id long, source string, text string",
    )
    b1 = spark.createDataFrame(
        [(i + 3, "web", texts[i + 3]) for i in range(3)],
        "doc_id long, source string, text string",
    )
    pipe(b0, 0)
    pipe(b1, 1)
    first = sorted(
        (r.doc_id, r.stream_offset) for r in pipe.read_output(spark).collect()
    )
    totals = {
        r.source: r.total
        for r in spark.read.parquet(
            os.path.join(pipe.state_dir, "offsets", "v1")
        ).collect()
    }

    pipe(b1, 1)  # replay the same epoch
    assert (
        sorted((r.doc_id, r.stream_offset) for r in pipe.read_output(spark).collect())
        == first
    )
    totals2 = {
        r.source: r.total
        for r in spark.read.parquet(
            os.path.join(pipe.state_dir, "offsets", "v1")
        ).collect()
    }
    assert totals2 == totals


def test_crash_between_state_writes_replays_cleanly(spark):
    """Torn-epoch injection for the curation state family: kill after
    the hashes delta lands but before the packed output and
    offsets snapshot (no commit marker). Readers must not see the torn
    epoch — in particular the NEXT replay must not treat the torn
    hashes/v1 as committed index (which would dedup epoch 1's own
    documents against themselves and emit nothing) — and the restart
    rewrites every v1 dir, converging to the no-crash outcome."""
    import pytest

    from pyspark.sql import Row

    def frame(lo, hi):
        rows = [
            Row(doc_id=i, source="s", text=" ".join(f"w{i}t{j}" for j in range(25)))
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(rows)

    ctl = _pipe("curation_ctl_")
    ctl(frame(0, 40), 0)
    ctl(frame(40, 80), 1)
    want = {
        (r.doc_id, r.stream_offset, r.pack_start)
        for r in ctl.read_output(spark).collect()
    }

    pipe = _pipe("curation_torn_")
    pipe(frame(0, 40), 0)

    orig_write = pipe.store.write

    def torn_write(df, root, epoch_id, key):
        orig_write(df, root, epoch_id, key)
        if os.path.basename(root) == "hashes" and epoch_id == 1:
            raise RuntimeError("injected crash mid-epoch")

    pipe.store.write = torn_write
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe(frame(40, 80), 1)
    pipe.store.write = orig_write

    # hashes/v1 landed; its concurrent sibling families may or may
    # not have (intra-epoch writes are unordered since round 11) — no
    # marker landed, which is all the contract promises
    assert os.path.isdir(os.path.join(pipe.state_dir, "hashes", "v1"))
    assert pipe.store.committed() == [0]

    pipe(frame(40, 80), 1)  # restart replay
    assert pipe.store.committed() == [0, 1]
    got = {
        (r.doc_id, r.stream_offset, r.pack_start)
        for r in pipe.read_output(spark).collect()
    }
    assert got == want
    # offsets snapshot reflects exactly one accounting of epoch 1
    off = spark.read.parquet(os.path.join(pipe.state_dir, "offsets", "v1"))
    ctl_off = spark.read.parquet(os.path.join(ctl.state_dir, "offsets", "v1"))
    assert sorted(map(tuple, off.collect())) == sorted(map(tuple, ctl_off.collect()))


def test_neardup_probe_without_shingle_backfill_fails_fast(spark):
    """Two epochs committed with the probe off have no shingle index;
    turning the probe on over that state fails at construction and
    names the epochs to backfill, instead of a path-not-found mid-batch."""
    import pytest

    from mi_inbound_pulsar_spark.streaming.curation import StreamingCurationPipeline

    pipe = _pipe("curation_backfill_")
    for e in range(2):
        text = " ".join(f"w{e}t{j}" for j in range(25))
        pipe(
            spark.createDataFrame(
                [(e, "web", text)], "doc_id long, source string, text string"
            ),
            e,
        )
    assert pipe.store.committed() == [0, 1]

    with pytest.raises(ValueError, match=r"\[0, 1\].*backfill"):
        StreamingCurationPipeline(
            state_dir=pipe.state_dir, out_dir=pipe.out_dir, neardup_threshold=0.5
        )
