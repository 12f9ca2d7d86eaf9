"""Streaming privacy gate: batch-twin identity with the single-shot
k-anonymity/l-diversity filter, cross-batch park-and-release, and
idempotent epoch replay (the curation pipeline's state contract)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F


def _pipe(spark, **kw):
    from mi_inbound_pulsar_spark.streaming.privacy import StreamingPrivacyPipeline

    root = tempfile.mkdtemp(prefix="privacy_test_")
    return StreamingPrivacyPipeline(
        state_dir=os.path.join(root, "state"),
        out_dir=os.path.join(root, "out"),
        qi_cols=["nat", "seg"],
        band_col="band",
        id_col="rid",
        **kw,
    )


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "rid long, nat long, seg string, band long"
    )


def test_batch_twin_identity(spark, sf_dir):
    """Union of released epochs == the single-shot batch filter
    (records of classes with size >= k and >= l distinct bands), and
    released ∪ pending == every record — nothing lost, nothing
    duplicated, regardless of the batch decomposition."""
    c = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(
            F.col("c_custkey").alias("rid"),
            F.col("c_nationkey").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
            (F.col("c_custkey") % 7).alias("band"),
        )
    )
    pipe = _pipe(spark)
    hi = c.agg(F.max("rid")).first()[0]
    pipe(c.filter(F.col("rid") <= hi // 3), 0)
    pipe(c.filter((F.col("rid") > hi // 3) & (F.col("rid") <= 2 * hi // 3)), 1)
    pipe(c.filter(F.col("rid") > 2 * hi // 3), 2)

    out = pipe.read_output(spark)
    pending = pipe.read_pending(spark)
    released = {r["rid"] for r in out.collect()}
    parked = {r["rid"] for r in pending.collect()}

    stats = c.groupBy("nat", "seg").agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("band").alias("l")
    )
    safe = stats.filter((F.col("n") >= 5) & (F.col("l") >= 3)).select("nat", "seg")
    twin = {r["rid"] for r in c.join(safe, ["nat", "seg"]).collect()}
    everyone = {r["rid"] for r in c.collect()}

    assert released == twin
    assert released | parked == everyone
    assert not (released & parked)


def test_cross_batch_park_and_release(spark):
    """A class below threshold in epoch 0 parks its records; the epoch
    whose arrivals push the CUMULATIVE stats over both thresholds
    releases the parked records together with its own."""
    b0 = _frame(spark, [(1, 1, "A", 0), (2, 1, "A", 1), (3, 1, "A", 2)])
    b1 = _frame(spark, [(4, 1, "A", 0), (5, 1, "A", 1), (6, 2, "B", 0)])
    pipe = _pipe(spark)
    pipe(b0, 0)
    assert pipe.read_output(spark) is None or pipe.read_output(spark).count() == 0
    pipe(b1, 1)
    out = pipe.read_output(spark).collect()
    # class (1, A): size 5, 3 bands after epoch 1 -> all five released
    # at epoch 1, including the three parked epoch-0 arrivals
    assert {(r["rid"], r["release_epoch"]) for r in out} == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1)
    }
    assert {r["arrival_epoch"] for r in out} == {0, 1}
    # class (2, B) stays parked
    assert {r["rid"] for r in pipe.read_pending(spark).collect()} == {6}


def test_epoch_replay_is_idempotent(spark):
    """Re-running an epoch (crash before the commit marker — the K3
    at-least-once case) rewrites the same per-epoch state instead of
    double-counting: class statistics and outputs are unchanged."""
    b0 = _frame(spark, [(1, 1, "A", 0), (2, 1, "A", 1), (3, 1, "A", 2)])
    b1 = _frame(spark, [(4, 1, "A", 0), (5, 1, "A", 1)])
    pipe = _pipe(spark)
    pipe(b0, 0)
    pipe(b1, 1)
    first = sorted(
        (r["rid"], r["release_epoch"]) for r in pipe.read_output(spark).collect()
    )
    pipe(b1, 1)  # replayed micro-batch
    again = sorted(
        (r["rid"], r["release_epoch"]) for r in pipe.read_output(spark).collect()
    )
    assert first == again == [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)]
    stats = spark.read.parquet(
        os.path.join(pipe.state_dir, "stats", "v1")
    )
    # a double-counted replay would show n=2 for the epoch-1 bands
    assert stats.agg(F.sum("n")).first()[0] == 5


def test_redaction_applies_before_release(spark):
    """Released text is scrubbed; chars_removed accounts the delta."""
    rows = [(i, 1, "A", i % 3) for i in range(1, 7)]
    df = _frame(spark, rows).withColumn(
        "contact",
        F.concat(
            F.lit("reach user"), F.col("rid").cast("string"),
            F.lit("@example.com"),
        ),
    )
    pipe = _pipe(spark, text_col="contact")
    pipe(df, 0)
    out = pipe.read_output(spark).collect()
    assert len(out) == 6
    for r in out:
        assert r["contact"] == "reach <EMAIL>"
        assert r["chars_removed"] == len(f"user{r['rid']}@example.com") - len(
            "<EMAIL>"
        )


def test_crash_between_state_writes_replays_cleanly(spark):
    """The commit-marker contract's sharpest edge: a crash AFTER the
    stats snapshot lands but BEFORE the pending/out writes leaves a
    torn epoch on disk — stats/v1 exists, pending/v1 and out/v1 do
    not, and no marker. The contract: readers never see the torn
    epoch, and the restart's replay REWRITES v1 from scratch (not a
    second increment), converging to exactly the no-crash outcome."""
    import pytest

    b0 = _frame(spark, [(1, 1, "A", 0), (2, 1, "A", 1), (3, 1, "A", 2)])
    b1 = _frame(spark, [(4, 1, "A", 0), (5, 1, "A", 1)])

    # control: the no-crash outcome
    ctl = _pipe(spark)
    ctl(b0, 0)
    ctl(b1, 1)
    want_out = sorted(
        (r["rid"], r["release_epoch"]) for r in ctl.read_output(spark).collect()
    )

    pipe = _pipe(spark)
    pipe(b0, 0)

    orig_write = pipe.store.write

    def torn_write(df, root, epoch_id, key):
        orig_write(df, root, epoch_id, key)
        if os.path.basename(root) == "stats" and epoch_id == 1:
            raise RuntimeError("injected crash mid-epoch")

    pipe.store.write = torn_write
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe(b1, 1)
    pipe.store.write = orig_write

    # torn state on disk: stats/v1 exists (its concurrent siblings may
    # too — intra-epoch writes are unordered since round 11), no
    # marker, readers blind to the whole epoch
    assert os.path.isdir(os.path.join(pipe.state_dir, "stats", "v1"))
    assert pipe.store.committed() == [0]
    assert all(
        r["release_epoch"] == 0 for r in pipe.read_output(spark).collect()
    )

    # restart: at-least-once redelivers epoch 1; the replay must
    # rewrite the torn stats/v1 (not add to it) and land everything
    pipe(b1, 1)
    assert pipe.store.committed() == [0, 1]
    got_out = sorted(
        (r["rid"], r["release_epoch"]) for r in pipe.read_output(spark).collect()
    )
    assert got_out == want_out == [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)]
    stats = spark.read.parquet(os.path.join(pipe.state_dir, "stats", "v1"))
    assert stats.agg(F.sum("n")).first()[0] == 5  # 10 would mean torn+replay summed
