"""EpochStore, the commit protocol under every stateful pipeline:
snapshot GC, DLQ visibility past the GC horizon, torn and replayed
versions, schema reuse without an inference job, and loud concurrent
write failures."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F


def _rows(spark, ids):
    return spark.createDataFrame([(str(i),) for i in ids], "message_id string")


def _ids(df):
    return sorted(r["message_id"] for r in df.collect())


def test_retain_gc_keeps_two_snapshots_and_every_dlq_delta(spark, tmp_path):
    """retain=2 leaves exactly two markers and two root-level versions,
    while union still serves the DLQ deltas of the collected epochs."""
    from mi_inbound_pulsar_spark.streaming.epochstore import EpochStore

    root, dlq = str(tmp_path / "state"), str(tmp_path / "state" / "_dlq")
    store = EpochStore(root)
    for e in range(4):
        store.write(_rows(spark, [f"d{e}"]), dlq, e, "message_id")
        store.write(_rows(spark, [f"s{e}"]), root, e, "message_id")
        store.commit(e, retain=2)

    assert store.committed() == [2, 3]
    assert store.versions(root) == [2, 3]
    assert sorted(os.listdir(os.path.join(root, "_commits"))) == ["2", "3"]
    assert _ids(store.latest(spark, root)) == ["s3"]
    assert _ids(store.union(spark, dlq)) == ["d0", "d1", "d2", "d3"]


def test_torn_version_above_newest_marker_is_invisible(spark, tmp_path):
    from mi_inbound_pulsar_spark.streaming.epochstore import EpochStore

    root = str(tmp_path / "state")
    out = os.path.join(root, "out")
    store = EpochStore(root)
    store.write(_rows(spark, [1]), out, 0, "message_id")
    store.commit(0)
    store.write(_rows(spark, [2]), out, 1, "message_id")  # crash: no marker

    assert store.versions(out) == [0, 1]
    assert _ids(store.union(spark, out)) == ["1"]
    assert _ids(store.latest(spark, out)) == ["1"]
    assert EpochStore(root).committed() == [0]


def test_replayed_epoch_rewrites_its_version(spark, tmp_path):
    from mi_inbound_pulsar_spark.streaming.epochstore import EpochStore

    root = str(tmp_path / "state")
    out = os.path.join(root, "out")
    store = EpochStore(root)
    store.write(_rows(spark, [1, 2]), out, 0, "message_id")
    store.commit(0)
    store.write(_rows(spark, [3]), out, 0, "message_id")  # replay of epoch 0
    store.commit(0)

    assert store.committed() == [0]
    assert _ids(store.union(spark, out)) == ["3"]
    assert _ids(store.latest(spark, out, below=1)) == ["3"]
    assert store.latest(spark, out, below=0) is None


def test_latest_of_own_commit_launches_no_inference_job(spark, tmp_path):
    """A version this store wrote is read with the schema it wrote; a
    fresh store over the same root has to infer it (one job or more),
    which shows the count is sensitive."""
    from mi_inbound_pulsar_spark.streaming.epochstore import EpochStore

    root = str(tmp_path / "state")
    store = EpochStore(root)
    df = spark.createDataFrame([("a", 1)], "message_id string, n long")
    store.write(df, root, 0, "message_id")
    store.commit(0)

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    own = store.latest(spark, root)
    assert dag.numTotalJobs() - before == 0
    assert own.schema.names == ["message_id", "n"]

    before = dag.numTotalJobs()
    EpochStore(root).latest(spark, root)
    assert dag.numTotalJobs() - before >= 1


def test_submit_reports_every_failed_write(spark, tmp_path):
    """Two of three families fail: wait() quiesces all three, the good
    family lands, and both failures are reported in one group."""
    from mi_inbound_pulsar_spark.streaming.epochstore import EpochStore

    root = str(tmp_path / "state")
    store = EpochStore(root)

    def failing(msg):
        return spark.range(1).select(
            F.col("id").cast("string").alias("message_id"), F.raise_error(F.lit(msg))
        )

    wait = store.submit(
        [
            (failing("boom stats"), os.path.join(root, "stats"), "message_id"),
            (_rows(spark, [1]), os.path.join(root, "good"), "message_id"),
            (failing("boom pending"), os.path.join(root, "pending"), "message_id"),
        ],
        0,
    )
    with pytest.raises(ExceptionGroup) as ei:
        wait()
    messages = " ".join(str(e) for e in ei.value.exceptions)
    assert len(ei.value.exceptions) == 2
    assert "boom stats" in messages and "boom pending" in messages
    assert store.versions(os.path.join(root, "good")) == [0]
    assert store.committed() == []


def test_submit_pool_exits_without_wait(tmp_path):
    """The write pool is shut down at submission: its threads finish
    and exit while the caller still holds wait() without calling it."""
    from mi_inbound_pulsar_spark.streaming.epochstore import EpochStore

    store = EpochStore(str(tmp_path / "state"))
    store.write = lambda df, root, epoch_id, key: None
    before = set(threading.enumerate())
    wait = store.submit([(None, "a", "k"), (None, "b", "k")], 0)  # noqa: F841
    pool = [t for t in threading.enumerate() if t not in before]
    assert pool
    for t in pool:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in pool)
