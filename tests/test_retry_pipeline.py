"""K5/K6/K7 integration: per-record retry/redelivery/DLQ over a live
streaming query (the reference's at-least-once + nack + DLQ contract,
rebuilt on micro-batches)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mi_inbound_pulsar_spark.config import DeadLetterPolicy
from mi_inbound_pulsar_spark.sources.pulsar_source import (
    publish_frame,
    simulated_message_frame,
    simulated_stream,
)
from mi_inbound_pulsar_spark.streaming.delivery import KeyedRetryPipeline


def test_flaky_records_retry_until_success_poison_goes_to_dlq(spark, sf_dir, tmp_path):
    stream = simulated_stream(spark, sf_dir, staging_dir=str(tmp_path / "staging"), files=3)
    frame = simulated_message_frame(spark, sf_dir)
    total = frame.count()

    attempts: dict[str, int] = {}
    processed: list[str] = []

    def process(deliver, epoch_id):
        failed = []
        # test-side collect: the tiny sf0.001 batch is judged in Python
        for r in deliver.select("message_id").collect():
            mid = r["message_id"]
            n = attempts.get(mid, 0) + 1
            attempts[mid] = n
            mid_i = int(mid)
            if mid_i % 100 == 7 and n <= 2:
                failed.append(mid)  # flaky: succeeds on 3rd attempt
            elif mid_i % 100 == 13:
                failed.append(mid)  # poison: always fails
            else:
                processed.append(mid)
        ok = ~F.col("message_id").isin(failed)
        return deliver.select("message_id", ok.alias("ok"))

    pipe = KeyedRetryPipeline(
        process,
        DeadLetterPolicy(max_redeliveries=3),
        state_dir=str(tmp_path / "state"),
        nack_delay_ms=0,
    )
    q = stream.writeStream.foreachBatch(pipe).start()
    q.processAllAvailable()
    q.stop()
    # drain remaining redeliveries (stream ended; drive the pipe directly)
    empty = spark.createDataFrame([], frame.schema)
    for i in range(6):
        pipe(empty, epoch_id=10_000 + i)

    poison = {r["message_id"] for r in simulated_message_frame(spark, sf_dir)
              .filter(F.col("message_id").cast("long") % 100 == 13).collect()}
    flaky = {r["message_id"] for r in simulated_message_frame(spark, sf_dir)
             .filter(F.col("message_id").cast("long") % 100 == 7).collect()}

    # every flaky record eventually processed (3 attempts each)
    assert flaky <= set(processed)
    assert all(attempts[m] == 3 for m in flaky)
    # every poison record hit the DLQ after exactly max_redeliveries
    dead_ids = {r["message_id"] for r in pipe.dead_letters_df(spark).collect()}
    assert dead_ids == poison
    assert all(attempts[m] == 3 for m in poison)
    # nothing processed twice, nothing lost
    assert len(processed) == len(set(processed)) == total - len(poison)
    assert pipe.state_df(spark).count() == 0


def test_nack_delay_defers_redelivery(spark, tmp_path):
    fake = [1000.0]
    seen: list[str] = []

    def fail_all(deliver, epoch_id):
        return deliver.select("message_id", F.lit(False).alias("ok"))  # everything fails

    pipe = KeyedRetryPipeline(
        fail_all,
        DeadLetterPolicy(max_redeliveries=10),
        state_dir=str(tmp_path / "state"),
        nack_delay_ms=60_000,
        clock=lambda: fake[0],
    )
    schema = "message_id string, redelivery_count int"
    empty = spark.createDataFrame([], schema)

    pipe(spark.createDataFrame([("1", 0)], schema), 0)
    assert [r["message_id"] for r in pipe.state_df(spark).collect()] == ["1"]

    def recording_process(deliver, epoch_id):
        seen.extend(r["message_id"] for r in deliver.collect())
        return deliver.select("message_id", F.lit(True).alias("ok"))  # succeed this time

    pipe.process = recording_process
    # K5: before the delay elapses the record is NOT redelivered
    fake[0] = 1030.0
    pipe(empty, 1)
    assert seen == []
    fake[0] = 1061.0
    pipe(empty, 2)  # delay elapsed → redelivered
    assert seen == ["1"]
    assert pipe.state_df(spark).count() == 0


def test_retrytable_ack_timeout_forces_redelivery():
    """K6 — delivered-but-never-acked records come back after ack_timeout."""
    from retry_model import RetryTable

    t = RetryTable(DeadLetterPolicy(max_redeliveries=5), nack_delay_ms=0, ack_timeout_ms=60_000)
    t.deliver(["a", "b"], now=0.0)
    assert t.due_for_redelivery(now=59.0) == []
    t.ack(["b"])  # acked in time — never redelivered
    assert t.due_for_redelivery(now=61.0) == ["a"]
    assert t.redelivery_count("a") == 1  # timeout counted as a redelivery
    assert t.redelivery_count("b") == 0
    t.ack(["a"])
    assert t.due_for_redelivery(now=500.0) == []


def test_keyed_retry_flaky_poison_dlq_across_restart(spark, sf_dir, tmp_path):
    """K5/K7 at table scale: flaky records succeed on the 3rd attempt,
    poison records land in the DLQ after exactly max_redeliveries — with
    retry state in a keyed parquet table that survives a query
    kill/restart, and no collect() of any data batch."""
    import inspect

    from mi_inbound_pulsar_spark.streaming.delivery import KeyedRetryPipeline

    # the whole point of the keyed-table form: the data path stays distributed
    assert ".collect()" not in inspect.getsource(KeyedRetryPipeline)

    staging, state = str(tmp_path / "staging"), str(tmp_path / "state")
    ckpt, audit = str(tmp_path / "ckpt"), str(tmp_path / "audit")
    frame = simulated_message_frame(spark, sf_dir)
    total = frame.count()

    def process(deliver, epoch_id):
        deliver.select("message_id", "redelivery_count").write.mode("append").parquet(audit)
        mid = F.col("message_id").cast("long")
        ok = ~(((mid % 100 == 7) & (F.col("redelivery_count") < 2)) | (mid % 100 == 13))
        return deliver.select("message_id", ok.alias("ok"))

    def make_pipe():
        return KeyedRetryPipeline(
            process,
            DeadLetterPolicy(max_redeliveries=3),
            state_dir=state,
            nack_delay_ms=0,
        )

    def run_query(pipe):
        # availableNow: one batch per staged file, then terminate — no
        # trailing empty batches, so parked retries stay parked
        q = (
            spark.readStream.schema(frame.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staging)
            .writeStream.foreachBatch(pipe)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(180)

    # phase 1: half the topic, then the query terminates with retries parked
    publish_frame(frame.filter(F.col("message_id").cast("long") < 500), staging, files=2)
    run_query(make_pipe())
    assert make_pipe().state_df(spark).count() > 0  # parked retries survived the stop

    # phase 2: rest of the topic, NEW pipeline object + NEW query, same
    # state table + checkpoint — durable state drives the redeliveries
    publish_frame(frame.filter(F.col("message_id").cast("long") >= 500), staging, files=2)
    pipe2 = make_pipe()
    run_query(pipe2)
    # drain remaining parked redeliveries with empty batches
    empty = spark.createDataFrame([], frame.schema)
    for i in range(6):
        pipe2(empty, epoch_id=10_000 + i)

    poison = {
        r["message_id"]
        for r in frame.filter(F.col("message_id").cast("long") % 100 == 13).collect()
    }
    flaky = {
        r["message_id"]
        for r in frame.filter(F.col("message_id").cast("long") % 100 == 7).collect()
    }

    # K7: exactly the poison set in the DLQ, each after exactly 3 deliveries
    dlq = pipe2.dead_letters_df(spark)
    dead = {(r["message_id"], r["redelivery_count"]) for r in dlq.collect()}
    assert {m for m, _ in dead} == poison
    assert all(c == 3 for _, c in dead)
    # retry state drained to empty (flaky acked, poison dead-lettered)
    assert pipe2.state_df(spark).count() == 0

    # delivery audit (dedup — a replayed epoch appends twice): flaky and
    # poison delivered exactly 3x (counts 0,1,2), everything else once
    import duckdb

    con = duckdb.connect()
    att = {
        m: n
        for m, n in con.sql(
            f"SELECT message_id, count(DISTINCT redelivery_count) FROM '{audit}/*.parquet' GROUP BY 1"
        ).fetchall()
    }
    assert all(att[m] == 3 for m in poison)
    assert all(att[m] == 3 for m in flaky)
    assert sum(att.values()) == total + 2 * len(poison) + 2 * len(flaky)


def test_keyed_retry_ack_timeout_k6(spark, tmp_path):
    """K6 at table scale: rows missing from the outcome frame are parked
    and redelivered only after ack_timeout elapses."""
    from mi_inbound_pulsar_spark.streaming.delivery import KeyedRetryPipeline

    fake = [1000.0]
    seen: list[tuple[str, int]] = []

    def process(deliver, epoch_id):
        seen.extend((r["message_id"], r["redelivery_count"]) for r in deliver.collect())
        # respond only to even ids; odd ids get no ack and no nack
        return deliver.select(
            "message_id", (F.col("message_id").cast("long") % 2 == 0).alias("ok")
        ).filter(F.col("ok"))

    pipe = KeyedRetryPipeline(
        process,
        DeadLetterPolicy(max_redeliveries=5),
        state_dir=str(tmp_path / "state"),
        nack_delay_ms=0,
        ack_timeout_ms=60_000,
        clock=lambda: fake[0],
    )
    batch = spark.createDataFrame(
        [("1", 0), ("2", 0)], "message_id string, redelivery_count int"
    )
    empty = spark.createDataFrame([], "message_id string, redelivery_count int")

    pipe(batch, 0)
    assert sorted(seen) == [("1", 0), ("2", 0)]
    seen.clear()
    fake[0] = 1030.0  # timeout not yet elapsed → nothing redelivered
    pipe(empty, 1)
    assert seen == []
    fake[0] = 1061.0  # elapsed → the unacked odd id comes back, count bumped
    pipe(empty, 2)
    assert seen == [("1", 1)]


def test_keyed_retry_exponential_backoff(spark, tmp_path):
    """K5 backoff at table scale: with multiplier 2 and base 60s, the
    n-th redelivery waits 60s * 2^(n-1), capped at max_delay."""
    from mi_inbound_pulsar_spark.streaming.delivery import KeyedRetryPipeline

    fake = [0.0]
    seen: list[tuple[str, int]] = []

    def process(deliver, epoch_id):
        seen.extend((r["message_id"], r["redelivery_count"]) for r in deliver.collect())
        return deliver.select("message_id", F.lit(False).alias("ok"))  # always nack

    pipe = KeyedRetryPipeline(
        process,
        DeadLetterPolicy(max_redeliveries=10),
        state_dir=str(tmp_path / "state"),
        nack_delay_ms=60_000,
        backoff_multiplier=2.0,
        max_delay_ms=180_000,
        clock=lambda: fake[0],
    )
    batch = spark.createDataFrame([("a", 0)], "message_id string, redelivery_count int")
    empty = spark.createDataFrame([], "message_id string, redelivery_count int")

    pipe(batch, 0)  # delivered at t=0, nacked -> count 1, delay 60s
    assert seen == [("a", 0)]
    fake[0] = 59.0
    pipe(empty, 1)
    assert len(seen) == 1  # not due yet
    fake[0] = 61.0
    pipe(empty, 2)  # 2nd delivery -> count 2, next delay 120s
    assert seen[-1] == ("a", 1)
    fake[0] = 61.0 + 119.0
    pipe(empty, 3)
    assert len(seen) == 2  # 120s not yet elapsed
    fake[0] = 61.0 + 121.0
    pipe(empty, 4)  # 3rd delivery -> count 3, raw delay 240s but capped at 180s
    assert seen[-1] == ("a", 2)
    fake[0] = 61.0 + 121.0 + 179.0
    pipe(empty, 5)
    assert len(seen) == 3  # cap not yet reached
    fake[0] = 61.0 + 121.0 + 181.0
    pipe(empty, 6)  # cap honored: due at 180s, not 240s
    assert seen[-1] == ("a", 3)


def test_keyed_retry_crash_between_dlq_and_state_replays_cleanly(spark, tmp_path):
    """Torn-epoch injection for the retry state family (the
    curation/privacy crash test's K-side twin): kill after the DLQ
    write lands but before the state write (no commit marker). The
    restart must treat the epoch as never-happened — readers stay on
    the prior committed version, the replay rewrites BOTH v<epoch>
    dirs, and poison records are neither lost nor double-DLQ'd."""
    import pytest

    from mi_inbound_pulsar_spark.streaming.delivery import KeyedRetryPipeline

    def frame(ids):
        return spark.createDataFrame(
            [(str(i), f"payload{i}") for i in ids], "message_id string, body string"
        )

    def process(deliver, epoch_id):
        ok = F.col("message_id").cast("long") % 5 != 0  # 5, 10 always fail
        return deliver.select("message_id", ok.alias("ok"))

    def make(state_dir, dlq_dir):
        return KeyedRetryPipeline(
            process,
            DeadLetterPolicy(max_redeliveries=2),
            state_dir=str(state_dir),
            dlq_dir=str(dlq_dir),
            nack_delay_ms=0,
        )

    # control: no crash
    ctl = make(tmp_path / "cs", tmp_path / "cd")
    ctl(frame(range(1, 11)), 0)
    ctl(frame([]), 1)  # redelivers 5,10 -> 2nd failure -> DLQ
    want_dead = sorted(
        (r["message_id"], r["redelivery_count"])
        for r in ctl.dead_letters_df(spark).collect()
    )
    assert {m for m, _ in want_dead} == {"5", "10"}

    pipe = make(tmp_path / "ts", tmp_path / "td")
    pipe(frame(range(1, 11)), 0)
    state_v0 = sorted(r["message_id"] for r in pipe.state_df(spark).collect())

    orig = pipe.store.write
    calls = {"n": 0}

    def torn(df, root, epoch_id, key):
        orig(df, root, epoch_id, key)
        calls["n"] += 1
        if calls["n"] == 1:  # DLQ landed; kill before the state write
            raise RuntimeError("injected crash mid-epoch")

    pipe.store.write = torn
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe(frame([]), 1)
    pipe.store.write = orig

    # torn epoch on disk, invisible to readers
    import os

    assert os.path.isdir(str(tmp_path / "td" / "v1"))
    assert pipe.store.committed() == [0]
    assert pipe.dead_letters_df(spark) is None or (
        pipe.dead_letters_df(spark).count() == 0
    )
    assert sorted(
        r["message_id"] for r in pipe.state_df(spark).collect()
    ) == state_v0

    pipe(frame([]), 1)  # restart replay
    assert pipe.store.committed() == [0, 1]
    got_dead = sorted(
        (r["message_id"], r["redelivery_count"])
        for r in pipe.dead_letters_df(spark).collect()
    )
    assert got_dead == want_dead
    # DLQ'd rows left the state table (bounded-state contract)
    live = {r["message_id"] for r in pipe.state_df(spark).collect()}
    assert not live & {"5", "10"}


def test_keyed_retry_null_outcome_is_a_nack(spark, tmp_path):
    """Only ok = TRUE acks: an outcome of ok = NULL parks the row as an
    explicit nack (not lost, not treated as the K6 unacked case)."""
    from mi_inbound_pulsar_spark.streaming.delivery import KeyedRetryPipeline

    outcomes = spark.createDataFrame(
        [("1", True), ("2", None), ("3", False)], "message_id string, ok boolean"
    )

    def process(deliver, epoch_id):
        return outcomes  # "4" gets no answer at all

    pipe = KeyedRetryPipeline(
        process,
        DeadLetterPolicy(max_redeliveries=5),
        state_dir=str(tmp_path / "state"),
        nack_delay_ms=0,
        ack_timeout_ms=60_000,
        clock=lambda: 0.0,
    )
    batch = spark.createDataFrame(
        [(str(i), f"payload{i}") for i in range(1, 5)], "message_id string, body string"
    )
    pipe(batch, 0)
    parked = {
        r["message_id"]: (r["_retry_count"], r["_retry_pending_ack"])
        for r in pipe.state_df(spark).collect()
    }
    assert parked == {"2": (1, False), "3": (1, False), "4": (1, True)}


def test_keyed_retry_epoch_job_budget(spark, sf_dir, tmp_path):
    """One judged pass per epoch: a data epoch with prior state launches
    at most 7 Spark jobs and an empty drain epoch at most 6, while the
    DLQ and the drained state keep their closed form."""
    import glob

    from mi_inbound_pulsar_spark.streaming.delivery import KeyedRetryPipeline

    frame = simulated_message_frame(spark, sf_dir)
    topic = str(tmp_path / "topic")
    publish_frame(frame, topic, files=2)

    def process(deliver, epoch_id):
        mid = F.col("message_id").cast("long")
        ok = ~(((mid % 100 == 7) & (F.col("redelivery_count") < 2)) | (mid % 100 == 13))
        return deliver.select("message_id", ok.alias("ok"))

    pipe = KeyedRetryPipeline(
        process,
        DeadLetterPolicy(max_redeliveries=3),
        state_dir=str(tmp_path / "state"),
        nack_delay_ms=0,
        clock=lambda: 0.0,
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    read = spark.read.schema(frame.schema)
    batches = [read.parquet(f) for f in sorted(glob.glob(f"{topic}/*.parquet"))]
    assert len(batches) == 2
    batches += [read.parquet(topic).filter(F.lit(False))] * 3

    jobs = []
    for epoch_id, batch in enumerate(batches):
        before = dag.numTotalJobs()
        pipe(batch, epoch_id)
        jobs.append(dag.numTotalJobs() - before)
    assert jobs[1] <= 7, jobs
    assert all(n <= 6 for n in jobs[2:]), jobs

    poison = {
        (r["message_id"], 3)
        for r in frame.filter(F.col("message_id").cast("long") % 100 == 13).collect()
    }
    dead = {
        (r["message_id"], r["redelivery_count"])
        for r in pipe.dead_letters_df(spark).collect()
    }
    assert poison and dead == poison
    assert pipe.state_df(spark).count() == 0
