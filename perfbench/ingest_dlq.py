"""ingest_dlq: the reference consumer's own job, consume → decode → nack
→ dead-letter.

The simulated topic (``simulated_message_frame`` over the generated
``events``) is published once as parquet files. Each *round* is a fresh
subscription from the earliest message: ``delivery.run_pipeline`` drains
the topic, one file per micro-batch, into a ``KeyedRetryPipeline``
whose ``process`` projects metadata, decodes the JSON payload and
applies a seeded failure schedule: one residue of ``message_id % 100``
fails until its third delivery (flaky), another always fails (poison).
After the stream, ``max_redeliveries - 1`` empty epochs drain the
parked rows, the schedule ``q_retry_pipeline_audit`` uses.

The unit is a micro-batch; its typical latency is the median
``triggerExecution`` of the window's micro-batches. Items are messages.
A round passes its check when its dead-letter table is exactly the
poison residue at ``redelivery_count == 3`` and its committed state is
empty after the drain.
"""

from __future__ import annotations

import glob
import os
import time

import pyarrow.parquet as pq

import composed_gates
import datagen
from common import Context, Outcome, Window, after_window, exec_layer, median, overhead_layer
from spans import ExecTotals, dir_bytes

MAX_REDELIVERIES = 3
CONTENT_TYPE = "application/json; charset=utf-8"


def _sizes(ctx: Context) -> tuple[datagen.Sizes, int]:
    """(table sizes, files the topic is published as)."""
    if ctx.tiny:
        return datagen.Sizes(tpch=0.0, events=2_000, documents=0, embeddings=0), 2
    return datagen.Sizes(tpch=0.0, events=48_000, documents=0, embeddings=0), 6


def _parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(f"{path}/*.parquet"))


class _Round:
    """One subscription: stream + drain, with its pipeline kept for the
    check after the timed window."""

    def __init__(self, ctx: Context, topic: str, n_msgs: int, tag: str, flaky: int, poison: int):
        from pyspark.sql import functions as F

        from mi_inbound_pulsar_spark.config import DeadLetterPolicy
        from mi_inbound_pulsar_spark.functions.payload import decode_payload, project_metadata
        from mi_inbound_pulsar_spark.streaming.delivery import KeyedRetryPipeline

        self.ctx, self.topic, self.n_msgs, self.tag = ctx, topic, n_msgs, tag
        self.base = os.path.join(ctx.root, "ingest", tag)

        def process(deliver, _epoch):
            msgs = decode_payload(project_metadata(deliver), CONTENT_TYPE, schema="k INT")
            mid, count = F.col("msgId").cast("long"), F.col("redeliveryCount")
            ok = (
                F.col("body.k").isNotNull()
                & ~((mid % 100 == flaky) & (count < 2))
                & ~(mid % 100 == poison)
            )
            return msgs.select(F.col("msgId").alias("message_id"), ok.alias("ok"))

        self.pipe = KeyedRetryPipeline(
            process,
            DeadLetterPolicy(max_redeliveries=MAX_REDELIVERIES),
            state_dir=os.path.join(self.base, "state"),
            nack_delay_ms=0,
            clock=lambda: 0.0,
        )
        self.epochs: list[dict] = []  # one record per __call__
        self.progress: list[dict] = []
        self.wall_s = 0.0
        self.error: str | None = None
        self.stream_span = self.round_span = None

    def _epoch(self, batch_df, epoch_id: int, kind: str) -> None:
        ctx = self.ctx
        rec = {"epoch": epoch_id, "kind": kind}
        parent = self.stream_span if kind == "data" else self.round_span
        with ctx.tracer.span(f"delivery.{kind}_epoch", parent=parent, epoch=epoch_id):
            if ctx.trace:
                rec["job0"] = ctx.probe.job_mark()
            t0 = time.perf_counter()
            self.pipe(batch_df, epoch_id)
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
            if ctx.trace:
                rec["job1"] = ctx.probe.job_mark()
        if ctx.tracer.enabled:
            v = f"v{epoch_id}"
            state_v = os.path.join(self.pipe.state_dir, v)
            dlq_v = os.path.join(self.pipe.dlq_dir, v)
            rec["parked"] = _parquet_rows(state_v)
            rec["dlq"] = _parquet_rows(dlq_v)
            rec["state_bytes"] = dir_bytes(state_v) + dir_bytes(dlq_v)
        self.epochs.append(rec)

    def run(self) -> None:
        from pyspark.sql import functions as F

        from mi_inbound_pulsar_spark.sources.pulsar_source import MESSAGE_SCHEMA
        from mi_inbound_pulsar_spark.streaming.delivery import PipelineRegistry, run_pipeline

        spark, tracer = self.ctx.spark, self.ctx.tracer
        registry = PipelineRegistry()
        registry.register("ingest", lambda df, e: self._epoch(df, e, "data"))
        t0 = time.perf_counter()
        with tracer.span("ingest.round", tag=self.tag) as round_span:
            self.round_span = round_span.id
            try:
                with tracer.span("pulsar_source.stream") as stream_span:
                    self.stream_span = stream_span.id
                    stream = (
                        spark.readStream.schema(MESSAGE_SCHEMA)
                        .option("maxFilesPerTrigger", 1)
                        .parquet(self.topic)
                    )
                    query = run_pipeline(
                        stream, registry, "ingest",
                        checkpoint_dir=os.path.join(self.base, "checkpoint"),
                        query_name=f"ingest_{self.tag}",
                    )
                    try:
                        query.processAllAvailable()
                    finally:
                        self.progress = [
                            p for p in query.recentProgress if p["numInputRows"] > 0
                        ]
                        query.stop()
                empty = spark.read.schema(MESSAGE_SCHEMA).parquet(self.topic).filter(F.lit(False))
                next_epoch = max((r["epoch"] for r in self.epochs), default=-1) + 1
                for i in range(MAX_REDELIVERIES - 1):
                    self._epoch(empty, next_epoch + i, "drain")
            except Exception as exc:  # noqa: BLE001 — counted as a failed round
                self.error = f"{self.tag}: {type(exc).__name__}: {str(exc)[:300]}"
        self.wall_s = time.perf_counter() - t0

    @property
    def units(self) -> int:
        return max(len(self.epochs), 1)

    def trigger_ms(self) -> list[float]:
        return [float(p["durationMs"]["triggerExecution"]) for p in self.progress]

    def check(self, poison: int, out: Outcome) -> None:
        """The closed form of the K5/K7 contract for this round."""
        out.attempted += self.units
        if self.error:
            out.fail(self.units, self.error)
            return
        spark = self.ctx.spark
        dlq = self.pipe.dead_letters_df(spark)
        got = set() if dlq is None else {
            (r["message_id"], r["redelivery_count"])
            for r in dlq.select("message_id", "redelivery_count").collect()
        }
        want = {(str(i), MAX_REDELIVERIES) for i in range(self.n_msgs) if i % 100 == poison}
        state = self.pipe.state_df(spark)
        parked = 0 if state is None else state.count()
        if got != want or parked:
            out.fail(
                self.units,
                f"{self.tag}: dlq {len(got)} rows ({len(got ^ want)} differ from the "
                f"poison residue {poison}), {parked} rows still parked after the drain",
            )


def _decode_rows_per_s(ctx: Context, topic: str, n_msgs: int) -> float:
    """``project_metadata`` + ``decode_payload`` over the published topic
    as one batch read, median of three timed counts."""
    from pyspark.sql import functions as F

    from mi_inbound_pulsar_spark.functions.payload import decode_payload, project_metadata
    from mi_inbound_pulsar_spark.sources.pulsar_source import MESSAGE_SCHEMA

    times = []
    for _ in range(3):
        with ctx.tracer.span("payload.decode"):
            t0 = time.perf_counter()
            msgs = ctx.spark.read.schema(MESSAGE_SCHEMA).parquet(topic)
            decode_payload(project_metadata(msgs), CONTENT_TYPE, schema="k INT").filter(
                F.col("body.k").isNotNull()
            ).count()
            times.append(time.perf_counter() - t0)
    return n_msgs / median(times)


def _layer(ctx: Context, rounds: list[_Round], publish_s: float) -> dict:
    data = [e for r in rounds for e in r.epochs if e["kind"] == "data"]
    drain = [e for r in rounds for e in r.epochs if e["kind"] == "drain"]
    progress = [p for r in rounds for p in r.progress]
    totals = ExecTotals()
    for e in data + drain:
        totals.add(ctx.probe.exec_totals(e["job0"], e["job1"]))
    selfs = ctx.tracer.self_ms()
    stream_self = [selfs[s.id] for s in ctx.tracer.named("pulsar_source.stream")]
    # nack delay 0: every row parked at epoch e is redelivered at e + 1
    redelivered = sum(e["parked"] for r in rounds for e in r.epochs[:-1])
    delivered = sum(r.n_msgs for r in rounds)
    return {
        "pulsar_source.publish_s": (publish_s, "s"),
        "pulsar_source.trigger_overhead_ms": (
            median(
                p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
                for p in progress
            ),
            "ms",
        ),
        "pulsar_source.batch_scan_ratio": (
            sum(p["numInputRows"] for p in progress) / delivered, "ratio"
        ),
        "pulsar_source.stream_self_ms": (sum(stream_self) / max(len(data), 1), "ms"),
        "delivery.epoch_ms": (median(e["ms"] for e in data), "ms"),
        "delivery.drain_epoch_ms": (median(e["ms"] for e in drain), "ms"),
        "delivery.jobs_per_epoch": (median(e["job1"] - e["job0"] for e in data), "count"),
        "delivery.parked_rows": (max(e["parked"] for e in data + drain), "count"),
        "delivery.redelivered_rows": (redelivered / len(rounds), "count"),
        "delivery.dlq_rows": (sum(e["dlq"] for e in data + drain) / len(rounds), "count"),
        "delivery.state_bytes": (max(e["state_bytes"] for e in data + drain), "bytes"),
        **exec_layer(totals, len(data) + len(drain)),
    }


def run(ctx: Context) -> Outcome:
    from mi_inbound_pulsar_spark.sources.pulsar_source import (
        publish_frame,
        simulated_message_frame,
    )

    sizes, files = _sizes(ctx)
    flaky, poison = ctx.rng("residues").sample(range(100), 2)
    expect_poison = (poison + 1) % 100 if ctx.wrong_expectation else poison
    topic = os.path.join(ctx.root, "topic")
    warm_n = sizes.events // 4
    warm_topic = os.path.join(ctx.root, "warm_topic")
    with ctx.phase("prepare"):
        data_dir = os.path.join(ctx.root, "data")
        datagen.generate(data_dir, ctx.seed, sizes, tables=("events",))
        frame = simulated_message_frame(ctx.spark, data_dir)
        t0 = time.perf_counter()
        publish_frame(frame, topic, files=files, mode="overwrite")
        publish_s = time.perf_counter() - t0
        publish_frame(frame.filter(frame.message_id.cast("long") < warm_n), warm_topic, files=2)

    out = Outcome()

    def window(tag: str) -> list[_Round]:
        done, w = [], Window(ctx.seconds)
        while not done or w.more():
            done.append(_Round(ctx, topic, sizes.events, f"{tag}{len(done)}", flaky, poison))
            done[-1].run()
        return done

    warm = _Round(ctx, warm_topic, warm_n, "warm", flaky, poison)
    with ctx.phase("warm-up"):
        warm.run()
    with ctx.phase("timed"):
        timed = window("timed")
    out.items = sum(r.n_msgs for r in timed)
    out.wall_s = sum(r.wall_s for r in timed)
    out.latency_ms = median(t for r in timed for t in r.trigger_ms())
    after_window(ctx, out)
    rounds = [warm, *timed]
    if ctx.trace:
        ctx.tracer.enabled = True
        with ctx.phase("traced"):
            traced = window("traced")
            decode = _decode_rows_per_s(ctx, topic, sizes.events)
        ctx.tracer.enabled = False
        rounds += traced
        out.layer.update(_layer(ctx, traced, publish_s))
        out.layer["payload.decode_rows_per_s"] = (decode, "1/s")
        with ctx.phase("composed probe"):
            out.layer.update(composed_gates.probe(ctx, out))
        out.layer.update(
            overhead_layer(out.latency_ms, median(t for r in traced for t in r.trigger_ms()))
        )
    with ctx.phase("check"):
        for r in rounds:
            r.check(expect_poison, out)
    return out
