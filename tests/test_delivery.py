"""Delivery-semantics tests: DLQ split (K7), pipeline registry (K1),
retry table nack/ack/redelivery (K5/K6/K7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mi_inbound_pulsar_spark.config import DeadLetterPolicy
from mi_inbound_pulsar_spark.sources.pulsar_source import simulated_message_frame
from mi_inbound_pulsar_spark.streaming.delivery import PipelineRegistry, dlq_split
from retry_model import RetryTable


def test_dlq_split_threshold(spark, sf_dir):
    # K7 — exactly-N redeliveries routing (PulsarMessageConsumer.java:295-304)
    m = simulated_message_frame(spark, sf_dir)
    main, dlq = dlq_split(m, DeadLetterPolicy(max_redeliveries=5))
    assert dlq.filter(F.col("redelivery_count") < 5).count() == 0
    assert main.filter(F.col("redelivery_count") >= 5).count() == 0
    assert main.count() + dlq.count() == m.count()


def test_dlq_split_zero_threshold_sends_everything(spark, sf_dir):
    m = simulated_message_frame(spark, sf_dir)
    main, dlq = dlq_split(m, DeadLetterPolicy(max_redeliveries=0))
    assert main.count() == 0
    assert dlq.count() == m.count()


def test_pipeline_registry_unknown_name_raises():
    # K1 parity — unknown injectingSeq is a hard failure at :538-539
    reg = PipelineRegistry()
    reg.register("seq1", lambda df, epoch: None)
    assert reg.get("seq1")
    with pytest.raises(KeyError, match="unknown pipeline 'nope'"):
        reg.get("nope")


def test_retry_table_nack_then_due_then_dlq():
    rt = RetryTable(DeadLetterPolicy(max_redeliveries=2), nack_delay_ms=1000)
    rt.nack(["m1"], now=100.0)
    assert rt.redelivery_count("m1") == 1
    # K5: not due before the nack delay elapses
    assert rt.due_for_redelivery(now=100.5) == []
    assert rt.due_for_redelivery(now=101.0) == ["m1"]
    # second failure reaches the max → dead letter, never redelivered
    rt.nack(["m1"], now=102.0)
    assert rt.due_for_redelivery(now=200.0) == []
    assert rt.dead_letters() == ["m1"]


def test_retry_table_ack_clears_state():
    rt = RetryTable(DeadLetterPolicy(max_redeliveries=5))
    rt.nack(["m1", "m2"], now=1.0)
    rt.ack(["m1"])
    assert rt.redelivery_count("m1") == 0
    assert rt.redelivery_count("m2") == 1


def test_exponential_backoff_delays_grow_and_cap():
    # Pulsar NegativeAckRedeliveryExponentialBackoff semantics: attempt
    # n redelivers after delay*mult^(n-1), capped at max_delay
    from mi_inbound_pulsar_spark.config import DeadLetterPolicy
    from retry_model import RetryTable

    t = RetryTable(
        DeadLetterPolicy(max_redeliveries=10, dlq_topic="dlq"),
        nack_delay_ms=1000,
        backoff_multiplier=2.0,
        max_delay_ms=3000,
    )
    t.nack(["m"], now=100.0)  # 1st nack → delay 1s
    assert t.due_for_redelivery(now=100.5) == []
    assert t.due_for_redelivery(now=101.0) == ["m"]
    t.nack(["m"], now=101.0)  # 2nd nack → delay 2s
    assert t.due_for_redelivery(now=102.5) == []
    assert t.due_for_redelivery(now=103.0) == ["m"]
    t.nack(["m"], now=103.0)  # 3rd nack → 4s, capped to 3s
    assert t.due_for_redelivery(now=105.5) == []
    assert t.due_for_redelivery(now=106.0) == ["m"]
