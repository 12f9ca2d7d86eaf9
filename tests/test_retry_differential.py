"""Differential test: KeyedRetryPipeline against the pure-Python model.

One random schedule drives both :class:`KeyedRetryPipeline` and
``retry_model.model_epoch``: fresh ids per epoch, an outcome per
``(message_id, attempt)`` drawn from TRUE / FALSE / NULL / no row, a
retry policy, and a clock that steps on a whole-second grid (so both
sides compare exact doubles). Every epoch the two must agree on

- the delivered ``(message_id, redelivery_count)`` pairs;
- the rows dead-lettered that epoch, with their counts;
- the parked set, as ``(message_id, count its next delivery carries)``.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from hypothesis import example, given, settings
from hypothesis import strategies as st

from mi_inbound_pulsar_spark.config import DeadLetterPolicy
from mi_inbound_pulsar_spark.streaming.delivery import KeyedRetryPipeline
from retry_model import RetryTable, model_epoch

T0 = 1_700_000_000.0
NO_ROW = "no row"
# whole-second steps, dense around the 30/60/90/120 s nack delays and
# the 60 s ack timeout so the `>=` due boundaries are hit exactly
STEPS = [0, 1, 29, 30, 31, 59, 60, 61, 89, 90, 91, 119, 120, 121, 240]


@st.composite
def schedules(draw):
    policy = {
        "max_redeliveries": draw(st.sampled_from([1, 2, 3])),
        "nack_delay_ms": draw(st.sampled_from([0, 30_000])),
        "backoff_multiplier": draw(st.sampled_from([1.0, 2.0])),
        "max_delay_ms": draw(st.sampled_from([None, 90_000])),
        "ack_timeout_ms": draw(st.sampled_from([None, 60_000])),
    }
    epochs, outcomes, n = [], {}, 0
    for e in range(draw(st.integers(1, 6))):
        k = draw(st.integers(0, 8))
        ids = [f"m{i}" for i in range(n, n + k)]
        n += k
        epochs.append((ids, draw(st.sampled_from(STEPS)) if e else 0))
        for mid in ids:
            for attempt in range(policy["max_redeliveries"]):
                outcomes[mid, attempt] = draw(st.sampled_from([True, False, None, NO_ROW]))
    return policy, epochs, {k: v for k, v in outcomes.items() if v != NO_ROW}


# NULL is a nack; an unanswered row whose bumped count reaches the max is
# dead-lettered in the epoch it goes unanswered, not at timeout expiry
@example(
    schedule=(
        {
            "max_redeliveries": 2,
            "nack_delay_ms": 0,
            "backoff_multiplier": 1.0,
            "max_delay_ms": None,
            "ack_timeout_ms": 60_000,
        },
        [(["m0", "m1"], 0), ([], 30), ([], 30), ([], 60)],
        {("m0", 0): None, ("m0", 1): True},
    )
)
@given(schedule=schedules())
@settings(max_examples=12, deadline=None, derandomize=True)
def test_keyed_retry_matches_model(spark, schedule):
    policy, epochs, outcomes = schedule
    knobs = {k: v for k, v in policy.items() if k != "max_redeliveries"}
    dlp = DeadLetterPolicy(max_redeliveries=policy["max_redeliveries"])
    table = RetryTable(dlp, **knobs)
    clock = [T0]
    delivered: list[tuple[str, int]] = []

    def process(deliver, epoch_id):
        pairs = [(r[0], r[1]) for r in deliver.select("message_id", "redelivery_count").collect()]
        delivered.extend(pairs)
        rows = [(m, outcomes[m, c]) for m, c in pairs if (m, c) in outcomes]
        return deliver.sparkSession.createDataFrame(rows, "message_id string, ok boolean")

    root = tempfile.mkdtemp(prefix="retry_diff_")
    try:
        pipe = KeyedRetryPipeline(
            process, dlp, state_dir=os.path.join(root, "state"), clock=lambda: clock[0], **knobs
        )
        want_dead: list[tuple[str, int]] = []
        for epoch_id, (ids, step) in enumerate(epochs):
            clock[0] += step
            delivered.clear()
            batch = spark.createDataFrame(
                [(m, f"body-{m}") for m in ids], "message_id string, body string"
            )
            pipe(batch, epoch_id)
            want_delivered, dead_now = model_epoch(table, ids, outcomes, clock[0])
            want_dead += dead_now

            assert sorted(delivered) == sorted(want_delivered), epoch_id
            dlq = pipe.dead_letters_df(spark)
            got_dead = [(r[0], r[1]) for r in dlq.select("message_id", "redelivery_count").collect()]
            assert sorted(got_dead) == sorted(want_dead), epoch_id
            state = pipe.state_df(spark).select("message_id", "_retry_count").collect()
            assert sorted((r[0], r[1]) for r in state) == sorted(table.parked().items()), epoch_id
    finally:
        shutil.rmtree(root, ignore_errors=True)
