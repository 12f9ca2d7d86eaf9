"""Property-based tests (hypothesis) for the driver-side state machines
and the T3 encoder — the invariants hold for ALL inputs, not fixtures.

Kept JVM-free where possible (RetryTable is plain Python) so hypothesis
can run hundreds of examples cheaply; the encoder property runs one
Spark job over the whole generated batch.
"""

from __future__ import annotations

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from mi_inbound_pulsar_spark.config import DeadLetterPolicy
from retry_model import RetryTable

ids = st.lists(st.text(min_size=1, max_size=8), min_size=1, max_size=20, unique=True)


@given(ids=ids, nacks=st.integers(min_value=1, max_value=12), data=st.data())
@settings(max_examples=200, deadline=None)
def test_retry_table_conservation_and_dlq_threshold(ids, nacks, data):
    # invariant: every id is in exactly one of {acked-and-gone,
    # retryable, dead}; dead ⟺ redeliveries >= max; counts never skip
    policy = DeadLetterPolicy(max_redeliveries=5, dlq_topic="dlq")
    t = RetryTable(policy, nack_delay_ms=0)
    for n in range(nacks):
        subset = data.draw(st.lists(st.sampled_from(ids), unique=True), label=f"nack{n}")
        t.nack(subset, now=float(n))
    acked = data.draw(st.lists(st.sampled_from(ids), unique=True), label="acked")
    t.ack(acked)

    dead = set(t.dead_letters())
    due = set(t.due_for_redelivery(now=1e9))
    for mid in acked:
        assert t.redelivery_count(mid) == 0  # ack wipes state
        assert mid not in dead and mid not in due
    for mid in ids:
        if mid in acked:
            continue
        c = t.redelivery_count(mid)
        assert 0 <= c <= nacks
        if c == 0:
            assert mid not in dead and mid not in due  # never nacked
        elif c >= policy.max_redeliveries:
            assert mid in dead and mid not in due
        else:
            assert mid in due and mid not in dead


@given(st.integers(min_value=0, max_value=8), st.floats(min_value=1.0, max_value=4.0))
@settings(max_examples=100, deadline=None)
def test_backoff_monotone_and_capped(redeliveries, mult):
    t = RetryTable(
        DeadLetterPolicy(max_redeliveries=99, dlq_topic="d"),
        nack_delay_ms=500,
        backoff_multiplier=mult,
        max_delay_ms=10_000,
    )
    d = [t._delay_s(n) for n in range(redeliveries + 2)]
    assert all(b >= a for a, b in zip(d, d[1:]))  # monotone non-decreasing
    assert all(x <= 10.0 for x in d)  # capped
    assert d[0] == 0.5 if mult >= 1.0 else True


def test_properties_json_matches_python_encoder_for_generated_maps(spark):
    # T3 exact-shape property over generated maps: Spark's encoder must
    # equal the reference shape [{"k":"v"},...] for arbitrary printable
    # keys/values (escaping included). One Spark job for all examples.
    from pyspark.sql import functions as F

    from mi_inbound_pulsar_spark.functions.payload import encode_properties_json

    # hypothesis-free bulk generation keeps this deterministic and fast;
    # the adversarial part is the content: quotes, backslashes, unicode
    cases = [
        {},
        {"k": "v"},
        {"a": "1", "b": "2", "c": "3"},
        {'q"uote': 'ba"ck\\slash'},
        {"uni": "ünïcødé ✓", "nl": "line\nbreak", "tab": "t\tab"},
        {"empty": "", "": "empty-key"},
        {"slash/": "/", "{brace}": "}{"},
    ]
    df = spark.createDataFrame(
        [(i, m) for i, m in enumerate(cases)], "i int, properties map<string,string>"
    )
    got = {
        r["i"]: r["j"]
        for r in df.select("i", encode_properties_json("properties").alias("j")).collect()
    }
    for i, m in enumerate(cases):
        # python-dict → Spark map does not preserve entry order, so the
        # shape is asserted exactly and the entry ORDER insensitively
        parsed = json.loads(got[i])
        assert isinstance(parsed, list)
        assert all(isinstance(e, dict) and len(e) == 1 for e in parsed)
        assert sorted(parsed, key=lambda e: next(iter(e))) == sorted(
            ([{k: v} for k, v in m.items()]), key=lambda e: next(iter(e))
        ), (m, got[i])
