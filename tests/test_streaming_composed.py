"""Composed streaming gates (redact → privacy → curation under one
commit protocol): batch-twin identity end-to-end, release-order
packing across epochs, and torn-epoch injection at the composition's
sharpest edge — the gap BETWEEN the privacy writes and the curation
writes, where a per-stage marker would lie."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def _pipe(**kw):
    from mi_inbound_pulsar_spark.streaming.composed import ComposedGatesPipeline

    root = tempfile.mkdtemp(prefix="composed_test_")
    return ComposedGatesPipeline(
        state_dir=os.path.join(root, "state"),
        out_dir=os.path.join(root, "out"),
        qi_cols=["lang"],
        band_col="band",
        **kw,
    )


def _frame(spark, rows):
    """rows: (doc_id, source, lang, band, text)."""
    return spark.createDataFrame(
        rows, "doc_id long, source string, lang string, band long, text string"
    )


def _doc(i, lang="en", band=0, source="s", text=None):
    body = text or " ".join(f"w{i}t{j}" for j in range(25))
    return (i, source, lang, band, body)


def test_release_order_packing_and_single_protocol(spark):
    """A class parked at epoch 0 and released at epoch 1 packs AFTER
    the records already released at epoch 0 — offsets advance in
    release order — and every epoch lands exactly one shared marker."""
    # lang 'de' arrives entirely in epoch 0 but only qualifies (k=5,
    # l=3) once epoch 1's arrivals land; lang 'en' qualifies at once
    b0 = _frame(
        spark,
        [_doc(1, "en", 0), _doc(2, "en", 1), _doc(3, "en", 2),
         _doc(4, "en", 0), _doc(5, "en", 1),
         _doc(10, "de", 0), _doc(11, "de", 1), _doc(12, "de", 2)],
    )
    b1 = _frame(spark, [_doc(20, "de", 0), _doc(21, "de", 1), _doc(30, "xx", 0)])
    pipe = _pipe()
    pipe(b0, 0)
    pipe(b1, 1)

    # one marker per epoch, shared by all state families
    assert pipe.store.committed() == [0, 1]
    rel = {
        r["doc_id"]: r["release_epoch"]
        for r in pipe.read_released(spark).collect()
    }
    assert {k: v for k, v in rel.items() if k < 10} == {i: 0 for i in range(1, 6)}
    assert {k: v for k, v in rel.items() if 10 <= k < 30} == {
        10: 1, 11: 1, 12: 1, 20: 1, 21: 1
    }
    assert 30 not in rel  # never-qualifying class stays suppressed

    out = {r["doc_id"]: r for r in pipe.read_output(spark).collect()}
    # all docs share source 's': epoch-1 releases (the de class,
    # including its epoch-0 arrivals) must pack after every epoch-0
    # release of that source — release order, not doc_id order
    ep0_train = [d for d in out if rel[d] == 0]
    ep1_train = [d for d in out if rel[d] == 1]
    if ep0_train and ep1_train:
        assert max(out[d]["stream_offset"] for d in ep0_train) < min(
            out[d]["stream_offset"] for d in ep1_train
        )


def test_composed_batch_twin_identity(spark):
    """Any batch decomposition yields the same committed output as a
    coarser one (monotone release + release-ordered curation): two
    pipes fed the same rows as 2 vs 4 micro-batches agree exactly."""
    rows = (
        [_doc(i, "en", i % 3) for i in range(0, 12)]
        + [_doc(i, "fr", i % 3) for i in range(12, 20)]
        + [_doc(i, "xx", 0) for i in range(20, 23)]
        # exact duplicates across epochs: keeper = first release
        + [_doc(30, "en", 0, text="dup " * 24), _doc(31, "en", 1, text="dup " * 24)]
    )
    a, b = _pipe(), _pipe()
    a(_frame(spark, [r for r in rows if r[0] < 16]), 0)
    a(_frame(spark, [r for r in rows if r[0] >= 16]), 1)
    for i, (lo, hi) in enumerate([(0, 8), (8, 16), (16, 24), (24, 99)]):
        b(_frame(spark, [r for r in rows if lo <= r[0] < hi]), i)

    key = lambda r: (r["doc_id"], r["source"], r["n_tokens"], r["stream_offset"])
    got_a = sorted(map(key, a.read_output(spark).collect()))
    got_b = sorted(map(key, b.read_output(spark).collect()))
    assert got_a == got_b and got_a
    # the duplicate's later copy never enters the training stream
    assert 31 not in {r[0] for r in got_a}


def test_crash_between_privacy_and_curation_replays_cleanly(spark):
    """Kill after the privacy families land (stats/pending/released
    v1 on disk) but before curation runs — no marker, so BOTH
    sub-pipelines must treat epoch 1 as never-happened: the replay
    rewrites the privacy dirs AND runs curation against the epoch-0
    index only, converging to the no-crash outcome. A per-stage
    marker would instead feed the replay's curation a committed
    epoch-1 hash index built from its own documents (emitting
    nothing) — exactly the lie the single protocol prevents."""
    b0 = _frame(spark, [_doc(i, "en", i % 3) for i in range(0, 8)])
    b1 = _frame(spark, [_doc(i, "en", i % 3) for i in range(8, 14)])

    ctl = _pipe()
    ctl(b0, 0)
    ctl(b1, 1)
    want = sorted(
        (r["doc_id"], r["stream_offset"]) for r in ctl.read_output(spark).collect()
    )

    pipe = _pipe()
    pipe(b0, 0)
    inner = pipe.curation

    class Boom:
        def _run(self, df, epoch_id):
            raise RuntimeError("injected crash between gates")

        def __getattr__(self, name):
            return getattr(inner, name)

    pipe.curation = Boom()
    with pytest.raises(RuntimeError, match="between gates"):
        pipe(b1, 1)
    pipe.curation = inner

    # torn epoch: privacy families exist for v1, curation's don't,
    # and no marker — readers blind to all of it
    assert os.path.isdir(os.path.join(pipe.state_dir, "stats", "v1"))
    assert os.path.isdir(os.path.join(pipe.state_dir, "released", "v1"))
    assert not os.path.isdir(os.path.join(pipe.state_dir, "hashes", "v1"))
    assert pipe.store.committed() == [0]

    pipe(b1, 1)  # restart replay
    assert pipe.store.committed() == [0, 1]
    got = sorted(
        (r["doc_id"], r["stream_offset"]) for r in pipe.read_output(spark).collect()
    )
    assert got == want and got


def test_crash_between_redaction_and_privacy_state_write(spark):
    """Symmetric kill to the privacy↔curation test, one seam EARLIER:
    the redacted arrivals exist in memory but the epoch dies while the
    privacy families are landing — stats/v1 is on disk, its concurrent
    sibling writes may or may not be (the families land as concurrent
    jobs since round 11), curation never ran, no marker. The replay
    must REWRITE every half-landed v1 family (idempotent epoch writes,
    not append) and converge to the no-crash outcome; an append-style
    stats write would double-count epoch 1's arrivals and release
    classes early."""
    b0 = _frame(spark, [_doc(i, "en", i % 3) for i in range(0, 8)])
    b1 = _frame(
        spark,
        [_doc(i, "en", i % 3) for i in range(8, 12)]
        + [_doc(i, "fr", i % 3) for i in range(12, 18)],
    )

    ctl = _pipe()
    ctl(b0, 0)
    ctl(b1, 1)
    want = sorted(
        (r["doc_id"], r["stream_offset"]) for r in ctl.read_output(spark).collect()
    )

    pipe = _pipe()
    pipe(b0, 0)
    prv = pipe.privacy
    real_write = prv.store.write

    def torn_write(df, root, epoch_id, key):
        real_write(df, root, epoch_id, key)
        if os.path.basename(root) == "stats" and epoch_id == 1:
            raise RuntimeError("injected crash after stats write")

    prv.store.write = torn_write
    with pytest.raises(RuntimeError, match="after stats write"):
        pipe(b1, 1)
    prv.store.write = real_write

    # torn epoch: stats/v1 landed; its CONCURRENT siblings (pending/
    # released) may have landed too — the protocol doesn't order
    # intra-phase writes, it only promises no marker until all of them
    # returned. Since round 13 curation OVERLAPS the privacy writes,
    # so its families may have landed as well before the write failure
    # surfaced — the contract is the missing marker (readers stay
    # blind to every torn family), not any particular landing order.
    assert os.path.isdir(os.path.join(pipe.state_dir, "stats", "v1"))
    assert pipe.store.committed() == [0]

    pipe(b1, 1)  # restart replay rewrites stats/v1 from the v0 snapshot
    assert pipe.store.committed() == [0, 1]
    got = sorted(
        (r["doc_id"], r["stream_offset"]) for r in pipe.read_output(spark).collect()
    )
    assert got == want and got


def test_same_epoch_torn_twice_replays_cleanly(spark):
    """Double crash: epoch 1 dies once inside the privacy writes and —
    after a restart — AGAIN between privacy and curation. Both torn
    attempts leave different partial v1 layouts; the third attempt
    must rewrite every family cleanly and converge. This is the
    repeated-failure reality of a flaky executor: the replay contract
    has to be idempotent under ARBITRARY prefixes of the epoch's
    writes, not just the single prefix one injection exercises."""
    b0 = _frame(spark, [_doc(i, "en", i % 3) for i in range(0, 8)])
    b1 = _frame(
        spark,
        [_doc(i, "en", i % 3) for i in range(8, 12)]
        + [_doc(i, "de", i % 3) for i in range(20, 26)],
    )

    ctl = _pipe()
    ctl(b0, 0)
    ctl(b1, 1)
    want = sorted(
        (r["doc_id"], r["stream_offset"]) for r in ctl.read_output(spark).collect()
    )

    pipe = _pipe()
    pipe(b0, 0)

    # crash #1: inside the privacy families (after pending, before
    # released) — stats/v1 + pending/v1 exist, released/v1 doesn't
    prv = pipe.privacy
    real_write = prv.store.write

    def torn_write(df, root, epoch_id, key):
        real_write(df, root, epoch_id, key)
        if os.path.basename(root) == "pending" and epoch_id == 1:
            raise RuntimeError("injected crash one")

    prv.store.write = torn_write
    with pytest.raises(RuntimeError, match="crash one"):
        pipe(b1, 1)
    prv.store.write = real_write
    # pending/v1 landed; its concurrent privacy siblings may have too
    # (intra-phase writes are unordered since round 11), and since
    # round 13 curation overlaps the privacy writes so its families
    # may also have landed before the failure surfaced. No marker
    # landed — that is the contract under test.
    assert os.path.isdir(os.path.join(pipe.state_dir, "pending", "v1"))
    assert pipe.store.committed() == [0]

    # crash #2 (same epoch): privacy fully lands this time, curation
    # never runs — the OTHER seam
    inner = pipe.curation

    class Boom:
        def _run(self, df, epoch_id):
            raise RuntimeError("injected crash two")

        def __getattr__(self, name):
            return getattr(inner, name)

    pipe.curation = Boom()
    with pytest.raises(RuntimeError, match="crash two"):
        pipe(b1, 1)
    pipe.curation = inner
    # released/v1 from this attempt; hashes/v1 may linger from torn
    # attempt #1 (curation overlaps the privacy writes since round 13)
    # — the replay contract is idempotent under arbitrary prefixes,
    # and no marker landed either time
    assert os.path.isdir(os.path.join(pipe.state_dir, "released", "v1"))
    assert pipe.store.committed() == [0]

    pipe(b1, 1)  # third attempt: clean end-to-end rewrite of v1
    assert pipe.store.committed() == [0, 1]
    # no "shingles": the composed config runs with the near-dup probe
    # disabled, and since round 13 the unread shingle index is not written
    for fam in ("stats", "pending", "released", "hashes", "offsets"):
        assert os.path.isdir(os.path.join(pipe.state_dir, fam, "v1")), fam
    got = sorted(
        (r["doc_id"], r["stream_offset"]) for r in pipe.read_output(spark).collect()
    )
    assert got == want and got


def test_crash_inside_curation_families_replays_cleanly(spark):
    """The FOURTH seam: privacy fully lands and curation dies MID-WAY
    through its own families — hashes/v1 is on disk, its concurrent
    siblings (packed output, offsets) may or may not be. No
    marker, so the replay must rewrite the half-landed dedup index
    from the epoch-0 snapshot; an append-style index write would
    double-insert epoch 1's survivors and the replay's dedup would
    then drop them as self-duplicates."""
    b0 = _frame(spark, [_doc(i, "en", i % 3) for i in range(0, 8)])
    b1 = _frame(
        spark,
        [_doc(i, "en", i % 3) for i in range(8, 12)]
        + [_doc(i, "fr", i % 3) for i in range(12, 18)],
    )

    ctl = _pipe()
    ctl(b0, 0)
    ctl(b1, 1)
    want = sorted(
        (r["doc_id"], r["stream_offset"]) for r in ctl.read_output(spark).collect()
    )

    pipe = _pipe()
    pipe(b0, 0)
    cur = pipe.curation
    real_write = cur.store.write

    def torn_write(df, root, epoch_id, key):
        real_write(df, root, epoch_id, key)
        if os.path.basename(root) == "hashes" and epoch_id == 1:
            raise RuntimeError("injected crash inside curation")

    cur.store.write = torn_write
    with pytest.raises(RuntimeError, match="inside curation"):
        pipe(b1, 1)
    cur.store.write = real_write

    # torn epoch: privacy families + the crashed curation family
    # landed; curation's concurrent siblings may or may not have. No
    # marker either way — readers blind to the whole epoch.
    assert os.path.isdir(os.path.join(pipe.state_dir, "released", "v1"))
    assert os.path.isdir(os.path.join(pipe.state_dir, "hashes", "v1"))
    assert pipe.store.committed() == [0]

    pipe(b1, 1)  # replay rewrites every v1 family
    assert pipe.store.committed() == [0, 1]
    got = sorted(
        (r["doc_id"], r["stream_offset"]) for r in pipe.read_output(spark).collect()
    )
    assert got == want and got


def test_curation_error_keeps_privacy_write_failure(spark):
    """Curation raises while a concurrent privacy write also fails: the
    curation error is the one raised, the privacy failure is reachable
    from it, no marker lands, and the replay completes."""
    b0 = _frame(spark, [_doc(i, "en", i % 3) for i in range(0, 8)])
    b1 = _frame(spark, [_doc(i, "en", i % 3) for i in range(8, 14)])

    pipe = _pipe()
    pipe(b0, 0)
    store, inner = pipe.store, pipe.curation
    real_write = store.write

    def torn_write(df, root, epoch_id, key):
        if os.path.basename(root) == "stats" and epoch_id == 1:
            raise RuntimeError("injected privacy write failure")
        real_write(df, root, epoch_id, key)

    class Boom:
        def _run(self, df, epoch_id):
            raise RuntimeError("injected curation failure")

        def __getattr__(self, name):
            return getattr(inner, name)

    store.write, pipe.curation = torn_write, Boom()
    with pytest.raises(RuntimeError, match="curation failure") as ei:
        pipe(b1, 1)
    store.write, pipe.curation = real_write, inner

    notes = "".join(ei.value.__notes__)
    assert "privacy-gate writes also failed" in notes
    assert "RuntimeError: injected privacy write failure" in notes
    assert store.committed() == [0]

    pipe(b1, 1)  # restart replay
    assert store.committed() == [0, 1]
    assert 1 in {r["release_epoch"] for r in pipe.read_released(spark).collect()}
