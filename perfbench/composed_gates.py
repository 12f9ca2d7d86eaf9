"""composed_gates: the training-data ingest path.

The generated ``documents`` get ``q_streaming_composed_replay``'s
synthetic e-mail/phone suffix, so redaction does real work, and are cut
into epochs at seeded ``doc_id`` boundaries. Each *round* feeds the
epochs, in order, to a fresh ``ComposedGatesPipeline`` (redact → privacy
park-and-release → curation → packing, seven state families, one commit
marker per epoch). The timed window runs whole rounds.

The unit is an epoch (``ComposedGatesPipeline.__call__``), its typical
latency the median epoch; items are documents. A round passes its check when its committed packed output,
tagged with release epochs, equals the DuckDB closed form of
``q_streaming_composed_replay`` generalised to the seeded cut points
and the epochs the round committed.

``probe`` measures the same layers inside ``ingest_dlq``'s traced run;
``run`` is the stand-alone workload.
"""

from __future__ import annotations

import glob
import os
import time

import pyarrow.parquet as pq

import datagen
from common import (
    Context,
    Outcome,
    Window,
    after_window,
    duckdb_over,
    exec_layer,
    median,
    overhead_layer,
    table_key,
)
from spans import ExecTotals, dir_bytes

QI_COLS = ["lang"]
PACK_SIZE = 512  # ComposedGatesPipeline's default, used by the closed form
FAMILIES = ("stats", "pending", "released", "hashes", "offsets", "shingles")


def _sizes(ctx: Context) -> tuple[datagen.Sizes, int]:
    """(table sizes, epochs per round)."""
    if ctx.tiny:
        return datagen.Sizes(tpch=0.0, events=0, documents=400, embeddings=0), 3
    return datagen.Sizes(tpch=0.0, events=0, documents=4_000, embeddings=0), 4


def _cuts(ctx: Context, n_docs: int, epochs: int) -> list[int]:
    """Upper doc_id bound of each epoch: even steps jittered by up to a
    quarter step, the last epoch ending at the last document."""
    rng, step = ctx.rng("cuts"), n_docs / epochs
    cuts = [int(step * i + rng.uniform(-step / 4, step / 4)) for i in range(1, epochs)]
    return [*cuts, n_docs - 1]


def _documents(spark, data_dir: str):
    from pyspark.sql import functions as F

    from mi_inbound_pulsar_spark.sources.tables import load_table

    return load_table(spark, data_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        F.expr("n_chars DIV 150").alias("band"),
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )


def _epoch_frames(docs, cuts: list[int]):
    from pyspark.sql import functions as F

    lo = -1
    for hi in cuts:
        yield docs.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi)), hi - lo
        lo = hi


class _Round:
    def __init__(self, ctx: Context, tag: str):
        from mi_inbound_pulsar_spark.streaming.composed import ComposedGatesPipeline

        self.ctx, self.tag = ctx, tag
        base = os.path.join(ctx.root, "composed", tag)
        self.state_dir, self.out_dir = os.path.join(base, "state"), os.path.join(base, "out")
        self.pipe = ComposedGatesPipeline(
            state_dir=self.state_dir,
            out_dir=self.out_dir,
            qi_cols=QI_COLS,
            band_col="band",
            num_partitions=8,
        )
        self.epochs: list[dict] = []
        self.error: str | None = None

    def run(self, docs, cuts: list[int], more) -> None:
        """Feed epochs until ``cuts`` are done or ``more()`` turns false."""
        ctx = self.ctx
        with ctx.tracer.span("composed.round", tag=self.tag):
            for epoch_id, (frame, n_docs) in enumerate(_epoch_frames(docs, cuts)):
                rec = {"epoch": epoch_id, "docs": n_docs, "hi": cuts[epoch_id]}
                try:
                    with ctx.tracer.span("composed.epoch", epoch=epoch_id):
                        if ctx.trace:
                            rec["job0"] = ctx.probe.job_mark()
                        t0 = time.perf_counter()
                        self.pipe(frame, epoch_id)
                        rec["ms"] = (time.perf_counter() - t0) * 1000.0
                        if ctx.trace:
                            rec["job1"] = ctx.probe.job_mark()
                except Exception as exc:  # noqa: BLE001 — counted as a failed round
                    self.error = f"{self.tag} epoch {epoch_id}: {type(exc).__name__}: {str(exc)[:300]}"
                    self.epochs.append(rec)
                    return
                if ctx.tracer.enabled:
                    rec["state_bytes"] = self._epoch_bytes(epoch_id)
                self.epochs.append(rec)
                if not more():
                    return

    def _epoch_bytes(self, epoch_id: int) -> int:
        v = f"v{epoch_id}"
        dirs = [os.path.join(self.state_dir, f, v) for f in FAMILIES]
        return sum(dir_bytes(d) for d in [*dirs, os.path.join(self.out_dir, v)])

    def output(self):
        packed = self.pipe.read_output(self.ctx.spark)
        released = self.pipe.read_released(self.ctx.spark).select("doc_id", "release_epoch")
        return packed.join(released, "doc_id").select(
            "doc_id", "source", "n_tokens", "stream_offset", "pack_start", "release_epoch"
        )


def closed_form(cuts: list[int], pack_size: int = PACK_SIZE) -> str:
    """``q_streaming_composed_replay``'s oracle with the arrival epoch
    taken from ``cuts`` (the epochs a round committed) instead of thirds."""
    arrival = " ".join(f"WHEN doc_id <= {hi} THEN {e}" for e, hi in enumerate(cuts))
    qualify = " ".join(
        f"WHEN count(*) FILTER (arrival <= {e}) >= 5 "
        f"AND count(DISTINCT band) FILTER (arrival <= {e}) >= 3 THEN {e}"
        for e in range(len(cuts))
    )
    return rf"""
    WITH d AS (
      SELECT doc_id, source, lang, n_chars // 150 AS band,
             text || ' reach user' || CAST(doc_id AS VARCHAR)
                  || '@example.com call 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      FROM documents WHERE doc_id <= {cuts[-1]}
    ),
    b AS (SELECT d.*, CASE {arrival} END AS arrival FROM d),
    q AS (SELECT lang, CASE {qualify} END AS qe FROM b GROUP BY lang),
    rel AS (
      SELECT b.doc_id, b.source,
             regexp_replace(regexp_replace(b.raw,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+', '<EMAIL>', 'g'),
               '\b555-[0-9][0-9][0-9][0-9]\b', '<PHONE>', 'g') AS text,
             greatest(b.arrival, q.qe) AS release_epoch
      FROM b JOIN q USING (lang) WHERE q.qe IS NOT NULL
    ),
    quality AS (
      SELECT *, len(string_split(text, ' ')) AS n_tokens FROM rel
      WHERE len(string_split(text, ' ')) >= 20
    ),
    keep AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(text) ORDER BY release_epoch, doc_id
        ) AS rn FROM quality
      ) WHERE rn = 1
    ),
    train AS (
      SELECT doc_id, source, n_tokens, release_epoch FROM keep
      WHERE substring(md5('split-' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
    ),
    packed AS (
      SELECT doc_id, source, n_tokens, release_epoch,
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY release_epoch, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS stream_offset
      FROM train
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(stream_offset AS BIGINT) AS stream_offset,
           CAST(stream_offset // {pack_size} AS BIGINT) AS pack_start,
           CAST(release_epoch AS BIGINT) AS release_epoch
    FROM packed
    """


def _standalone(ctx: Context, docs, cuts: list[int]) -> dict:
    """The privacy gate and the curation pipeline run alone on the same
    epochs: privacy on the raw epochs, curation on privacy's releases."""
    from pyspark.sql import functions as F

    from mi_inbound_pulsar_spark.streaming.curation import (
        MIN_TOKENS,
        StreamingCurationPipeline,
    )
    from mi_inbound_pulsar_spark.streaming.privacy import StreamingPrivacyPipeline

    spark, base = ctx.spark, os.path.join(ctx.root, "composed", "standalone")
    privacy = StreamingPrivacyPipeline(
        state_dir=os.path.join(base, "privacy_state"),
        out_dir=os.path.join(base, "privacy_out"),
        qi_cols=QI_COLS,
        band_col="band",
        id_col="doc_id",
        text_col="text",
        num_partitions=8,
    )
    p_ms = []
    for epoch_id, (frame, _n) in enumerate(_epoch_frames(docs, cuts)):
        with ctx.tracer.span("privacy.epoch", epoch=epoch_id):
            t0 = time.perf_counter()
            privacy(frame, epoch_id)
            p_ms.append((time.perf_counter() - t0) * 1000.0)
    released = privacy.read_output(spark)
    pending = privacy.read_pending(spark)

    curation = StreamingCurationPipeline(
        state_dir=os.path.join(base, "curation_state"),
        out_dir=os.path.join(base, "curation_out"),
        num_partitions=8,
    )
    c_ms = []
    for epoch_id in range(len(cuts)):
        frame = released.filter(F.col("release_epoch") == epoch_id).select(
            "doc_id", "source", "text"
        )
        with ctx.tracer.span("curation.epoch", epoch=epoch_id):
            t0 = time.perf_counter()
            curation(frame, epoch_id)
            c_ms.append((time.perf_counter() - t0) * 1000.0)
    quality_rows = released.filter(
        F.size(F.split("text", " ")) >= MIN_TOKENS
    ).count()
    kept = sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(base, "curation_state", "hashes", "v*", "*.parquet"))
    )
    return {
        "privacy.epoch_ms": (median(p_ms), "ms"),
        "privacy.released_rows": (released.count(), "count"),
        "privacy.parked_rows": (0 if pending is None else pending.count(), "count"),
        "curation.epoch_ms": (median(c_ms), "ms"),
        "curation.packed_rows": (curation.read_output(spark).count(), "count"),
        "curation.dedup_dropped_rows": (quality_rows - kept, "count"),
    }


def _prepare(ctx: Context, data_dir: str):
    """(seeded cut points, the documents frame) for this run."""
    sizes, n_epochs = _sizes(ctx)
    datagen.generate(data_dir, ctx.seed, sizes, tables=("documents",))
    return _cuts(ctx, sizes.documents, n_epochs), _documents(ctx.spark, data_dir)


def _traced(ctx: Context, docs, cuts: list[int], rounds: list[_Round]) -> dict:
    """One traced full round plus the standalone privacy and curation
    runs on the same epochs; returns the composed per-layer metrics."""
    ctx.tracer.enabled = True
    traced = _Round(ctx, "traced")
    traced.run(docs, cuts, lambda: True)
    layer = _standalone(ctx, docs, cuts)
    ctx.tracer.enabled = False
    rounds.append(traced)
    epochs = [e for e in traced.epochs if "ms" in e]
    composed_ms = median(e["ms"] for e in epochs)
    layer.update({
        "composed.epoch_ms": (composed_ms, "ms"),
        "composed.overlap_ms": (
            layer["privacy.epoch_ms"][0] + layer["curation.epoch_ms"][0] - composed_ms,
            "ms",
        ),
        "composed.jobs_per_epoch": (median(e["job1"] - e["job0"] for e in epochs), "count"),
        "composed.state_bytes": (median(e["state_bytes"] for e in epochs), "bytes"),
    })
    return layer, epochs


def probe(ctx: Context, out: Outcome) -> dict:
    """The composed-gates layers measured inside another workload's
    traced run: a one-epoch warm-up round, then ``_traced``. The rounds
    are checked and counted in ``out``."""
    data_dir = os.path.join(ctx.root, "composed_data")
    cuts, docs = _prepare(ctx, data_dir)
    warm = _Round(ctx, "warm")
    warm.run(docs, cuts[:1], lambda: True)
    rounds = [warm]
    layer, _epochs = _traced(ctx, docs, cuts, rounds)
    _check(ctx, rounds, data_dir, out)
    return layer


def run(ctx: Context) -> Outcome:
    data_dir = os.path.join(ctx.root, "data")
    with ctx.phase("prepare"):
        cuts, docs = _prepare(ctx, data_dir)
    warm = _Round(ctx, "warm")
    with ctx.phase("warm-up"):
        warm.run(docs, cuts[:2], lambda: True)
    timed, w = [], Window(ctx.seconds)
    with ctx.phase("timed"):
        while not timed or w.more():
            timed.append(_Round(ctx, f"timed{len(timed)}"))
            timed[-1].run(docs, cuts, lambda: True)
    out = Outcome()
    epochs = [e for r in timed for e in r.epochs if "ms" in e]
    out.items = sum(e["docs"] for e in epochs)
    out.wall_s = sum(e["ms"] for e in epochs) / 1000.0
    out.latency_ms = median(e["ms"] for e in epochs)
    after_window(ctx, out)
    rounds = [warm, *timed]
    if ctx.trace:
        with ctx.phase("traced"):
            layer, t_epochs = _traced(ctx, docs, cuts, rounds)
        totals = ExecTotals()
        for e in t_epochs:
            totals.add(ctx.probe.exec_totals(e["job0"], e["job1"]))
        layer.update(exec_layer(totals, len(t_epochs)))
        layer.update(overhead_layer(out.latency_ms, median(e["ms"] for e in t_epochs)))
        out.layer.update(layer)
    with ctx.phase("check"):
        _check(ctx, rounds, data_dir, out)
    return out


def _check(ctx: Context, rounds: list[_Round], data_dir: str, out: Outcome) -> None:
    """Each round's packed output against the closed form of its epochs."""
    key = table_key()
    con = duckdb_over(data_dir, ["documents"])
    pack_size = PACK_SIZE - 1 if ctx.wrong_expectation else PACK_SIZE
    for r in rounds:
        units = max(len(r.epochs), 1)
        out.attempted += units
        if r.error:
            out.fail(units, r.error)
            continue
        done = [e["hi"] for e in r.epochs]
        got = r.output().toArrow()
        want = con.sql(closed_form(done, pack_size)).arrow()
        if key(got) != key(want):
            out.fail(
                units,
                f"{r.tag}: packed output ({got.num_rows} rows) differs from the closed "
                f"form ({want.num_rows} rows) over cuts {done}",
            )
    con.close()
