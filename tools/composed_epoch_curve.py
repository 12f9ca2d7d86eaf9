"""Composed-gates throughput vs epoch size (round-11 verdict item #4).

SCALE.md (round 11) argues the composed 3-gate pipeline's ~2 s/epoch
fixed cost (7 state-family writes + 2 cache materializations + the
released-parquet barrier per epoch) is a small-batch artifact that
amortizes to <1% at production epoch sizes, converging toward the
single-stage streaming rate. This tool turns that argument into a
measured curve: the sf1.0 replica's ``documents`` table (10x bench's)
replayed through ``ComposedGatesPipeline`` at several epoch COUNTS —
same total rows, different rows/epoch — reporting end-to-end input
rows/s per setting in ONE session (drift-free ratios).

Expected shape if the fixed-cost model is right: rows/s ~
rows_per_epoch / (fixed + marginal * rows_per_epoch) — rising steeply
from bench-sized epochs and flattening toward 1/marginal.

Usage: python tools/composed_epoch_curve.py [epoch_counts ...]
       (default: 30 10 3 1)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

BIG = str(ROOT / ".testdata_up" / "sf1")


def run_once(spark, d, n_rows: int, hi: int, n_epochs: int) -> float:
    from pyspark.sql import functions as F

    from mi_inbound_pulsar_spark.streaming.composed import (
        ComposedGatesPipeline,
    )

    root = tempfile.mkdtemp(prefix="epoch_curve_")
    try:
        pipe = ComposedGatesPipeline(
            state_dir=os.path.join(root, "state"),
            out_dir=os.path.join(root, "out"),
            qi_cols=["lang"],
            band_col="band",
        )
        bounds = [hi * k // n_epochs for k in range(n_epochs + 1)]
        t0 = time.time()
        for ep in range(n_epochs):
            lo_b, hi_b = bounds[ep], bounds[ep + 1]
            pipe(
                d.filter(
                    (F.col("doc_id") > lo_b) & (F.col("doc_id") <= hi_b)
                ),
                ep,
            )
        elapsed = time.time() - t0
        return round(n_rows / elapsed, 1), round(elapsed, 1)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> int:
    counts = [int(a) for a in sys.argv[1:]] or [30, 10, 3, 1]

    from pyspark.sql import functions as F

    from mi_inbound_pulsar_spark.session import get_spark
    from mi_inbound_pulsar_spark.sources.tables import load_table

    spark = get_spark("composed_epoch_curve")
    spark.range(256).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    d = load_table(spark, BIG, "documents").select(
        "doc_id",
        "source",
        "lang",
        F.expr("n_chars DIV 150").alias("band"),
        "text",
    )
    n_rows = d.count()
    hi = d.agg(F.max("doc_id")).first()[0] or 0

    print(f"sf1.0 documents: {n_rows} rows")
    print("| epochs | rows/epoch | total s | input rows/s |")
    print("|---|---|---|---|")
    for n_epochs in counts:
        rps, secs = run_once(spark, d, n_rows, hi, n_epochs)
        print(
            f"| {n_epochs} | {n_rows // n_epochs} | {secs} | {rps} |",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
