"""What the three workloads share: the run context, the outcome they
hand back to ``run.py``, and the oracle comparison."""

from __future__ import annotations

import importlib
import importlib.util
import json
import random
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from spans import ExecTotals, SparkProbe, Tracer

REPO = Path(__file__).resolve().parent.parent


@dataclass
class Context:
    spark: object
    probe: SparkProbe
    tracer: Tracer
    root: str  # per-run temp root, deleted after the run
    seed: int
    seconds: float
    trace: bool
    tiny: bool
    wrong_expectation: bool

    def rng(self, stream: str) -> random.Random:
        """Seeded generator for one named use, so adding a draw in one
        place does not shift the draws of another."""
        return random.Random(f"{self.seed}:{stream}")

    @contextmanager
    def phase(self, name: str):
        """Log how long a phase of the run took, on stderr."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            print(f"perfbench: {name} {time.perf_counter() - t0:.2f}s", file=sys.stderr, flush=True)


@dataclass
class Outcome:
    """What one run measured. ``latency_ms`` and ``items``/``wall_s``
    come from the untraced timed window; ``layer`` maps per-layer metric
    names to ``(value, unit)`` and is filled by traced runs."""

    attempted: int = 0
    failed: int = 0
    items: int = 0
    wall_s: float = 0.0
    latency_ms: float = 0.0  # typical unit latency, as each workload defines it
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def fail(self, units: int, message: str) -> None:
        self.failed += units
        self.errors.append(message)


def layer_metrics() -> dict[str, str]:
    """Every per-layer metric of ``layers.json`` with its unit, the
    ``<query>`` families expanded over ``query_mix.QUERIES``."""
    from query_mix import QUERIES

    out = {}
    spec = json.loads((Path(__file__).with_name("layers.json")).read_text())
    for layer in spec["layers"]:
        for name, m in layer["metrics"].items():
            names = [name.replace("<query>", q) for q in QUERIES] if "<query>" in name else [name]
            out.update(dict.fromkeys(names, m["unit"]))
    return out


def runner(workload: str):
    return importlib.import_module(workload).run


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


class Window:
    """The timed window: ``more()`` is true until ``seconds`` have passed
    since the window opened. Callers finish the round or pass in
    progress, so a window always holds whole rounds or passes."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.t0 = time.perf_counter()

    def more(self) -> bool:
        return time.perf_counter() - self.t0 < self.seconds


def exec_layer(totals: ExecTotals, units: int) -> dict[str, tuple[float, str]]:
    """``exec.*`` per-layer metrics: Spark execution counters per unit."""
    n = max(units, 1)
    return {
        "exec.ms": (totals.ms / n, "ms"),
        "exec.jobs": (totals.jobs / n, "count"),
        "exec.stages": (totals.stages / n, "count"),
        "exec.tasks": (totals.tasks / n, "count"),
        "exec.executor_run_ms": (totals.executor_run_ms / n, "ms"),
        "exec.executor_cpu_ms": (totals.executor_cpu_ms / n, "ms"),
        "exec.shuffle_write_bytes": (totals.shuffle_write_bytes / n, "bytes"),
        "exec.spill_bytes": (totals.spill_bytes / n, "bytes"),
        "exec.gc_ms": (totals.gc_ms / n, "ms"),
    }


def after_window(ctx: Context, out: Outcome) -> None:
    """Memory readings taken right after the untraced timed window."""
    out.layer["session.peak_rss_mb"] = (ctx.probe.peak_rss_mb(), "MB")
    out.layer["session.retained_mb"] = (ctx.probe.retained_mb(), "MB")


def overhead_layer(untraced_ms: float, traced_ms: float) -> dict:
    """Tracing overhead: the traced window's typical unit latency minus
    the untraced window's, in the same run."""
    u, t = untraced_ms, traced_ms
    return {
        "trace.overhead_ms": (t - u, "ms"),
        "trace.overhead_pct": (100.0 * (t - u) / u if u else 0.0, "%"),
    }


def table_key():
    """``tools/local_verify.table_key``: the repository's own
    order-insensitive, type-aware result comparison."""
    spec = importlib.util.spec_from_file_location(
        "local_verify", REPO / "tools" / "local_verify.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_key


def duckdb_over(data_dir: str, tables: list[str]):
    """A DuckDB connection with ``tables`` as views over the run's parquet."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con
