"""The repository benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload ingest_dlq --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/README.md``):

- ``ingest_dlq``: the simulated Pulsar topic through a Structured
  Streaming query into ``KeyedRetryPipeline`` (decode, nack, DLQ).
- ``composed_gates``: documents cut into epochs through
  ``ComposedGatesPipeline`` (redact, privacy release, curation).
- ``query_mix``: 13 registered queries, one client, closed loop.

Each run generates its inputs from ``--seed`` under a per-run temp root
inside the checkout, starts one SparkSession, warms up, measures for
``--seconds`` seconds, checks every output, stops the JVM and deletes
the temp root. The last stdout line is the result object. With
``--trace 0`` it carries the end-to-end metrics; with ``--trace 1`` the
per-layer metrics of ``perfbench/layers.json``, taken from a second,
traced window, plus the tracing overhead against the untraced window
of the same run. The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
WORKLOADS = ("ingest_dlq", "composed_gates", "query_mix")
# A fixed, modest driver heap: the session's 16g default lets G1 size the
# heap from allocation history, which makes both GC pauses and RSS vary
# from run to run on a small shared machine.
DRIVER_MEM = "2g"


def _process_age_s() -> float:
    """Seconds since this process was started by the OS."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", choices=("full", "tiny"), default="full",
        help="input size; 'tiny' is for the benchmark's own smoke test",
    )
    p.add_argument(
        "--wrong-expectation", action="store_true",
        help="check outputs against a deliberately wrong expectation "
        "(negative test: the run must report failures)",
    )
    return p.parse_args(argv)


def _isolate(tmp_root: Path) -> None:
    """Point every temp and scratch location of the run at ``tmp_root``
    and make the repository importable by Spark's Python workers."""
    for sub in ("tmp", "spark-local", "jtmp"):
        (tmp_root / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp_root / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp_root / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp_root / 'jtmp'} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(REPO))


def _start_spark(trace: bool):
    """One SparkSession for the run, plus a first ``mapInPandas`` job so
    the Python workers are running before any workload starts."""
    from mi_inbound_pulsar_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        # keep every job and stage of a traced unit in the status store
        extra.update({"spark.ui.retainedJobs": "5000", "spark.ui.retainedStages": "5000"})
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra)
    t1 = time.perf_counter()
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(0, 64 * cpus, numPartitions=cpus).mapInPandas(
        lambda it: it, "id long"
    ).count()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def _stop_spark(spark) -> None:
    """Stop the session and wait until the gateway JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv: list[str]) -> int:
    age_at_start = _process_age_s()
    t_start = time.perf_counter()
    args = _parse(argv)
    if not (REPO / "mi_inbound_pulsar_spark").is_dir():
        print(f"perfbench: no engine package under {REPO}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    tmp_root = REPO / ".perfbench_tmp" / run_id
    _isolate(tmp_root)

    import common
    from spans import SparkProbe, Tracer

    spark = None
    try:
        spark, get_spark_s, worker_warm_s = _start_spark(bool(args.trace))
        setup_s = age_at_start + (time.perf_counter() - t_start)
        print(f"perfbench: setup {setup_s:.2f}s", file=sys.stderr, flush=True)
        ctx = common.Context(
            spark=spark,
            probe=SparkProbe(spark),
            tracer=Tracer(run_id, enabled=False),
            root=str(tmp_root),
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            tiny=args.scale == "tiny",
            wrong_expectation=args.wrong_expectation,
        )
        out = common.runner(args.workload)(ctx)
        if args.trace:
            ctx.tracer.write(str(REPO / ".perfbench_out" / f"spans-{args.workload}-s{args.seed}.jsonl"))
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp_root, ignore_errors=True)
        try:
            tmp_root.parent.rmdir()
        except OSError:
            pass
        print(f"perfbench: stop {time.perf_counter() - t_stop:.2f}s", file=sys.stderr, flush=True)

    for err in out.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    if args.trace:
        layer = dict(out.layer)
        layer["session.get_spark_s"] = (get_spark_s, "s")
        layer["session.worker_warm_s"] = (worker_warm_s, "s")
        # every listed metric is printed; a layer this workload does not
        # run reads 0 (layers.json says which workload measures which)
        metrics = {}
        for name, unit in common.layer_metrics().items():
            value, got_unit = layer.pop(name, (0.0, unit))
            if got_unit != unit:
                raise RuntimeError(f"{name}: measured in {got_unit}, listed in {unit}")
            metrics[name] = _metric(value, unit)
        if layer:
            raise RuntimeError(f"measured but not listed in layers.json: {sorted(layer)}")
    else:
        metrics = {
            "setup_s": _metric(setup_s, "s"),
            "items_per_s": _metric(out.items / out.wall_s if out.wall_s else 0.0, "1/s"),
            "latency_ms": _metric(out.latency_ms, "ms"),
            "ok_frac": _metric((out.attempted - out.failed) / out.attempted, "ratio"),
        }
    correct = out.failed == 0 and not out.errors
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
