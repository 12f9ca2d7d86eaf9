"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The first tests are pure Python. The ``tiny`` tests start Spark: a
tiny-scale run of every workload (those in ``BENCHMARK.json`` and the
stand-alone ``composed_gates``) must print
every named metric with its unit, and a run checked against a wrong
expectation (the wrong poison residue) must report a failure and exit
non-zero instead of reporting a fast run.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import pytest

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))

from common import layer_metrics  # noqa: E402
from composed_gates import closed_form  # noqa: E402
from spans import Tracer  # noqa: E402


def _bench() -> dict:
    return json.loads((REPO / "BENCHMARK.json").read_text())


def test_per_layer_list_matches_layer_map():
    listed = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert listed == layer_metrics()


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer("t", enabled=True)
    with tr.span("parent") as p:
        time.sleep(0.05)
    # two overlapping children covering [10, 40] ms of the parent
    a, b = tr.span("a", parent=p.id), tr.span("b", parent=p.id)
    with a as sa, b as sb:
        pass
    sa.start, sa.end = p.start + 0.010, p.start + 0.030
    sb.start, sb.end = p.start + 0.020, p.start + 0.040
    assert tr.self_ms()[p.id] == pytest.approx((p.end - p.start) * 1000.0 - 30.0, abs=1e-6)


def test_disabled_tracer_records_nothing():
    tr = Tracer("t", enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_closed_form_names_every_epoch():
    sql = closed_form([10, 20, 29])
    assert "WHEN doc_id <= 29 THEN 2" in sql and "doc_id <= 29\n" in sql


def _run(workload: str, *extra: str) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--scale", "tiny", *extra],
        capture_output=True, text=True, cwd=REPO, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    return p.returncode, result, p.stderr


@pytest.mark.parametrize(
    "workload", [w["name"] for w in _bench()["workloads"]] + ["composed_gates"]
)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run_prints_every_metric(workload, trace):
    code, result, err = _run(workload, "--trace", trace)
    assert code == 0, err[-3000:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    key = "end_to_end" if trace == "0" else "per_layer"
    want = {m["name"]: m["unit"] for m in _bench()[key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_wrong_poison_residue_is_a_failure_not_a_fast_run():
    code, result, err = _run("ingest_dlq", "--trace", "0", "--wrong-expectation")
    assert code != 0
    assert result is not None and not result["correct"]
    assert result["failed"] >= 1
    assert result["metrics"]["ok_frac"]["value"] < 1.0
    assert "poison residue" in err
