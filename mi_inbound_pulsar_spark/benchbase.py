"""Drift-robust regression-gate baseline shared by ``bench.py`` and
``tools/local_verify.py``.

The problem (round-10 verdict item #2): single-JVM wall times on this
machine drift by session — the same tree measured in two sessions came
out 1.23x apart with zero code change (adjudicated by interleaved
worktree A/B, SCALE.md round 10). The old gate baselined on "most
recent committed measurement wins", so one drifted session poisoned
the next round's baseline and the gate went blind, while round-over-
round comparisons of committed absolutes stayed meaningless.

The fix has two halves:

1. **Baseline = committed-round minimum.** ``committed_min_times()``
   merges every committed per-query ledger — driver ``BENCH_r*.json``,
   builder ``BENCH_FULL.json``, and the tri-scale sweep's sf0.1
   artifacts ``VERIFY_FULL_r*_sf0.1.json`` — taking the MINIMUM ever
   committed per query. The minimum is the closest committed estimate
   of the plan's true cost on this machine (drift only ever slows
   things down); it cannot ratchet upward with a loaded session.
   Folding the sweep ledgers in also widens gate coverage from the
   ~212 headline queries to the full registry (verdict item #7).

2. **Session drift factor.** Before gating, the harness times a pinned
   ~10-query probe set (``PROBES`` — queries whose implementations have
   been frozen since round 3/4 and span scan/agg, join, window, text,
   graph, retrieval, interval-join shapes) and computes
   ``drift = median(probe_time / committed_min)`` clamped to >= 1.0.
   Every measured time is divided by ``drift`` before the per-query
   gate applies. A uniformly loaded session inflates probes and
   suspects alike, so the ratio cancels; a genuine single-query
   regression moves only its own numerator and still flags.

Noise floors (documented here, used by both consumers): bench times
are min-of-2 with a retest pass, so the gate is
``t/drift > max(1.3*base, base+0.3)``; the sweep times are single-pass
(and measured through ``toArrow`` rather than ``count``), so its gate
is looser — ``t/drift > max(1.5*base, base+0.5)`` — to keep one-shot
GC/scheduler spikes out of the flag list.
"""

from __future__ import annotations

import json
import re
import statistics
from pathlib import Path

#: Pinned probe queries for the session-drift estimate. Chosen for
#: (a) implementation frozen for many rounds (no legitimate
#: round-over-round movement to contaminate the ratio), (b) committed
#: minima >= ~0.4 s at sf0.1 (above timer jitter), (c) shape diversity
#: so the factor reflects the whole engine, not one executor pool.
#: Do NOT add queries whose implementation changed in the current
#: round — a real speedup/slowdown in a probe biases the factor
#: (median limits the damage, but keep the set frozen).
#:
#: Freshness is ENFORCED for function sources (round-12 verdict item
#: #5: two round-12-changed queries sat in this set and skewed the
#: factor): ``PROBE_FREEZE.json`` pins the sha256 of every probe's
#: TRANSITIVE source closure (the query function plus every repo-local
#: function or class it reaches by bare name or by ``from ... import``
#: — ``probe_source_digest``), and ``tests/test_bench_gate.py`` fails
#: when any probe's closure drifts from the freeze. Changing a probe's
#: kernel therefore forces a deliberate probe swap + freeze
#: regeneration (``python tools/gen_probe_freeze.py``) in the same
#: commit. NOT covered: the VALUES of module-level constants a probe
#: reads, and helpers reached through an attribute (``module.fn``) —
#: a change to either must be checked for probe reach by hand.
#: Round-13 rotation under that rule: ``q_triangle_count`` (round-12
#: dedup-pin blast radius; measured 5.7x its committed min while the
#: median probe sat at 1.76x this session) and
#: ``q_interval_overlap_join`` (round-12 one-scan rewrite) are
#: replaced by ``q_gwet_ac1`` (agreement window shape, frozen since
#: round 11) and ``q_kmv_distinct_sketch`` (portable-sketch explode
#: shape, frozen since round 9).
#: Exact-cosine kernel rotation: ``q_cosine_topk`` (its
#: ``brute_force_topk`` / ``_unit_rows`` closure now runs the shared
#: top-k selector) is replaced by ``q_multimodal_frame_sample``
#: (mapInPandas executor-Python shape like the retrieval probe it
#: replaces, closure unchanged since round 9, committed sf0.1 min
#: 0.45 s).
PROBES = (
    "q05_regional_revenue",
    "q09_product_profit",
    "q_session_window",
    "q_gwet_ac1",
    "q_bm25_search",
    "q_funnel_stages",
    "q_scd2_dimension",
    "q_kmv_distinct_sketch",
    "q_multimodal_frame_sample",
    "q_simhash_signatures",
)


def probe_source_closure(fn) -> dict[str, str]:
    """The TRANSITIVE repo-local source closure of a query function:
    ``{qualname: source}`` for the function itself plus, recursively,
    every ``mi_inbound_pulsar_spark`` function/class it references —
    via module globals OR via ``from mi_inbound_pulsar_spark... import``
    statements inside the body (the local-import idiom the operator
    modules use). A probe whose *helper kernel* changes (the round-12
    ``jaccard_pairs`` pin reached ``q_triangle_count`` through two
    helper hops) closes over the changed source even though the query
    function's own text is untouched."""
    import ast
    import importlib
    import inspect
    import textwrap

    seen: dict[str, str] = {}

    def visit(obj) -> None:
        try:
            qual = f"{obj.__module__}.{obj.__qualname__}"
            src = inspect.getsource(obj)
        except (TypeError, OSError, AttributeError):
            return
        if not obj.__module__.startswith("mi_inbound_pulsar_spark") or qual in seen:
            return
        seen[qual] = src
        tree = ast.parse(textwrap.dedent(src))
        names: set[str] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.ImportFrom) and node.module and (
                node.module.startswith("mi_inbound_pulsar_spark")
            ):
                mod = importlib.import_module(node.module)
                for alias in node.names:
                    visit(getattr(mod, alias.name, None))
        g = getattr(obj, "__globals__", None)
        if g is None:  # a class: resolve names via its module
            g = vars(importlib.import_module(obj.__module__))
        for name in names:
            visit(g.get(name))

    visit(fn)
    return seen


def probe_source_digest(fn) -> str:
    """sha256 over :func:`probe_source_closure` — the freeze key the
    probe-freshness gate pins in ``PROBE_FREEZE.json``."""
    import hashlib

    closure = probe_source_closure(fn)
    blob = "\n".join(closure[q] for q in sorted(closure))
    return hashlib.sha256(blob.encode()).hexdigest()


def committed_min_times(
    root: Path | None = None, sources: str = "all"
) -> dict[str, float]:
    """Per-query committed-round MINIMUM wall time at sf0.1, merged from
    every committed ledger:

    - driver-committed ``BENCH_r*.json`` (the driver wraps our stdout:
      the per-query map lives under ``parsed.queries``; ``parsed`` is
      null when the JSON line outgrew the driver's 2000-char tail —
      the round-6 case — so those rounds contribute nothing, fine);
    - ``BENCH_FULL.json``, the committed headline ledger (since round
      12 refreshed only under ``BENCH_WRITE_LEDGER=1`` — every run's
      map goes to the gitignored ``BENCH_LATEST.json`` instead, so a
      driver bench run leaves the tree clean);
    - ``VERIFY_FULL_r*_sf0.1.json``, the tri-scale sweep's sf0.1 pass
      (single-pass ``sec`` per query, full registry).

    Times from a drifted session are simply higher and lose the min,
    so the baseline is monotone non-increasing round over round.

    ``sources`` restricts which ledgers contribute: ``"bench"`` (the
    min-of-2 ``count()``-action BENCH ledgers), ``"sweep"`` (the
    single-pass ``toArrow`` VERIFY ledgers), or ``"all"``. The two
    methodologies measure different things for wide-output queries —
    ``toArrow`` pays driver materialization that ``count()`` never
    does (committed example: ``q_substring_dedup`` 0.35 s bench vs
    5.3 s sweep, SAME plan) — so a gate must baseline against its OWN
    methodology's ledgers: bench gates on "all" (sweep minima are
    almost never lower, and the trim guard handles flukes), the sweep
    gate on "sweep" only.

    Trimmed against flukes: a single lucky measurement must not
    anchor a query's baseline forever (committed example:
    ``q_triangle_count`` sweep times 3.6/3.6/4.2/**1.4**/4.4/7.0/2.7 —
    the r07 1.4 s is a one-off). If the global minimum is below 0.6x
    the MEDIAN of all committed samples, the second-lowest wins. A
    genuine optimization is conservatively trimmed for exactly one
    round — its next committed measurement is fast too, becomes the
    second-lowest, and the baseline converges.
    """
    root = root or Path(__file__).resolve().parent.parent
    samples: dict[str, list[float]] = {}

    def take(name: str, sec: float) -> None:
        if sec > 0:
            samples.setdefault(name, []).append(sec)

    # only sf0.1 ledgers contribute — a dev run at another scale factor
    # (bench honors $SPARK_GRAFT_SF_DIR) must not poison the baseline
    def sf_ok(d: dict) -> bool:
        sf = d.get("sf")
        return sf is None or abs(float(sf) - 0.1) < 1e-9

    if sources in ("all", "bench"):
        for p in root.glob("BENCH_r*.json"):
            if not re.fullmatch(r"BENCH_r\d+\.json", p.name):
                continue
            try:
                data = json.loads(p.read_text())
            except (OSError, ValueError):
                continue
            parsed = data.get("parsed") or data
            if not sf_ok(parsed):
                continue
            for k, v in (parsed.get("queries") or {}).items():
                take(k, float(v))

        full = root / "BENCH_FULL.json"
        if full.exists():
            try:
                data = json.loads(full.read_text())
                if sf_ok(data):
                    for k, v in data.get("queries", {}).items():
                        take(k, float(v))
            except (OSError, ValueError):
                pass

    if sources in ("all", "sweep"):
        for p in root.glob("VERIFY_FULL_r*_sf0.1.json"):
            try:
                data = json.loads(p.read_text())
            except (OSError, ValueError):
                continue
            for k, rec in (data.get("queries") or {}).items():
                if isinstance(rec, dict) and rec.get("status") != "fail":
                    take(k, float(rec.get("sec") or 0.0))

    merged: dict[str, float] = {}
    for name, vals in samples.items():
        vals.sort()
        if len(vals) >= 3 and vals[0] < 0.6 * statistics.median(vals):
            merged[name] = vals[1]  # trimmed: the min was a fluke
        else:
            merged[name] = vals[0]
    return merged


def drift_factor(
    probe_times: dict[str, float], baseline: dict[str, float]
) -> float:
    """Session drift = median over probes of measured/committed-min,
    clamped to >= 1.0 (a faster-than-ever session must not LOOSEN the
    gate by inflating normalized times). Probes missing from either
    side are skipped; with no usable probe the factor is 1.0 (gate
    degrades to the un-normalized behavior rather than dying)."""
    ratios = [
        probe_times[q] / baseline[q]
        for q in PROBES
        if probe_times.get(q) and baseline.get(q)
    ]
    if not ratios:
        return 1.0
    return max(1.0, round(statistics.median(ratios), 3))


def gate_regressions(
    times: dict[str, float],
    baseline: dict[str, float],
    drift: float,
    *,
    ratio: float = 1.3,
    floor: float = 0.3,
) -> list[str]:
    """Queries whose drift-normalized time exceeds the gate vs the
    committed-round minimum: ``t/drift > max(ratio*base, base+floor)``.
    Returns human-readable ``"name: base -> t (norm tn, drift d)"``
    strings, sorted."""
    out = []
    for q, t in times.items():
        base = baseline.get(q)
        if base is None:
            continue
        tn = t / drift
        if tn > max(ratio * base, base + floor):
            out.append(
                f"{q}: {base}s -> {t}s (norm {round(tn, 3)}s, drift {drift}x)"
            )
    return sorted(out)
