"""Repo-wide gate on the persist-without-unpersist leak class
(round-9 verdict item #3).

A ``df.persist()`` registers the plan in the session CacheManager and
pins executor storage until an explicit ``unpersist`` — something a
library function that RETURNS a lazy DataFrame can never do at the
right time, so every such site leaked cache entries to callers
(hidden in bench only because bench clearCache()s between queries).
The sanctioned patterns are:

- ``localCheckpoint(eager=True)`` — materializes once, truncates
  lineage, and the blocks are reclaimed by the ContextCleaner when
  the DataFrame is garbage-collected; no caller obligation.
- ``persist`` WITH a matching ``unpersist`` in the same module, for
  code that owns the full lifecycle (the streaming foreachBatch
  bodies: the frame is persisted, fully drained to sinks, and
  unpersisted before the batch function returns).

This test fails on any new ``.persist(`` site outside the second
pattern, so the leak class cannot silently return.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "mi_inbound_pulsar_spark"

# Modules allowed to persist: they drain and unpersist within one
# foreachBatch invocation (checked below: #persist <= #unpersist), or
# implement the scoped-persist helper itself (plans/iterate.py: the
# cache entry is tied to the result frame's lifetime via a weakref
# finalizer that unpersists — the sanctioned way for an intermediate
# scanned multiple times inside ONE returned plan).
LIFECYCLE_OWNERS = {
    "streaming/delivery.py",
    "streaming/privacy.py",
    "streaming/curation.py",
    "plans/iterate.py",
}

_PERSIST = re.compile(r"\.persist\(")
_UNPERSIST = re.compile(r"\.unpersist\(")


def test_no_unmatched_persist_sites():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        src = path.read_text()
        n_p = len(_PERSIST.findall(src))
        if n_p == 0:
            continue
        n_u = len(_UNPERSIST.findall(src))
        if rel not in LIFECYCLE_OWNERS:
            offenders.append(
                f"{rel}: {n_p} .persist( site(s) in a non-lifecycle-owner "
                f"module — use localCheckpoint(eager=True) instead, or add "
                f"the module to LIFECYCLE_OWNERS with a drain+unpersist "
                f"contract"
            )
        elif n_p > n_u:
            offenders.append(
                f"{rel}: {n_p} persist vs {n_u} unpersist — lifecycle "
                f"owner must release every frame it pins"
            )
    assert not offenders, "\n".join(offenders)


def test_lifecycle_owners_still_exist():
    """If an owner module drops its persist usage entirely, shrink the
    allowlist rather than leaving a stale waiver behind."""
    for rel in LIFECYCLE_OWNERS:
        src = (PKG / rel).read_text()
        assert _PERSIST.search(src), f"{rel} no longer persists - remove waiver"
