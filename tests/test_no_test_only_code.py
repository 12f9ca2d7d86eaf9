"""Guard against package code that only tests reach.

Every top-level function or class in ``mi_inbound_pulsar_spark/`` must
be named somewhere outside ``tests/`` (package, tools, perfbench, entry
points), other than on its own ``def`` line. ``@query``-registered
functions are exempt: the registry reaches them. The few names kept on
purpose are listed below with their reason; any other name is a second
copy or a dead helper and should go with its test. JVM-free.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "mi_inbound_pulsar_spark"
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

ALLOWED = {
    "key_shared_repartition": "reference surface: Key_Shared subscription (COVERAGE.md S4)",
    "route_to_dlq": "reference surface: the DLQ sink (COVERAGE.md K7)",
    "write_stream_parquet": "reference surface: checkpointed streaming sink (COVERAGE.md sinks)",
    "write_bucketed": "plans/ scale pattern README documents (bucketed writes)",
    "bucketed_join": "plans/ scale pattern README documents (co-located SMJ)",
    "zorder_write": "plans/ scale pattern README documents (Z-order writes)",
    "capped_baskets": "reference input of the k-core brute-force replay",
}


def _is_query(node: ast.AST) -> bool:
    for deco in node.decorator_list:
        fn = deco.func if isinstance(deco, ast.Call) else deco
        if isinstance(fn, ast.Name) and fn.id == "query":
            return True
    return False


def _top_level_defs():
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if isinstance(node, kinds) and not _is_query(node):
                yield node.name, path, node.lineno, lines[node.lineno - 1]


def _words_outside_tests() -> Counter:
    words: Counter = Counter()
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT).parts
        if parts[0] == "tests" or any(p.startswith(".") for p in parts):
            continue
        words.update(WORD.findall(path.read_text()))
    return words


def test_package_has_no_test_only_code():
    words = _words_outside_tests()
    unreferenced = {}
    for name, path, lineno, def_line in _top_level_defs():
        if words[name] - WORD.findall(def_line).count(name) == 0:
            unreferenced[name] = f"{path.relative_to(ROOT)}:{lineno}"
    extra = {n: unreferenced[n] for n in sorted(set(unreferenced) - set(ALLOWED))}
    stale = sorted(set(ALLOWED) - set(unreferenced))
    assert not extra, f"package code reached only from tests: {extra}"
    assert not stale, f"allowlisted names now referenced outside tests: {stale}"
