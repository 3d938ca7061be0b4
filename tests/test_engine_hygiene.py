"""Static guards on the engine package.

* Configuration is the function arguments and ``EngineConfig``: no
  module reads the environment, except the diagnostic switches listed
  below, which a per-call operator trace is to replace.
* Operators cache frames only through ``plans/cache.py``, so every
  cached frame has an owner that releases it.  The one exception is the
  ``rknn_stats`` handle, whose lifecycle its caller owns by contract.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "rindex_spark"

ENV_ALLOWED = {"RINDEX_DEBUG_TIMING", "RINDEX_KNN_PROF", "RINDEX_KNN_STATS"}
PERSIST_ALLOWED = {("rknn.py", "rknn_stats")}

_ENV_USE = re.compile(r"\b(?:environ|getenv)\b")
_ENV_READ = re.compile(r"""\benviron(?:\.get\(|\[)\s*["'](\w+)["']""")


def test_no_environment_reads_outside_the_allow_list():
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if not _ENV_USE.search(line):
                continue
            names = _ENV_READ.findall(line)
            if "getenv" in line or not names or set(names) - ENV_ALLOWED:
                bad.append(f"{path.relative_to(PKG)}:{no}: {line.strip()}")
    assert not bad, "environment reads outside the allow-list:\n" + "\n".join(bad)


def test_operators_cache_only_through_the_registry():
    bad = []
    for path in sorted((PKG / "operators").glob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "cache")
                    and (path.name, getattr(top, "name", None)) not in PERSIST_ALLOWED
                ):
                    bad.append(f"{path.name}:{node.lineno}")
    assert not bad, "persist/cache outside plans/cache.py:\n" + "\n".join(bad)
