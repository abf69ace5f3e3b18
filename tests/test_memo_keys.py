"""One memo key, one builder (no Spark needed).

``cache.memo_persist`` returns the FIRST entry stored under a key and
ignores any plan passed in later, so two call sites that spell the same
key silently share whichever plan ran first. Every literal key
expression passed to ``memo_persist`` / ``memo_local_checkpoint`` must
therefore appear at exactly one call site in the package; a query that
needs a memoized fragment calls that fragment's builder instead.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "simplemapreduce_spark"
)
MEMO_FUNCS = {"memo_persist", "memo_local_checkpoint"}


def _memo_key_sites() -> dict[str, list[str]]:
    """ast.dump of each literal key expression -> ["path:line", ...]."""
    sites: dict[str, list[str]] = defaultdict(list)
    for root, _dirs, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                func = node.func
                name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
                if name not in MEMO_FUNCS:
                    continue
                key = node.args[1] if len(node.args) > 1 else None
                for kw in node.keywords:
                    if kw.arg == "key":
                        key = kw.value
                if isinstance(key, (ast.Constant, ast.JoinedStr)):
                    rel = os.path.relpath(path, os.path.dirname(PKG))
                    sites[ast.dump(key)].append(f"{rel}:{node.lineno}")
    return sites


def test_memo_keys_found():
    # Guards the walker itself: a refactor that hides every key behind
    # a variable would make the uniqueness check below vacuous.
    assert len(_memo_key_sites()) >= 10


def test_each_memo_key_has_one_call_site():
    shared = {k: v for k, v in _memo_key_sites().items() if len(v) > 1}
    assert not shared, "memo keys built at more than one site: " + "; ".join(
        ", ".join(v) for v in shared.values()
    )
