"""One memo key, one builder; one owner for the stamp (no Spark needed).

``cache.memo_build`` returns the FIRST entry stored under a key and
ignores any plan passed in later, so two call sites that spell the same
key silently share whichever plan ran first. Every literal key
expression passed to ``memo_build`` / ``memo_persist`` /
``memo_local_checkpoint`` must therefore appear at exactly one call
site in the package; a query that needs a memoized fragment calls that
fragment's builder instead.

The cache decides which file versions a fragment depends on (the whole
dataset at ``sf_dir``), so no call site passes a stamp or embeds
``sf_dir`` in its key, and ``table_stamp`` is called only by the three
modules that own a stamp: the memo cache, the staging helper and the
schema cache.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "simplemapreduce_spark"
)
MEMO_FUNCS = {"memo_build", "memo_persist", "memo_local_checkpoint"}
STAMP_OWNERS = {"cache.py", "scratch.py", os.path.join("sources", "tables.py")}


def _calls() -> list[tuple[str, ast.Call]]:
    """(path relative to the package, call node) for every call in it."""
    out = []
    for root, _dirs, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            rel = os.path.relpath(path, PKG)
            out += [(rel, n) for n in ast.walk(tree) if isinstance(n, ast.Call)]
    return out


def _name(call: ast.Call) -> str | None:
    func = call.func
    return func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)


def _memo_calls() -> list[tuple[str, ast.Call]]:
    return [(rel, c) for rel, c in _calls() if _name(c) in MEMO_FUNCS]


def _key(call: ast.Call) -> ast.expr | None:
    key = call.args[1] if len(call.args) > 1 else None
    for kw in call.keywords:
        if kw.arg == "key":
            key = kw.value
    return key


def _memo_key_sites() -> dict[str, list[str]]:
    """ast.dump of each literal key expression -> ["path:line", ...]."""
    sites: dict[str, list[str]] = defaultdict(list)
    for rel, call in _memo_calls():
        key = _key(call)
        if isinstance(key, (ast.Constant, ast.JoinedStr)):
            sites[ast.dump(key)].append(f"{rel}:{call.lineno}")
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


def test_kmeans_fits_are_memo_keys():
    keys = {k.value for k in (_key(c) for _, c in _memo_calls()) if isinstance(k, ast.Constant)}
    assert {"sim.ivf_kmeans_centroids", "sim.pq_codebooks"} <= keys


def test_table_stamp_called_only_by_stamp_owners():
    callers = {f"{rel}:{c.lineno}" for rel, c in _calls() if _name(c) == "table_stamp"}
    assert callers and all(site.split(":")[0] in STAMP_OWNERS for site in callers), callers


def test_memo_calls_pass_no_stamp():
    """Every memo call passes a literal key that names neither a stamp
    nor ``sf_dir``, then ``sf_dir`` itself; no argument calls
    ``table_stamp``."""
    bad = []
    for rel, call in _memo_calls():
        if rel == "cache.py":
            continue  # the public entries forward to memo_build
        key = _key(call)
        names = {n.id for n in ast.walk(key) if isinstance(n, ast.Name)} if key else set()
        stamped = any(
            isinstance(n, ast.Call) and _name(n) == "table_stamp"
            for a in call.args + [kw.value for kw in call.keywords]
            for n in ast.walk(a)
        )
        sf_arg = call.args[2] if len(call.args) > 2 else None
        if (
            not isinstance(key, (ast.Constant, ast.JoinedStr))
            or "sf_dir" in names
            or stamped
            or not (isinstance(sf_arg, ast.Name) and sf_arg.id == "sf_dir")
        ):
            bad.append(f"{rel}:{call.lineno}")
    assert not bad, "memo calls that stamp or key by hand: " + ", ".join(bad)
