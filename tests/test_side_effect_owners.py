"""One owner per query side effect (no Spark needed).

Two side effects of query builders each have exactly one implementation
in the package: running a stream to completion (``_drain`` in
``streaming/windows.py``, the only ``awaitTermination`` call) and
writing files once per source version (``scratch.staged_once``, so the
builtin ``open`` in a write mode appears only in ``scratch.py``). The
drain also owns state-partition sizing: ``stream_state_partitions`` is
called only by ``run_stream_to_table``.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "simplemapreduce_spark"
)


def _calls() -> list[tuple[str, str, ast.Call]]:
    """(package-relative path, enclosing function name, call node) for
    every call in the package."""
    out = []
    for root, _dirs, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            rel = os.path.relpath(path, PKG)

            def visit(node: ast.AST, func: str) -> None:
                for child in ast.iter_child_nodes(node):
                    if isinstance(child, ast.Call):
                        out.append((rel, func, child))
                    if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        visit(child, child.name)
                    else:
                        visit(child, func)

            visit(tree, "<module>")
    return out


def _name(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _writes(call: ast.Call) -> bool:
    """A builtin ``open`` whose mode may write (a non-literal mode
    counts as writing: it cannot be shown to read only)."""
    if not (isinstance(call.func, ast.Name) and call.func.id == "open"):
        return False
    mode = call.args[1] if len(call.args) > 1 else None
    for kw in call.keywords:
        if kw.arg == "mode":
            mode = kw.value
    if mode is None:
        return False
    if not (isinstance(mode, ast.Constant) and isinstance(mode.value, str)):
        return True
    return any(c in mode.value for c in "wax+")


def test_one_stream_drain():
    sites = [(p, fn) for p, fn, c in _calls() if _name(c) == "awaitTermination"]
    assert sites == [(os.path.join("streaming", "windows.py"), "_drain")]


def test_state_partitions_sized_only_by_the_drain():
    sites = {(p, fn) for p, fn, c in _calls() if _name(c) == "stream_state_partitions"}
    assert sites == {(os.path.join("streaming", "windows.py"), "run_stream_to_table")}


def test_files_written_only_by_scratch():
    sites = [f"{p}:{c.lineno}" for p, _fn, c in _calls() if _writes(c)]
    assert sites, "the staging marker write must be found"
    assert all(s.startswith("scratch.py:") for s in sites), sites
