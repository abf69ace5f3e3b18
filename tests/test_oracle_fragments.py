"""One definition per shared SQL fragment (no Spark needed).

The DuckDB oracles are the package's reference answers, and most of its
repeated text was oracle SQL spelled out again in a second query. A
fragment that two oracles share is defined once, beside its queries or
in ``oracle_sql.py`` when modules share it, and each oracle references
it. This test reads every multi-line string literal and f-string of the
package (f-string fields as ``{}``, docstrings excluded) and fails when
six consecutive lines, each longer than four characters without its
indentation, appear in two literals; and when the DuckDB tokenizer is
spelled in more than one literal.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "simplemapreduce_spark"
)
RUN = 6
TOKENIZER = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = node.body[0] if node.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def _modules() -> list[tuple[str, ast.Module]]:
    """(path relative to the package, parsed module) for every module."""
    out = []
    for root, _dirs, files in os.walk(PKG):
        for fname in sorted(files):
            if fname.endswith(".py"):
                path = os.path.join(root, fname)
                with open(path, encoding="utf-8") as fh:
                    out.append((os.path.relpath(path, PKG), ast.parse(fh.read(), filename=path)))
    return out


def _literals() -> list[tuple[str, str]]:
    """("path:line", text) for every multi-line string literal."""
    out = []
    for rel, tree in _modules():
        skip = _docstrings(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.JoinedStr):
                skip.update(id(n) for n in ast.walk(node) if n is not node)
        for node in ast.walk(tree):
            if id(node) in skip:
                continue
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                text = node.value
            elif isinstance(node, ast.JoinedStr):
                text = "".join(
                    v.value if isinstance(v, ast.Constant) else "{}" for v in node.values
                )
            else:
                continue
            if "\n" in text:
                out.append((f"{rel}:{node.lineno}", text))
    return out


def test_literals_found():
    # Guards the walker: the oracles alone are several hundred literals.
    assert len(_literals()) >= 300


def test_no_fragment_spelled_twice():
    sites: dict[tuple[str, ...], set[str]] = defaultdict(set)
    for site, text in _literals():
        lines = text.split("\n")
        for i in range(len(lines) - RUN + 1):
            run = lines[i : i + RUN]
            if all(len(line.strip()) > 4 for line in run):
                sites[tuple(run)].add(site)
    repeated = sorted({tuple(sorted(s)) for s in sites.values() if len(s) > 1})
    assert not repeated, f"{len(repeated)} fragments are spelled twice: {repeated[:5]}"


def test_tokenizer_spelled_once():
    holders = [
        f"{rel}:{n.lineno}"
        for rel, tree in _modules()
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and TOKENIZER in n.value
    ]
    assert len(holders) == 1, holders
