"""One memo policy: no package module but ``functions/__init__.py`` (home
of ``SessionMemo``) constructs an ``OrderedDict``, so a new session memo
cannot hand-roll its own LRU bookkeeping. A pure AST scan, no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "kafkastreamingetl_spark"
HOME = PKG / "functions" / "__init__.py"


def _constructs_ordered_dict(node: ast.AST) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
    return name == "OrderedDict"


def test_only_the_session_memo_builds_an_ordered_dict():
    sites = [
        f"{p.relative_to(PKG.parent)}:{node.lineno}"
        for p in sorted(PKG.rglob("*.py"))
        if p != HOME
        for node in ast.walk(ast.parse(p.read_text()))
        if _constructs_ordered_dict(node)
    ]
    assert not sites, "hand-rolled memos (use functions.SessionMemo):\n" + "\n".join(
        sites
    )
