"""No dead code in the package: every undecorated top-level function in
``kafkastreamingetl_spark/`` is named somewhere besides its own ``def``
line — in the package, ``bench.py``, ``__spark_entry__.py``, ``tools/``,
``perfbench/`` or ``tests/``. Decorated functions are exempt: the query
registry finds them through its decorator. A pure AST + identifier scan,
no Spark."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "kafkastreamingetl_spark"
IDENT = re.compile(r"[A-Za-z_]\w*")


def _sources() -> list[Path]:
    files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in (PKG, REPO / "tools", REPO / "perfbench", REPO / "tests"):
        files += sorted(d.rglob("*.py"))
    return files


def test_every_top_level_function_has_a_caller():
    texts = {p: p.read_text() for p in _sources()}
    mentions = Counter(
        name for text in texts.values() for name in IDENT.findall(text)
    )
    unused = [
        f"{p.relative_to(REPO)}:{node.lineno} {node.name}"
        for p in sorted(PKG.rglob("*.py"))
        for node in ast.parse(texts[p]).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.decorator_list
        and mentions[node.name] <= 1
    ]
    assert not unused, "functions named nowhere but their def:\n" + "\n".join(
        unused
    )
