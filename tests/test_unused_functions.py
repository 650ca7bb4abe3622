"""No dead code in the package: every top-level function and class in
``kafkastreamingetl_spark/`` is reached from code that runs outside tests.

A reference is an AST ``Name``, ``Attribute`` or import-alias node;
docstrings and comments never count. The roots are the package's
module-level statements, its registry-decorated definitions (the query
registry, the approx variants and the UDTF find them through their
decorator), and all of ``bench.py``, ``__spark_entry__.py``, ``tools/`` and
``perfbench/``. ``tests/`` is not a root. Reach is taken to a fixpoint from
the roots, so a definition that only other dead code (or only itself)
refers to is dead too. ``ALLOW`` keeps the few definitions that have no
such caller on purpose, each with its reason. Names are matched without
their module, so a reference reaches every definition of that name. A
pure AST scan, no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "kafkastreamingetl_spark"
REGISTRY = {"query", "approx_variant", "udtf"}
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

_REFERENCE_ROW = "reference capability that COVERAGE maps to reference lines"
_MONITORING = "monitoring.py is the stream job's carrier; that job decides its contents"
_TAGGED = "tag-indexed sink: the subject of the tag-compaction work"
_UPSERT = "writes the table format that `jobs.py vacuum-tombstones` maintains"
ALLOW = {
    "write_console_stream": f"S5 {_REFERENCE_ROW}",
    "write_kafka_stream": f"S8 {_REFERENCE_ROW}",
    "synthetic_events_stream": f"S9 {_REFERENCE_ROW}",
    "quality_check": f"A4 {_REFERENCE_ROW}",
    "py_hash60": "the Python reference tests check the Spark `hash60` against",
    "ProgressRecorder": _MONITORING,
    "attach": _MONITORING,
    "detach": _MONITORING,
    "progress_frame": _MONITORING,
    "batch_duration_summary": _MONITORING,
    "observed_metrics": _MONITORING,
    "alltime_dedup_sink": _TAGGED,
    "neardup_flag_sink": _TAGGED,
    "neardup_ingest_sink": _TAGGED,
    "contamination_diff_sink": _TAGGED,
    "semantic_flag_sink": _TAGGED,
    "upsert_parquet_sink": _UPSERT,
    "read_upserted": _UPSERT,
}


def _refs(tree: ast.AST) -> set[str]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out |= {node.name.rsplit(".", 1)[-1], node.asname or ""}
    return out


def _is_registered(node) -> bool:
    calls = (d.func if isinstance(d, ast.Call) else d for d in node.decorator_list)
    return any(getattr(d, "id", getattr(d, "attr", None)) in REGISTRY for d in calls)


def _scan() -> tuple[set[str], dict[str, list[tuple[Path, ast.AST]]]]:
    """(names the roots refer to, candidate definitions by name)."""
    roots: set[str] = set()
    defs: dict[str, list[tuple[Path, ast.AST]]] = {}
    outside = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in ("tools", "perfbench"):
        outside += sorted((REPO / d).rglob("*.py"))
    for p in outside:
        roots |= _refs(ast.parse(p.read_text()))
    for p in sorted(PKG.rglob("*.py")):
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, DEFS) and not _is_registered(node):
                defs.setdefault(node.name, []).append((p, node))
            else:
                roots |= _refs(node)
    return roots, defs


def _reached(roots: set[str], defs: dict) -> set[str]:
    reached: set[str] = set()
    frontier = roots & defs.keys()
    while frontier:
        reached |= frontier
        frontier = {
            ref
            for name in frontier
            for _, node in defs[name]
            for ref in _refs(node) - {name}
        } & defs.keys() - reached
    return reached


def test_every_top_level_function_has_a_caller():
    roots, defs = _scan()
    dead = defs.keys() - _reached(roots, defs)
    unused = sorted(
        (p.relative_to(REPO), node.lineno, name, node.end_lineno - node.lineno + 1)
        for name in defs.keys() - _reached(roots | ALLOW.keys(), defs)
        for p, node in defs[name]
    )
    stale = sorted(ALLOW.keys() - dead)
    assert not unused, "definitions no non-test code reaches:\n" + "\n".join(
        f"{p}:{line} {name} ({n} lines)" for p, line, name, n in unused
    )
    assert not stale, f"ALLOW entries that are reached or gone: {stale}"
