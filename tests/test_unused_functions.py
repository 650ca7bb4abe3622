"""No dead code in the package, and no parameter default nobody moves.

Every top-level function and class in ``kafkastreamingetl_spark/`` is
reached from code that runs outside tests. A reference is an AST ``Name``,
``Attribute`` or import-alias node; docstrings and comments never count.
The roots are the package's module-level statements, its
registry-decorated definitions (the query registry and the approx variants
find them through their decorator), and all of ``bench.py``,
``__spark_entry__.py``, ``tools/`` and ``perfbench/``. ``tests/`` is not a
root. Reach is taken to a fixpoint from the roots, so a definition that
only other dead code (or only itself) refers to is dead too. ``ALLOW``
keeps the few definitions that have no such caller on purpose, each with
its reason.

Every defaulted parameter of a top-level package function is passed by
some ``Call``, by keyword or by position, in the package, ``bench.py``,
``__spark_entry__.py``, ``tools/``, ``perfbench/`` or ``tests/``; a
``*``/``**`` spread at a call passes all of that function's parameters.
A default no call moves is a constant, not an option. ``OPTION_ALLOW``
keeps the deployment settings, each with its reason.

Names are matched without their module, so a reference reaches (and a
call sets) every definition of that name. A pure AST scan, no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "kafkastreamingetl_spark"
REGISTRY = {"query", "approx_variant"}
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

_CONF = "deployment: the Spark conf a launch sets (SCALE.md's JFR and codegen recipes)"
OPTION_ALLOW = {
    "get_spark.extra_conf": _CONF,
    "get_spark.shuffle_partitions": _CONF,
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


def _outside(*dirs: str) -> list[Path]:
    out = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in ("tools", "perfbench", *dirs):
        out += sorted((REPO / d).rglob("*.py"))
    return out


def _scan() -> tuple[set[str], dict[str, list[tuple[Path, ast.AST]]]]:
    """(names the roots refer to, candidate definitions by name)."""
    roots: set[str] = set()
    defs: dict[str, list[tuple[Path, ast.AST]]] = {}
    for p in _outside():
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


def _passes() -> dict[str, list[tuple[int, set[str], bool]]]:
    """Callee name -> (positional count, keyword names, spread) per call."""
    out: dict[str, list[tuple[int, set[str], bool]]] = {}
    for p in sorted(PKG.rglob("*.py")) + _outside("tests"):
        for node in ast.walk(ast.parse(p.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", getattr(node.func, "attr", None))
            kws = {k.arg for k in node.keywords}
            spread = None in kws or any(isinstance(a, ast.Starred) for a in node.args)
            out.setdefault(name, []).append((len(node.args), kws, spread))
    return out


def _defaulted(fn: ast.FunctionDef):
    """(param, its position or None if keyword-only) per defaulted param."""
    pos = fn.args.posonlyargs + fn.args.args
    for i in range(len(pos) - len(fn.args.defaults), len(pos)):
        yield pos[i], i
    for arg, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults):
        if d is not None:
            yield arg, None


def test_every_parameter_default_is_moved_by_a_call():
    passes = _passes()
    unset = []
    for p in sorted(PKG.rglob("*.py")):
        for fn in ast.parse(p.read_text()).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for arg, i in _defaulted(fn):
                if not any(
                    spread or arg.arg in kws or (i is not None and n > i)
                    for n, kws, spread in passes.get(fn.name, ())
                ):
                    unset.append((p.relative_to(REPO), arg.lineno, f"{fn.name}.{arg.arg}"))
    dials = [u for u in unset if u[2] not in OPTION_ALLOW]
    stale = sorted(OPTION_ALLOW.keys() - {key for _, _, key in unset})
    assert not dials, "defaulted parameters no call passes:\n" + "\n".join(
        f"{p}:{line} {key}" for p, line, key in dials
    )
    assert not stale, f"OPTION_ALLOW entries that a call passes or that are gone: {stale}"
