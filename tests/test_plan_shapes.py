"""Plan-shape regression net: every registered query's physical operator
counts must match the committed snapshot (PLAN_SHAPES.json).

The snapshot pins the SCALE-relevant plan facts — how many exchanges, which
join strategies, aggregation modes, Generate/Window/TakeOrdered usage — so
an edit that silently turns a broadcast join into a shuffle, adds an
exchange, or drops TakeOrderedAndProject fails a test instead of shipping.
(BroadcastNestedLoopJoin entries in the snapshot are the deliberate
single-broadcast-row model/scalar cross joins — pinned like everything
else, so an accidental O(n·m) nested loop still shows up as a diff.)

Regenerate after intentional plan changes with::

    python -m kafkastreamingetl_spark.plans --shapes-write
"""

from __future__ import annotations

import json
import os

import pytest

import re

from kafkastreamingetl_spark.plans import plan_shape_and_text
from kafkastreamingetl_spark.queries import QUERIES

_SNAPSHOT = os.path.join(os.path.dirname(os.path.dirname(__file__)), "PLAN_SHAPES.json")


def _reset_engine_state(spark) -> None:
    """Return the session to the cold state the snapshot was generated in:
    shared-session test order must not leak persisted feature sets (their
    InMemoryRelation replaces plan subtrees) or resolved-label memos
    (checkpoint scans replace the closure pipeline) into the plans under
    measurement."""
    from kafkastreamingetl_spark.operators import dedup, similarity

    dedup._FEATS_MEMO.clear()  # persisted memo: clear() unpersists
    dedup._CLUSTERS_MEMO.clear()
    similarity._EMB_CLUSTERS_MEMO.clear()
    similarity._MODEL_MEMO.clear()
    spark.catalog.clearCache()


def _unpartitioned_window_specs(plan_text: str) -> set[str]:
    """windowspecdefinition(...) whose FIRST top-level argument is an
    ordering (SortOrder prints `<expr> ASC|DESC NULLS ...`) rather than a
    partition column — the empty-partition specs Spark warns 'No
    Partition Defined' about at execution. Arguments are extracted with a
    balanced-paren walk, not a regex: a leading sort key like
    ``cast(ts#4 as date) ASC NULLS FIRST`` contains parentheses and would
    silently escape a `[^)]*` capture."""
    hits = set()
    token = "windowspecdefinition("
    start = 0
    while True:
        idx = plan_text.find(token, start)
        if idx < 0:
            break
        i = idx + len(token)
        depth = 1
        first_arg_end = None
        while i < len(plan_text) and depth > 0:
            c = plan_text[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 1 and first_arg_end is None:
                first_arg_end = i
            i += 1
        first = plan_text[
            idx + len(token) : first_arg_end if first_arg_end else i - 1
        ].strip()
        if re.search(r" (ASC|DESC) NULLS", first):
            hits.add(first[:60])
        start = i
    return hits


@pytest.mark.slow
def test_plan_shapes_match_snapshot(spark, sf_dir):
    _reset_engine_state(spark)
    with open(_SNAPSHOT) as f:
        expected = json.load(f)
    missing = sorted(set(QUERIES) - set(expected))
    assert not missing, f"queries without a snapshot (run --shapes-write): {missing}"
    diffs = {}
    unpartitioned: dict[str, set[str]] = {}
    for name, fn in QUERIES.items():
        got, text = plan_shape_and_text(fn(spark, sf_dir))
        if got != expected[name]:
            diffs[name] = {"expected": expected[name], "got": got}
        specs = _unpartitioned_window_specs(text)
        if specs:
            unpartitioned[name] = specs
    assert not diffs, json.dumps(diffs, indent=1, sort_keys=True)
    # Registry-wide invariant since round 7: NO query plans a window with
    # an empty partition spec (the single-task global sort). Bounded-frame
    # ranks ride TakeOrderedAndProject + k-by-k count-ahead joins
    # (vocab_top_tokens), data-sized ranks ride operators/rankstats.
    assert not unpartitioned, f"unpartitioned window specs: {unpartitioned}"


def test_approx_lanes_have_no_unpartitioned_windows(spark, sf_dir):
    """The same invariant over the sketch/production lanes bench.py times
    next to the exact ones — the driver's bench tail must stay free of
    'No Partition Defined' warnings from ANY benched plan. Plans only the
    approx lanes at the default test scale, so it runs in the default
    tier (the registry-wide sweep above stays slow)."""
    from kafkastreamingetl_spark.queries import APPROX_VARIANTS

    _reset_engine_state(spark)
    unpartitioned = {}
    for name, fn in APPROX_VARIANTS.items():
        _, text = plan_shape_and_text(fn(spark, sf_dir))
        specs = _unpartitioned_window_specs(text)
        if specs:
            unpartitioned[name] = specs
    assert not unpartitioned, f"unpartitioned window specs: {unpartitioned}"
