"""One lane harness: bench.py's ``prepare_serving`` and ``time_lane`` are
the only code that prepares and times a registry lane.

- AST guard (no Spark): no file under tools/ spells out the noop write,
  calls a ``fit_*`` trainer or ``ensure_bucketed_order_tables``, clears
  ``_MODEL_MEMO``, or times the bench action itself; inside bench.py each
  of those lives in exactly one function. A second copy is how the
  shuffle-bytes tool once skipped both PQ codebook fits while claiming
  bench.py's split.
- serving-only (sf0.001): after ``prepare_serving`` the model-backed
  lanes construct and run without a single fit.
- the bench CLI modes: ``--lanes`` / ``--n`` record each lane's median,
  its samples, its construct / plan / exec split and the generated
  classes it compiled.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MODEL_LANES = (
    "embedding_pq_topk",
    "embedding_pq_kmeans_topk",
    "embedding_ivf_topk",
    "embedding_ivf_kmeans_topk",
    "kmeans_centroids",
)


def _called(node: ast.Call) -> str:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")


def _harness_uses(tree: ast.AST) -> dict[str, set[str]]:
    """{what: names of the innermost functions doing it ("" = module
    level)} for every serving-preparation and lane-timing step."""
    found: dict[str, set[str]] = {}

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = node.name
        if isinstance(node, ast.Call):
            name = _called(node)
            if name == "format" and any(
                isinstance(a, ast.Constant) and a.value == "noop"
                for a in node.args
            ):
                found.setdefault("noop write", set()).add(scope)
            if name.startswith("fit_"):
                found.setdefault("fit_* trainer", set()).add(scope)
            if name in ("ensure_bucketed_order_tables", "perf_counter", "_bench_action"):
                found.setdefault(name, set()).add(scope)
        if isinstance(node, ast.Attribute) and node.attr == "_MODEL_MEMO":
            found.setdefault("_MODEL_MEMO", set()).add(scope)
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, "")
    # a lane timer = one function that both reads the clock and runs the
    # bench action
    timers = found.get("perf_counter", set()) & found.get("_bench_action", set())
    if timers:
        found["lane timer"] = timers
    found.pop("perf_counter", None)
    found.pop("_bench_action", None)
    return found


def _parse(path: str) -> ast.AST:
    with open(path) as f:
        return ast.parse(f.read(), path)


def test_tools_keep_no_copy_of_the_lane_harness():
    bad = {}
    for path in sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))):
        uses = _harness_uses(_parse(path))
        if uses:
            bad[os.path.basename(path)] = uses
    assert not bad, f"tools/ must call bench.prepare_serving / time_lane: {bad}"


def test_bench_holds_one_copy_of_each_step():
    uses = _harness_uses(_parse(os.path.join(REPO, "bench.py")))
    assert uses == {
        "noop write": {"_bench_action"},
        "fit_* trainer": {"prepare_serving"},
        "ensure_bucketed_order_tables": {"prepare_serving"},
        "_MODEL_MEMO": {"prepare_serving"},
        "lane timer": {"time_lane"},
    }


def test_package_spells_out_no_bench_action():
    bad = []
    for path in glob.glob(
        os.path.join(REPO, "kafkastreamingetl_spark", "**", "*.py"), recursive=True
    ):
        if "noop write" in _harness_uses(_parse(path)):
            bad.append(os.path.relpath(path, REPO))
    assert not bad, bad


def test_prepared_model_lanes_serve_without_a_fit(spark, sf_dir):
    sys.path.insert(0, REPO)
    from bench import prepare_serving, time_lane
    from kafkastreamingetl_spark.operators import similarity as sim
    from __spark_entry__ import queries

    qs = queries()
    fit, errors = prepare_serving(spark, sf_dir, qs)
    assert errors == {}
    assert {"fit_pq_codebook_label", "fit_pq_codebook_kmeans"} <= set(fit)
    mark = len(sim._FIT_LOG)
    for name in MODEL_LANES:
        run = time_lane(spark, qs[name], sf_dir)
        assert run["wall_s"] == round(run["construct_s"] + run["exec_s"], 4)
    assert sim._FIT_LOG[mark:] == []


def test_bench_lanes_and_n_modes(tmp_path, sf_dir):
    lanes = ["train_test_split", "doc_chunks"]
    detail_path = tmp_path / "detail.json"
    # The bench process rebuilds the repo-local bucketed tables of its sf
    # dir; a link under another path gives them their own table names, so
    # this session's bucketed tables keep their files.
    link = tmp_path / os.path.basename(os.path.abspath(sf_dir))
    os.symlink(os.path.abspath(sf_dir), link)
    warehouse = os.path.join(REPO, "spark-warehouse")
    before = set(os.listdir(warehouse)) if os.path.isdir(warehouse) else set()
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": str(link),
        "SPARK_GRAFT_BENCH_DETAIL": str(detail_path),
    }
    try:
        res = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py"),
             "--lanes", *lanes, "--n", "2"],
            cwd=str(tmp_path),
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
    finally:
        for name in set(os.listdir(warehouse)) - before:
            shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
    assert res.returncode == 0, res.stderr[-2000:]
    out = res.stdout.strip().splitlines()
    assert len(out) == 1, out
    summary = json.loads(out[0])
    assert summary["n_queries"] == 2 and summary["n_errors"] == 0
    assert set(summary["layers"]) == {"construct_s", "plan_s", "exec_s", "compiles"}
    with open(detail_path) as f:
        detail = json.load(f)
    assert set(detail["queries"]) == set(lanes)
    for name in lanes:
        wall = detail["queries"][name]
        layer = detail["layers"][name]
        assert {"construct_s", "plan_s", "exec_s", "compiles"} <= set(layer)
        assert abs(layer["construct_s"] + layer["exec_s"] - wall) <= 0.02 * wall
        # the warm-up compiled every class these lanes generate, and the
        # session profile's codegen cache keeps them across the passes
        assert layer["compiles"] == 0
        assert len(detail["samples"][name]) == 2
    assert summary["layers"]["compiles"] == 0
