"""Drift-proof bench headline: median of n>=3 runs + a cross-tree control.

Three consecutive rounds (r11 1.15×, r12, r13 1.40×) needed MANUAL
adjudication of the driver's single-run headline against this host's
measured ±40% day-to-day swing — each time by the same playbook: rerun
the bench n times, and re-bench the UNCHANGED previous-round tree to
show the inflation hits code with zero delta. This tool automates that
playbook (VERDICT r13 item 2) and commits its output as
``BENCH_MEDIAN.json``:

    python tools/bench_median.py                    # n=3 + auto control
    python tools/bench_median.py --runs 3 --control-commit <sha>

Emits ``{headline_median, n, totals, cross_tree: {commit,
committed_total, measured_total, ratio}, confirmed_regressions, ...}``.
bench.py folds a matching-sf BENCH_MEDIAN.json into its own
detail/summary (``_median_evidence``), so the driver's single-run
capture carries these fields too.

This tool is the ONLY adjudicator of a lane regression. Each bench run
flags lanes against the one frozen floor epoch (``BENCH_FLOOR_r16.json``,
bench.py's ``_flag``: >2x AND >0.5 s); a single run's flags are only
provisional.

- **headline_median**: median of the n run totals.
- **cross_tree**: the previous round's final tree (auto: the newest
  commit touching BENCH_DETAIL.json that isn't HEAD when HEAD touched
  it, else HEAD's parent lineage) checked out into a scratch worktree
  and re-benched ONCE with ITS OWN bench.py — its committed total is
  read from ``git show <commit>:BENCH_DETAIL.json``. ratio =
  measured/committed on byte-identical code = pure host drift.
- **confirmed_regressions**: a lane counts only if the runs' single-run
  ``frozen_regressions`` flag it in >=2 of the n independent runs
  (``confirm_flags``), AND the lane does not also breach its frozen
  floor on the control tree the same day (the n runs share one
  machine-day, so a day-level systematic can reproduce across all of
  them; byte-identical old code breaching too proves host, and the flag
  is demoted to **host_attributed_flags** with the control measurement
  attached).

Every subprocess writes its detail to a scratch path. Since round 15 this
tool is also the ONLY writer of the committed ``BENCH_DETAIL.json``: the
detail of the run whose total IS the median (n odd → an actual sample)
is re-stamped with the fresh median evidence and written to the repo
root. bench.py's default detail path is the gitignored
``BENCH_DETAIL_LAST_RUN.json``, so no other run — driver-initiated or
ad-hoc — can dirty or replace the committed evidence (VERDICT r14 #1),
and ``tests/test_bench_gates.py`` pins that the committed detail's
headline equals the committed median (silent divergence fails a test).
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _flag  # noqa: E402  — the one flag rule


def _git(*args: str, cwd: str = REPO) -> str:
    return subprocess.run(
        ["git", *args], cwd=cwd, capture_output=True, text=True, check=True
    ).stdout.strip()


def _bench_once(cwd: str, sf_dir: str, env_extra: dict) -> dict:
    res = subprocess.run(
        [sys.executable, os.path.join(cwd, "bench.py")],
        cwd=cwd,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir, **env_extra},
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(res.stdout.strip().splitlines()[-1])


def confirm_flags(flags_by_run: list[dict], q_samples: dict) -> dict:
    """The majority rule: a lane is confirmed when it is flagged in >=2 of
    the n independent runs. A lane flagged once is host noise until it
    reproduces (r13: single-run flag sets were disjoint across same-tree
    runs). Pure function so the rule is unit-testable."""
    counts = collections.Counter(name for flags in flags_by_run for name in flags)
    return {
        name: {
            "runs_flagged": c,
            "of_runs": len(flags_by_run),
            "samples": q_samples.get(name),
        }
        for name, c in counts.items()
        if c >= 2
    }


def demote_host_attributed(
    confirmed: dict, flags_by_run: list[dict], control_queries: dict
) -> tuple[dict, dict]:
    """Split multi-run-confirmed flags into (still_confirmed,
    host_attributed): a lane whose byte-identical control-tree run also
    breaches its frozen floor (bench.py's ``_flag`` rule) cannot be a
    code regression — the n runs share one machine-day, and the control
    proves the day, not the diff, is slow. Pure function so the
    adjudication rule is unit-testable."""
    still = dict(confirmed)
    host: dict[str, dict] = {}
    for name in list(still):
        flag = next((fl[name] for fl in flags_by_run if name in fl), {})
        floor = flag.get("frozen_floor")
        ctrl = control_queries.get(name)
        if floor and ctrl is not None and _flag({name: ctrl}, {name: floor}):
            host[name] = {
                **still.pop(name),
                "frozen_floor": floor,
                "control_now": ctrl,
            }
    return still, host


def _auto_control_commit() -> str:
    """Newest commit that changed BENCH_DETAIL.json strictly before HEAD —
    the previous round's final benched tree."""
    shas = _git(
        "log", "--format=%H", "-n", "5", "HEAD", "--", "BENCH_DETAIL.json"
    ).splitlines()
    head = _git("rev-parse", "HEAD")
    for sha in shas:
        if sha != head:
            return sha
    raise SystemExit("no prior BENCH_DETAIL.json commit to control against")


def _control_run(commit: str, sf_dir: str, scratch_dir: str) -> dict:
    committed = json.loads(_git("show", f"{commit}:BENCH_DETAIL.json"))
    wt = os.path.join(scratch_dir, "control_tree")
    _git("worktree", "add", "--detach", wt, commit)
    try:
        # The control tree runs ITS OWN bench.py (the worktree is scratch
        # and discarded).
        control_detail_path = os.path.join(scratch_dir, "control_detail.json")
        summary = _bench_once(
            wt, sf_dir, {"SPARK_GRAFT_BENCH_DETAIL": control_detail_path}
        )
        try:
            with open(control_detail_path) as f:
                control_queries = json.load(f).get("queries", {})
        except (OSError, json.JSONDecodeError):
            control_queries = {}
    finally:
        _git("worktree", "remove", "--force", wt)
    return {
        "commit": commit,
        "committed_total": committed["value"],
        "measured_total": summary["value"],
        "ratio": round(summary["value"] / committed["value"], 4),
        "queries": control_queries,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--control-commit")
    ap.add_argument(
        "--no-control", action="store_true", help="skip the cross-tree run"
    )
    args = ap.parse_args()
    if args.runs < 3:
        raise SystemExit("--runs must be >=3: a median of fewer proves nothing")

    sf_dir = os.getenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    scratch_dir = tempfile.mkdtemp(prefix="bench_median_")
    totals: list[float] = []
    q_samples: dict[str, list[float]] = {}
    flags_by_run: list[dict] = []
    details: list[dict] = []
    action = None
    sf = None
    try:
        for i in range(args.runs):
            scratch = os.path.join(scratch_dir, f"detail_{i}.json")
            _bench_once(
                REPO, sf_dir, {"SPARK_GRAFT_BENCH_DETAIL": scratch}
            )
            with open(scratch) as f:
                detail = json.load(f)
            details.append(detail)
            totals.append(detail["value"])
            action = detail["action"]
            sf = detail.get("sf")
            for name, t in detail["queries"].items():
                q_samples.setdefault(name, []).append(t)
            flags_by_run.append(detail.get("frozen_regressions", {}))
            print(
                f"run {i + 1}/{args.runs}: total {detail['value']}s",
                file=sys.stderr,
            )

        confirmed = confirm_flags(flags_by_run, q_samples)

        cross_tree = None
        host_attributed: dict[str, dict] = {}
        if not args.no_control:
            commit = args.control_commit or _auto_control_commit()
            cross_tree = _control_run(commit, sf_dir, scratch_dir)
            print(
                f"control {commit[:9]}: measured "
                f"{cross_tree['measured_total']}s vs committed "
                f"{cross_tree['committed_total']}s "
                f"(ratio {cross_tree['ratio']})",
                file=sys.stderr,
            )
            confirmed, host_attributed = demote_host_attributed(
                confirmed, flags_by_run, cross_tree.get("queries") or {}
            )
            for name, info in host_attributed.items():
                print(
                    f"demoted {name}: control tree shows "
                    f"{info['control_now']}s vs floor "
                    f"{info['frozen_floor']}s — host, not code",
                    file=sys.stderr,
                )
    finally:
        shutil.rmtree(scratch_dir, ignore_errors=True)

    out = {
        "sf": sf,
        "action": action,
        "n": args.runs,
        "totals": totals,
        "headline_median": round(statistics.median(totals), 4),
        "per_query_median": {
            n: round(statistics.median(v), 4) for n, v in q_samples.items()
        },
        "confirmed_regressions": confirmed,
        "host_attributed_flags": host_attributed,
        "flagged_by_run": flags_by_run,
        "cross_tree": cross_tree,
        "method": (
            "median of n independent bench.py subprocesses (scratch detail "
            "paths); a lane is a confirmed regression only when the runs' "
            "single-run frozen_regressions (>2x AND >0.5 s over "
            "BENCH_FLOOR_r16.json) flag it in >=2 of the n runs AND the "
            "same lane does not also breach its frozen floor on the "
            "cross-tree control (byte-identical previous-round code, same "
            "day) — a control breach attributes the slip to the host and "
            "demotes the flag to host_attributed_flags with the evidence "
            "retained; cross_tree re-benches the previous round's final "
            "tree from git, so its ratio is pure host drift"
        ),
    }
    with open(os.path.join(REPO, "BENCH_MEDIAN.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)

    # The committed BENCH_DETAIL.json = the median run's full detail,
    # re-stamped with the evidence just written (its own median_evidence
    # block was read from the PREVIOUS round's file before these runs).
    # n is odd-or-better >=3, so the median of totals is an actual sample;
    # pick the run closest to it to be robust to float rounding.
    median_run = min(
        details, key=lambda d: abs(d["value"] - out["headline_median"])
    )
    median_run["median_evidence"] = out
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as f:
        json.dump(median_run, f, indent=1, sort_keys=True)
    print(
        f"committed BENCH_DETAIL.json <- median run "
        f"({median_run['value']}s of {totals})",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "headline_median": out["headline_median"],
                "n": args.runs,
                "cross_tree_ratio": (cross_tree or {}).get("ratio"),
                "confirmed_regressions": sorted(confirmed),
                "host_attributed_flags": sorted(host_attributed),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
