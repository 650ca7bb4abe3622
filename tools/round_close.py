"""Round closeout: regenerate the committed evidence artifacts, in order,
as ONE command (VERDICT r14 item 3 — no future round ships a single-run
headline because the closeout recipe lived only in prose):

    python tools/round_close.py              # full (bench_median ~45 min)
    python tools/round_close.py --skip-bench # index/anchors/gates only

Steps:
1. ``tools/bench_median.py`` — n>=3 median + cross-tree control, the only
   adjudicator of lane regressions against the one floor epoch
   (BENCH_FLOOR_r16.json); the sole writer of BOTH committed bench
   artifacts (BENCH_MEDIAN.json and BENCH_DETAIL.json). Needs a QUIET
   machine.
2. ``tools/gen_query_index.py`` — QUERY_INDEX.md verification ages.
3. ``tools/check_anchors.py`` — COVERAGE.md file:line anchors resolve.
4. The committed-evidence gates: ``pytest tests/test_bench_gates.py
   tests/test_driver_window.py`` — fails if the artifacts just written
   are incoherent (detail != median run, committed evidence flagged
   against the r16 floor, window overflow).

Exit code is non-zero the moment any step fails.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(label: str, cmd: list[str]) -> None:
    print(f"== {label}: {' '.join(cmd)}", flush=True)
    res = subprocess.run(cmd, cwd=REPO)
    if res.returncode != 0:
        raise SystemExit(f"round_close: step '{label}' failed ({res.returncode})")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--skip-bench",
        action="store_true",
        help="skip the ~45 min bench_median step (artifacts must already "
        "be fresh for this round — the gate step still verifies them)",
    )
    args = ap.parse_args()
    py = sys.executable
    if not args.skip_bench:
        _run("bench median evidence", [py, os.path.join("tools", "bench_median.py")])
    _run("query index", [py, os.path.join("tools", "gen_query_index.py")])
    _run("coverage anchors", [py, os.path.join("tools", "check_anchors.py")])
    _run(
        "evidence gates",
        [
            py,
            "-m",
            "pytest",
            "tests/test_bench_gates.py",
            "tests/test_driver_window.py",
            "-q",
        ],
    )
    print("round_close: all steps green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
