"""The one bench gate: every lane against the r16 floor epoch
(BENCH_FLOOR_r16.json) with one flag rule, the summary keys derived from
it, and tools/bench_median.py as the only adjudicator (>=2-of-n majority
plus the cross-tree control). Pure function tests — no Spark session."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_module():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.path.insert(0, REPO)
    spec.loader.exec_module(mod)
    return mod


def _bench_median_module():
    spec = importlib.util.spec_from_file_location(
        "bench_median_under_test", os.path.join(REPO, "tools", "bench_median.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_floor(tmp_path, rnd, queries=None, approx=None, sf=0.1):
    payload = {"frozen_at_round": rnd, "sf": sf, "action": "noop",
               "queries": queries or {}}
    if approx is not None:
        payload["approx"] = approx
    with open(tmp_path / f"BENCH_FLOOR_r{rnd}.json", "w") as f:
        json.dump(payload, f)


def test_frozen_floor_report_reads_the_r16_epoch_only(tmp_path, monkeypatch):
    bench = _bench_module()
    monkeypatch.setattr(
        os.path, "dirname", lambda p: str(tmp_path), raising=True
    )
    # an older epoch lying around must not take part: q_shared would flag
    # against its 0.5 s floor
    _write_floor(tmp_path, 10, queries={"q_shared": 0.5})
    _write_floor(
        tmp_path, 16, queries={"q_old": 1.0, "q_shared": 2.0, "q_new": 1.0},
        approx={"a_sketch": 0.5},
    )
    timings = {"q_old": 1.1, "q_shared": 1.9, "q_new": 3.0}  # q_new: >2x, >0.5s
    approx = {"a_sketch": 2.0}  # >2x and >0.5s over its 0.5 floor
    rep = bench._frozen_floor_report(timings, 0.1, approx)
    assert rep["frozen_floor_round"] == 16
    assert rep["frozen_headline_ratio"] == round(6.0 / 4.0, 4)
    # flags from BOTH lanes, same rule
    assert set(rep["frozen_regressions"]) == {"q_new", "a_sketch"}
    assert rep["frozen_regressions"]["q_new"] == {"now": 3.0, "frozen_floor": 1.0}


def test_flag_rule_requires_ratio_and_absolute_slip(tmp_path, monkeypatch):
    bench = _bench_module()
    monkeypatch.setattr(
        os.path, "dirname", lambda p: str(tmp_path), raising=True
    )
    _write_floor(
        tmp_path, 16, queries={"fast": 0.1, "slow": 5.0}, approx={"a": 0.1}
    )
    # fast: 3x ratio but only 0.2s absolute -> noise, not flagged;
    # slow: +4s absolute but <2x ratio -> not flagged; approx alike
    rep = bench._frozen_floor_report(
        {"fast": 0.3, "slow": 9.0}, 0.1, {"a": 0.55}
    )
    assert rep["frozen_regressions"] == {}


def test_sf_mismatch_and_missing_files_degrade_to_empty(tmp_path, monkeypatch):
    bench = _bench_module()
    monkeypatch.setattr(
        os.path, "dirname", lambda p: str(tmp_path), raising=True
    )
    assert bench._frozen_floor_report({"q": 1.0}, 0.1, {}) == {}
    _write_floor(tmp_path, 16, queries={"q": 1.0}, sf=0.01)
    assert bench._frozen_floor_report({"q": 9.0}, 0.1, {}) == {}
    assert bench._frozen_floor_report({"q": 9.0}, None, {}) == {}


def test_majority_rule_confirms_two_of_n_runs():
    """tools/bench_median.py is the only adjudicator: a lane is confirmed
    only when >=2 of the n independent runs flag it (r13: single-run flag
    sets were disjoint across same-tree runs, all noise). The samples
    ride along; a lane flagged once stays unconfirmed at any n."""
    bm = _bench_median_module()
    flag = {"now": 3.0, "frozen_floor": 1.0}
    samples = {"a": [3.0, 2.9, 1.0], "b": [3.1, 1.0, 1.1]}
    runs = [{"a": flag, "b": flag}, {"a": flag}, {}]
    got = bm.confirm_flags(runs, samples)
    assert got == {
        "a": {"runs_flagged": 2, "of_runs": 3, "samples": [3.0, 2.9, 1.0]}
    }
    # n=5: 2 of 5 confirms, 1 of 5 does not
    runs5 = [{"a": flag}, {}, {}, {"a": flag, "b": flag}, {}]
    assert set(bm.confirm_flags(runs5, samples)) == {"a"}
    assert bm.confirm_flags(runs5, samples)["a"]["of_runs"] == 5
    assert bm.confirm_flags([{}, {}, {}], samples) == {}


# The summary line's keys before the bench gates were collapsed into one;
# the driver and the round tools read them, so every one must survive.
_SUMMARY_KEYS = {
    "metric", "value", "unit", "sf", "action", "n_queries", "queries",
    "detail_file", "baseline_round", "n_regressions", "frozen_floor_round",
    "frozen_headline_ratio", "n_frozen_regressions", "n_provisional_flags",
    "n_timed_lane_fits", "n_confirm_errors", "n_errors", "n_approx",
    "layers",
}


def test_summary_carries_every_contract_key():
    """Every pre-existing summary key is still emitted, derived from the
    one floor gate: single-run flags count as regressions, frozen
    regressions and provisional flags alike, and n_confirm_errors is 0
    (nothing is re-measured in-process). The one added key is the
    ``layers`` block: construct / plan / exec totals over the lanes."""
    bench = _bench_module()
    detail = {
        "value": 5.0, "sf": 0.1, "action": "noop",
        "queries": {"q": 4.0, "r": 1.0}, "errors": {}, "approx": {},
        "timed_lane_fits": {}, "frozen_floor_round": 16,
        "frozen_headline_ratio": 1.25,
        "frozen_regressions": {"q": {"now": 4.0, "frozen_floor": 1.0}},
        "layers": {
            "q": {"construct_s": 1.5, "plan_s": 0.25, "exec_s": 2.5, "wall_s": 4.0},
            "r": {"construct_s": 0.25, "plan_s": 0.5, "exec_s": 0.75, "wall_s": 1.0},
        },
    }
    s = bench._summary(detail, None, "BENCH_DETAIL_LAST_RUN.json")
    assert set(s) == _SUMMARY_KEYS
    # the layers block totals the per-lane split; construct + exec is the
    # headline, plan is the untimed pass
    assert s["layers"] == {"construct_s": 1.75, "plan_s": 0.75, "exec_s": 3.25}
    assert s["layers"]["construct_s"] + s["layers"]["exec_s"] == s["value"]
    assert s["baseline_round"] == s["frozen_floor_round"] == 16
    assert s["n_regressions"] == s["n_frozen_regressions"] == 1
    assert s["n_provisional_flags"] == 1 and s["n_confirm_errors"] == 0
    med = {"headline_median": 5.0, "n": 3, "cross_tree": {"ratio": 1.0},
           "per_query_median": {"r": 1.0}}
    s = bench._summary(detail, med, "BENCH_DETAIL_LAST_RUN.json")
    assert set(s) == _SUMMARY_KEYS | {
        "headline_median", "median_n", "cross_tree_ratio"
    }
    assert s["queries"] == {"q": 4.0, "r": 1.0}


def test_default_detail_path_is_untracked_scratch():
    """VERDICT r14 #1: the committed BENCH_DETAIL.json is written only by
    tools/bench_median.py; bench.py's default detail path is a gitignored
    scratch file, so a driver-initiated or ad-hoc run leaves the working
    tree clean and can never replace the committed median evidence."""
    bench = _bench_module()
    assert bench.DEFAULT_DETAIL_BASENAME != "BENCH_DETAIL.json"
    import subprocess

    res = subprocess.run(
        ["git", "check-ignore", "-q", bench.DEFAULT_DETAIL_BASENAME],
        cwd=REPO,
    )
    assert res.returncode == 0, (
        f"{bench.DEFAULT_DETAIL_BASENAME} must be gitignored"
    )


def test_median_evidence_matches_on_sf_and_action(tmp_path, monkeypatch):
    bench = _bench_module()
    monkeypatch.setattr(
        os.path, "dirname", lambda p: str(tmp_path), raising=True
    )
    assert bench._median_evidence(0.1) is None  # no file
    payload = {
        "sf": 0.1,
        "action": "noop",
        "headline_median": 150.0,
        "n": 3,
        "cross_tree": {"ratio": 1.1},
    }
    with open(tmp_path / "BENCH_MEDIAN.json", "w") as f:
        json.dump(payload, f)
    assert bench._median_evidence(0.1) == payload
    assert bench._median_evidence(0.01) is None
    # evidence measured under another action never rides along
    with open(tmp_path / "BENCH_MEDIAN.json", "w") as f:
        json.dump({**payload, "action": "count"}, f)
    assert bench._median_evidence(0.1) is None


def test_committed_r16_floor_is_the_only_epoch():
    """One floor file: the r16 epoch freezes the full registry and every
    approx lane under the noop action."""
    floors = sorted(
        f for f in os.listdir(REPO) if f.startswith("BENCH_FLOOR_")
    )
    assert floors == ["BENCH_FLOOR_r16.json"]
    bench = _bench_module()
    assert bench.FLOOR_FILE == floors[0]
    with open(os.path.join(REPO, "BENCH_FLOOR_r16.json")) as f:
        floor = json.load(f)
    assert floor["frozen_at_round"] == 16 and floor["sf"] == 0.1
    assert floor["action"] == bench.ACTION == "noop"
    from kafkastreamingetl_spark.queries import APPROX_VARIANTS, QUERIES

    assert set(floor["queries"]) == set(QUERIES)
    assert set(floor["approx"]) == set(APPROX_VARIANTS)


def test_committed_r16_floor_covers_the_sketch_lanes():
    """The sketch lanes first frozen at r11 keep a valid floor in the r16
    epoch: both are registered approx variants with a positive wall."""
    with open(os.path.join(REPO, "BENCH_FLOOR_r16.json")) as f:
        floor = json.load(f)
    from kafkastreamingetl_spark.queries import APPROX_VARIANTS

    sketch = {"source_overlap_minhash", "user_rfm_segments_approx"}
    assert sketch <= set(floor["approx"])
    assert sketch <= set(APPROX_VARIANTS)
    for lane in sketch:
        assert floor["approx"][lane] > 0, lane


def test_committed_r16_evidence_replays_without_flags():
    """Replaying the committed evidence through the one gate: the median
    run's detail (exact and approx lanes) and the per-lane medians of
    BENCH_MEDIAN.json raise no flag against the r16 floor — the same
    empty set as BENCH_MEDIAN's confirmed_regressions — and the committed
    detail sits at 0.968 of the r16 floor headline."""
    bench = _bench_module()
    bm = _bench_median_module()
    with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
        det = json.load(f)
    with open(os.path.join(REPO, "BENCH_MEDIAN.json")) as f:
        med = json.load(f)
    with open(os.path.join(REPO, "BENCH_FLOOR_r16.json")) as f:
        floor = json.load(f)
    rep = bench._frozen_floor_report(
        det["queries"], det["sf"], {n: a["sec"] for n, a in det["approx"].items()}
    )
    assert rep["frozen_floor_round"] == 16
    assert rep["frozen_regressions"] == {}
    assert round(rep["frozen_headline_ratio"], 3) == 0.968
    assert bench._flag(med["per_query_median"], floor["queries"]) == {}
    replayed = bm.confirm_flags(
        [bench._flag(det["queries"], floor["queries"])] * med["n"],
        med["per_query_median"],
    )
    assert replayed == med["confirmed_regressions"] == {}


def test_committed_bench_median_evidence_is_current_and_merged():
    """BENCH_MEDIAN.json (tools/bench_median.py): n>=3 totals, a
    cross-tree control with a committed/measured ratio, and bench.py's
    merge of the evidence into the committed BENCH_DETAIL.json — the
    fields the drift gates read instead of a lone wall number."""
    with open(os.path.join(REPO, "BENCH_MEDIAN.json")) as f:
        med = json.load(f)
    assert med["n"] >= 3 and len(med["totals"]) == med["n"]
    assert med["action"] == "noop" and med["sf"] == 0.1
    assert med["headline_median"] > 0
    assert len(med["per_query_median"]) >= 179
    ct = med["cross_tree"]
    assert ct["ratio"] > 0 and ct["committed_total"] > 0 and ct["commit"]
    assert isinstance(med["confirmed_regressions"], dict)
    with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
        det = json.load(f)
    assert det.get("action") == "noop"
    merged = det.get("median_evidence", {})
    assert merged.get("headline_median") == med["headline_median"]
    assert (merged.get("cross_tree") or {}).get("ratio") == ct["ratio"]
    # Since r15 the committed detail IS one of the median-evidence runs
    # (the median one — bench_median.py is its only writer), so a stray
    # single-run rewrite of the committed detail can no longer diverge
    # silently from the median evidence: this fails loudly instead.
    assert det["value"] in med["totals"]
    assert det["value"] == med["headline_median"]
    assert set(det["queries"]) == set(med["per_query_median"])


def test_host_attribution_demotes_control_breaching_flags():
    """tools/bench_median.py (round 15): the n median runs share one
    machine-day, so a day-level systematic can confirm the same flag in
    >=2 runs — observed live in r15 when minhash/simhash/neardup lanes
    ran 2-3x slow across a whole bench_median session and at floor speed
    in isolated probes minutes later. The cross-tree control is
    byte-identical old code on the same day: if IT breaches the lane's
    frozen floor too (same 2x + 0.5 s rule), the flag is demoted to
    host_attributed with the control measurement attached."""
    bm = _bench_median_module()

    confirmed = {
        "lane_host": {"runs_flagged": 3, "of_runs": 3, "samples": [4.0, 4.2]},
        "lane_code": {"runs_flagged": 2, "of_runs": 3, "samples": [3.8, 3.9]},
    }
    flags_by_run = [
        {"lane_host": {"now": 4.0, "frozen_floor": 1.5},
         "lane_code": {"now": 3.8, "frozen_floor": 1.5}},
        {"lane_host": {"now": 4.2, "frozen_floor": 1.5}},
    ]
    # control: lane_host breaches (4.1 > 2*1.5, slip > 0.5) -> host;
    # lane_code at floor speed on old code -> stays confirmed (real)
    control = {"lane_host": 4.1, "lane_code": 1.6}
    still, host = bm.demote_host_attributed(confirmed, flags_by_run, control)
    assert set(still) == {"lane_code"}
    assert set(host) == {"lane_host"}
    assert host["lane_host"]["control_now"] == 4.1
    assert host["lane_host"]["frozen_floor"] == 1.5
    assert host["lane_host"]["samples"] == [4.0, 4.2]  # evidence retained

    # missing control measurement (lane errored there) -> cannot
    # attribute to host, flag stays confirmed
    still2, host2 = bm.demote_host_attributed(confirmed, flags_by_run, {})
    assert set(still2) == {"lane_host", "lane_code"} and host2 == {}
