"""Benchmark runner: times every registered query at one scale factor.

Usage: ``python bench.py [--lanes NAME ...] [--n N]`` (env:
``SPARK_GRAFT_SF_DIR`` selects the data directory, default the sf0.1
testdata; ``SPARK_GRAFT_CPUS`` sets local parallelism). ``--lanes``
times only the named registry / approx lanes; ``--n`` runs N timed
passes one after another and records each lane's median and its
samples. Plain ``python bench.py`` is the full registry, one pass.

Prints a COMPACT summary JSON line on stdout FIRST (the
73-query detail line outgrew the driver's tail capture in round 3 —
BENCH_r03.json recorded ``"parsed": null``):

    {"metric": "total_query_wall_sec", "value": N, "unit": "sec",
     "sf": 0.1, "n_queries": 73, "queries": {...slowest 5...},
     "layers": {"construct_s": .., "plan_s": .., "exec_s": ..},
     "detail_file": "BENCH_DETAIL_LAST_RUN.json"}

and writes the full per-query timing map (exact lane + approx lane +
floor-gate report + each lane's ``layers``: construct / plan / exec, and
its ``samples``) to ``BENCH_DETAIL_LAST_RUN.json`` next to this script
(gitignored scratch; override with ``SPARK_GRAFT_BENCH_DETAIL``). The
COMMITTED ``BENCH_DETAIL.json`` is written only by
``tools/bench_median.py`` — it is the detail of the median of n>=3 runs
with the fresh median evidence embedded — so a driver-initiated or ad-hoc
bench run can never dirty or replace the committed evidence.

Every query is forced with a FULL-EXECUTION action (a noop-sink write —
``df.write.format("noop")``); results are never collected to the driver,
so the timing measures the distributed plan, not driver materialization.
(A ``df.count()`` action would let Catalyst ELIMINATE cardinality-preserving
Window/Sort operators — sticky note ``count_action_window_pruning``.)

One gate judges the run: every lane (exact and approx) is compared with
its wall in the frozen floor epoch ``BENCH_FLOOR_r16.json`` and flagged
when it runs >2x its floor AND >0.5 s slower. A single run's flags are
PROVISIONAL — this host swings ±20–50 % day to day — and only
``tools/bench_median.py`` confirms one (flagged in >=2 of n independent
runs, and not also breached by the cross-tree control).

Every query is warm-run once at the smallest scale factor first, so
whole-stage-codegen JIT compilation (seconds for the md5/SimHash
expression trees) stays out of the timings; the cache is cleared
between queries so persisted intermediates (dedup shingle features) neither
leak across queries nor accumulate. Engine-level memos that survive
clearCache by design (the checkpoint-backed cluster-label memos —
operators/dedup.neardup_clusters and similarity.embedding_clusters — and
the driver-side fitted-model lists) are NOT reset; instead they are
PRE-WARMED before the timed loop (the `fit` section records the train /
closure-build cost in isolation), so every main-lane number is
serving-only and independent of registry order — a reorder can no longer
move a fit cost onto a different query and mint a phantom swing.

``prepare_serving`` (that pre-warm) and ``time_lane`` (the one lane
timer) are the only copies: tools/shuffle_bytes.py and
tools/scale_stress.py call them, and tests/test_one_lane_harness.py
fails on a second copy under tools/.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafkastreamingetl_spark.session import get_test_spark  # noqa: E402
from kafkastreamingetl_spark.queries import (  # noqa: E402
    APPROX_EXACT_TWIN,
    APPROX_VARIANTS,
)
from __spark_entry__ import queries  # noqa: E402

# Where a run's full detail lands when SPARK_GRAFT_BENCH_DETAIL is unset.
# Deliberately NOT "BENCH_DETAIL.json": that file is committed evidence
# (written only by tools/bench_median.py from the median of n>=3 runs),
# and this default is gitignored so no ad-hoc run can dirty the tree.
DEFAULT_DETAIL_BASENAME = "BENCH_DETAIL_LAST_RUN.json"

# The one bench action, recorded in every artifact's "action" field.
ACTION = "noop"

# The one floor epoch every run is judged against: the full registry and
# the approx lanes at sf0.1 under the noop action, medians of n=3 runs on
# the round-16 tree. The registry is frozen, so no later epoch is cut.
FLOOR_FILE = "BENCH_FLOOR_r16.json"

# Measured findings that explain counter-intuitive lane timings; emitted
# into BENCH_DETAIL.json so they survive regeneration.
_STICKY_NOTES = {
    "count_action_window_pruning": (
        "FINDING (round 13): a df.count() bench action lets Catalyst "
        "ELIMINATE Window and Sort operators (cardinality-preserving), so "
        "a count-forced wall excludes the window exchange + sort. Measured "
        "bias at sf0.1 (count vs noop-sink full execution): "
        "user_daily_streaks 2.35x, user_interarrival_stats 1.82x, "
        "user_running_totals 1.73x; aggregate lanes 1.0x. The bench action "
        "is therefore a noop-sink write, as is the one floor epoch "
        "(BENCH_FLOOR_r16.json); tests/test_plans.py pins both halves."
    ),

    "lm_bucket_mix_approx": (
        "The sketch lane loses wall to the exact lane at EVERY measured "
        "configuration — x1/x10/x50/x100 replication (0.79-0.92x) AND the "
        "100-language fan-out fixture (0.72x at sf0.1, 0.87x at x100; "
        "SCALE_STRESS.json lang_fanout) — refuting round-12's hypothesis "
        "that language fan-out would flip it. Stage-level decomposition "
        "at x100 shows why no cut implementation can move wall here: the "
        "shared doc_lm_score pipeline dominates both lanes 20x (208 MB "
        "shuffle vs 9.7 MB for the exact cut / 24.6 MB for the sketch "
        "cut). The lane is kept for exactly one reason, and it is not "
        "wall: the exact cut's per-language rank window funnels each "
        "language through ONE reducer (measured: max-task read 1.2 MB = "
        "the 41%-dominant language's share vs the sketch's flat 0.8 MB "
        "over 32 even tasks). At a 90%-English 100 TB corpus that is a "
        "single-task sort of ~90% of the cut table — the same "
        "state-cliff class as the t-digest note below — while the "
        "sketch's approx_percentile state stays bounded per language. "
        "Wall parity priced, cliff avoided."
    ),

    "value_percentiles_tdigest": (
        "The sketch lane loses to the exact lane at every tested scale on "
        "THIS dataset and that is correct, not a bug: events.value is "
        "low-cardinality (~18k distinct of 100k rows at sf0.1), so Spark's "
        "exact percentile degenerates into a small (value -> count) "
        "histogram — map-side combinable, cheaper than a GK sketch's "
        "per-update compression. Measured at sf0.1 x50 rows (5M): exact "
        "1.8s vs approx 3.0s, same ordering. On a HIGH-cardinality domain "
        "the comparison inverts catastrophically rather than gradually: "
        "with per-row jitter making values unique, the exact lane's "
        "per-group histogram OOMed the default local test heap at 5M rows "
        "while the sketch completed — the sketch lane is the 100 TB path "
        "because the "
        "exact lane's state is O(distinct values), not because it is "
        "faster on bounded domains."
    ),
}


def _bench_action(df) -> None:
    """Force a query for timing: a noop-sink write, so every operator
    runs (count() would let Catalyst prune Window/Sort operators and
    whole projections — tests/test_plans.py pins both the pruning and
    that this action executes Window nodes)."""
    df.write.format("noop").mode("overwrite").save()


def time_lane(spark, fn, sf_dir: str) -> dict[str, float]:
    """The one lane timer, cache-cold: ``wall_s`` is the build
    (``construct_s``) plus the bench action (``exec_s``). ``plan_s``
    forces the lane's executed plan in an untimed pass AFTER the action,
    so the timed region stays exactly the wall the r16 floor judges (a
    plan pass before the write would warm what the write re-plans)."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    _bench_action(df)
    t2 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    construct_s, exec_s = round(t1 - t0, 4), round(t2 - t1, 4)
    return {
        "construct_s": construct_s,
        "plan_s": round(time.perf_counter() - t2, 4),
        "exec_s": exec_s,
        "wall_s": round(construct_s + exec_s, 4),
    }


def prepare_serving(spark, sf_dir: str, lanes) -> tuple[dict, dict]:
    """Pay every refresh-time cost before any lane is timed, so each
    timed lane measures serving only and no registry order can move a fit
    onto whichever lane happens to run first (VERDICT r8 #3). Returns
    ``(fit, errors)``: the wall of each step, and the steps that failed.

    - the four model trainers, memo cleared first, at ``sf_dir``: every
      fitted-model memo is hot afterwards;
    - the bucketed-layout build: its write-time shuffle is refresh cost,
      so bucketed_order_rollup measures the join it exists to show;
    - the two checkpoint-backed cluster memos, built by running
      ``lanes["neardup_clusters"]`` and ``lanes["embedding_clusters"]``
      (a caller tunes a builder by passing its own mapping), so every
      cluster consumer measures its marginal work, not the CC iteration.
    """
    from kafkastreamingetl_spark.catalog import load_table
    from kafkastreamingetl_spark.operators import bucketing as bkt
    from kafkastreamingetl_spark.operators import similarity as sim

    def _emb():
        return load_table(spark, sf_dir, "embeddings")

    steps = {
        "fit_label_centroids": lambda: sim.fit_label_centroids(_emb()),
        "fit_pq_codebook_label": lambda: sim.fit_pq_codebook_label(_emb()),
        "fit_kmeans": lambda: sim.fit_kmeans(_emb().select("vec_id", "embedding")),
        "fit_pq_codebook_kmeans": lambda: sim.fit_pq_codebook_kmeans(
            _emb().select("vec_id", "embedding")
        ),
        "fit_bucketed_order_tables": lambda: bkt.ensure_bucketed_order_tables(
            spark, sf_dir
        ),
    }
    fit: dict[str, float] = {}
    errors: dict[str, str] = {}
    sim._MODEL_MEMO.clear()  # all fitted models share the one memo
    for name, step in steps.items():
        try:
            t0 = time.perf_counter()
            step()
            fit[name] = round(time.perf_counter() - t0, 4)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"fit: {type(e).__name__}: {e}"
    for pw in ("neardup_clusters", "embedding_clusters"):
        if pw not in lanes:
            continue
        try:
            fit[f"prewarm_{pw}"] = time_lane(spark, lanes[pw], sf_dir)["wall_s"]
        except Exception as e:  # noqa: BLE001
            errors[pw] = f"prewarm: {type(e).__name__}: {e}"
    return fit, errors


def _median_run(runs: list[dict]) -> dict:
    """The median pass of a lane's runs, layer by layer: the middle run
    by wall (the mean of the middle two for an even count), so its
    ``wall_s`` is the true median and still equals construct + exec."""
    ordered = sorted(runs, key=lambda r: r["wall_s"])
    middle = ordered[(len(ordered) - 1) // 2 : len(ordered) // 2 + 1]
    return {
        k: round(sum(r[k] for r in middle) / len(middle), 4) for k in middle[0]
    }


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--lanes", nargs="+", metavar="NAME",
                    help="time only these registry / approx lanes")
    ap.add_argument("--n", type=int, default=1,
                    help="timed passes; each lane records median + samples")
    args = ap.parse_args()
    sf_dir = os.getenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    # no sfN in the path -> sf is UNKNOWN (None), not 0.0: a coalesced 0.0
    # would let an unrelated custom dataset "match" the floor gate's sf
    # check and compare against the sf0.1 floors
    sf = float(m.group(1)) if m else None

    qs = queries()
    lanes, approx_lanes = qs, APPROX_VARIANTS
    if args.lanes:
        unknown = set(args.lanes) - set(qs) - set(APPROX_VARIANTS)
        if unknown:
            raise SystemExit(f"bench: unknown lanes: {sorted(unknown)}")
        lanes = {n: qs[n] for n in args.lanes if n in qs}
        approx_lanes = {n: APPROX_VARIANTS[n] for n in args.lanes if n in APPROX_VARIANTS}
    spark = get_test_spark("kafkastreamingetl_spark_bench")

    # Warm-up: run every timed lane once at the smallest sf so
    # whole-stage-codegen JIT compilation (seconds for the md5/SimHash
    # expression trees) is paid outside the timings — the bench measures
    # data processing, not javac.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
        print(f"bench: no sf0.001 testdata; warming at {sf_dir}", file=sys.stderr)
    # A single broken query must never kill the whole bench (round 5: one
    # AnalysisException during warm-up produced rc=1 and "parsed": null —
    # the driver lost the entire round's numbers). Failures are recorded
    # per-query and the summary line always prints.
    errors: dict[str, str] = {}
    warm_failed: set[str] = set()
    for name, fn in lanes.items():
        try:
            _bench_action(fn(spark, warm_dir))
        except Exception as e:  # noqa: BLE001 — record and keep benching
            # ADVISORY: the warm dir can be stale/partial independently of
            # the bench sf — the timed run below still executes (cold) and
            # records its own error if IT fails; only then is the query
            # excluded from timings
            errors[name] = f"warmup: {type(e).__name__}: {e}"
            warm_failed.add(name)

    # Fit, bucketed layout and cluster prewarms BEFORE the timed loop
    # (prepare_serving), against the full registry so the prewarms run
    # whichever lanes are timed: every main-lane number is serving-only.
    # The train/serve split is also the split a deployment budgets: fit
    # is paid per corpus refresh, serve per query.
    from kafkastreamingetl_spark.operators import similarity as sim

    fit, prep_errors = prepare_serving(spark, sf_dir, qs)
    errors.update(prep_errors)

    read_io = _stage_io_reader(spark)
    if read_io:
        read_io()  # baseline: consume warm-up + fit stages so query 1 starts clean
    runs: dict[str, list[dict]] = {name: [] for name in lanes}
    dropped: set[str] = set()
    io: dict[str, dict] = {}
    # Serving-only proof (VERDICT r13 item 3): similarity._FIT_LOG appends
    # on every model-memo MISS. A timed lane that triggers a fit (an input
    # plan the fit lane didn't prewarm, or an LRU eviction) is SELF-HEALED:
    # the lane is re-timed immediately (model now hot) and the fit-polluted
    # first wall is recorded under fit["inline_fit_<name>"] instead — so
    # main-lane numbers are serving-only regardless of registry order.
    timed_lane_fits: dict[str, list[str]] = {}
    # pass after pass (--n), so a burst of host contention hits one pass
    # of many lanes rather than every sample of one lane
    for _ in range(args.n):
        for name, fn in lanes.items():
            if name in dropped:
                continue
            fit_mark = len(sim._FIT_LOG)
            try:
                run = time_lane(spark, fn, sf_dir)
            except Exception as e:  # noqa: BLE001
                errors[name] = f"run: {type(e).__name__}: {e}"
                dropped.add(name)
                continue
            if len(sim._FIT_LOG) > fit_mark:
                timed_lane_fits[name] = [str(k[0]) for k in sim._FIT_LOG[fit_mark:]]
                fit[f"inline_fit_{name}"] = run["wall_s"]
                if read_io:
                    read_io()  # drain the fit-polluted run's stages
                try:
                    run = time_lane(spark, fn, sf_dir)
                except Exception as e:  # noqa: BLE001
                    # The only wall we have is fit-polluted (already
                    # recorded under fit["inline_fit_<name>"]); a
                    # serving-only number does not exist for this lane, so
                    # drop it to errors rather than publish the polluted
                    # one (VERDICT r14 #2).
                    errors[name] = f"retime-after-inline-fit: {type(e).__name__}: {e}"
                    dropped.add(name)
                    continue
            runs[name].append(run)
            if read_io:
                stats = read_io()
                if stats is not None:
                    io[name] = stats
    layers = {
        name: _median_run(rs) for name, rs in runs.items() if rs and name not in dropped
    }
    timings = {name: run["wall_s"] for name, run in layers.items()}
    # a timed run succeeded: the warm failure was warm-dir-specific; drop
    # the advisory error so the summary's n_errors reflects queries that
    # actually failed AT the bench sf
    for name in warm_failed - dropped:
        errors.pop(name, None)

    # Warm-serving lane: re-times the model-backed queries memo-hot. With
    # the fit lane running BEFORE the main loop, these should closely
    # match the main-lane numbers — a divergence flags an unintended
    # per-query refit.
    model_queries = (
        "embedding_ivf_topk",
        "embedding_ivf_kmeans_topk",
        "embedding_pq_topk",
        "embedding_pq_kmeans_topk",
        "kmeans_centroids",
    )
    warm_serving: dict[str, float] = {}
    for name in model_queries:
        if name not in lanes or name in errors:
            continue
        try:
            warm_serving[name] = time_lane(spark, lanes[name], sf_dir)["wall_s"]
        except Exception as e:  # noqa: BLE001
            errors[name] = f"warm: {type(e).__name__}: {e}"

    # Approx lane (VERDICT r3 next-round #6): the sketch-based production
    # variants (HLL distincts, t-digest percentiles) timed the same way and
    # reported beside their exact oracle-checkable twins, so the per-round
    # numbers cover the path a 100 TB deployment actually runs.
    approx: dict[str, dict] = {}
    for name, fn in approx_lanes.items():
        try:
            _bench_action(fn(spark, warm_dir))
            t = time_lane(spark, fn, sf_dir)["wall_s"]
        except Exception as e:  # noqa: BLE001
            errors[name] = f"approx: {type(e).__name__}: {e}"
            continue
        twin = APPROX_EXACT_TWIN[name]
        approx[name] = {"sec": t, "twin": twin, "twin_sec": timings.get(twin)}

    detail = {
        "metric": "total_query_wall_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "action": ACTION,
        "queries": timings,
        "layers": layers,
        "samples": {name: [r["wall_s"] for r in runs[name]] for name in timings},
        "sf": sf,
        "errors": errors,
        "approx": approx,
        "fit": fit,
        "warm_serving": warm_serving,
        "timed_lane_fits": timed_lane_fits,
        "io": io,
        "notes": _STICKY_NOTES,
    }
    detail.update(
        _frozen_floor_report(
            timings, sf, {n: d["sec"] for n, d in approx.items()}
        )
    )

    # Median evidence (committed by tools/bench_median.py): when a
    # matching-sf BENCH_MEDIAN.json exists, its headline median, run count
    # and cross-tree control ride along in the detail + summary so the
    # driver's single-run capture still carries the drift-proof numbers.
    median = _median_evidence(sf)
    if median:
        detail["median_evidence"] = median

    here = os.path.dirname(os.path.abspath(__file__))
    # Default to an UNTRACKED scratch file (gitignored): the committed
    # BENCH_DETAIL.json is written only by tools/bench_median.py (the
    # median evidence run) or an explicit SPARK_GRAFT_BENCH_DETAIL
    # override, so an ad-hoc or driver-initiated bench run can never dirty
    # or clobber the committed evidence (VERDICT r14 #1).
    detail_path = os.getenv(
        "SPARK_GRAFT_BENCH_DETAIL", os.path.join(here, DEFAULT_DETAIL_BASENAME)
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    print(json.dumps(_summary(detail, median, os.path.basename(detail_path))))
    spark.stop()


def _stage_io_reader(spark):
    """Per-query shuffle/scan accounting via the Spark UI REST API (the
    stable public metrics surface). Returns a closure that, on each call,
    sums shuffle write/read and input bytes over stages NEWER than the
    previous call — stage ids are monotonic, so retention-evicting OLD
    stages never corrupts a delta. Returns None when the UI is disabled;
    any read failure degrades to missing io entries, never a bench error.

    These numbers are the scale evidence timings can't give: a query that
    is fast at sf0.1 but shuffles the whole input is a 100 TB problem —
    BENCH_DETAIL's `io` map makes that visible per query.
    """
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    app_id = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app_id}/stages"
    seen_max = -1

    def read_new():
        nonlocal seen_max
        try:
            with urllib.request.urlopen(url, timeout=5) as r:
                data = json.loads(r.read())
        except Exception:  # noqa: BLE001 — telemetry must not fail the bench
            return None
        new = [st for st in data if st.get("stageId", -1) > seen_max]
        if data:
            seen_max = max(seen_max, max(st.get("stageId", -1) for st in data))
        return {
            "shuffle_write_mb": round(
                sum(st.get("shuffleWriteBytes", 0) for st in new) / 1e6, 3
            ),
            "shuffle_read_mb": round(
                sum(st.get("shuffleReadBytes", 0) for st in new) / 1e6, 3
            ),
            "input_mb": round(
                sum(st.get("inputBytes", 0) for st in new) / 1e6, 3
            ),
            "n_stages": len(new),
        }

    return read_new


def _summary(detail: dict, median: dict | None, detail_file: str) -> dict:
    """The compact summary line: the contract keys at a bounded length so
    the driver's tail capture can always parse it. `queries` is this
    run's slowest 5 plus a STABLE set, the 12 slowest lanes by the
    committed per-lane medians (VERDICT r15 item 5: the driver intersects
    two runs' `queries` maps for per-lane scaling, and two top-5 sets
    rarely intersect). The gate keys all derive from the one floor gate:
    every single-run flag counts as a regression, a frozen regression and
    a provisional flag alike (only tools/bench_median.py confirms), and
    nothing is re-measured in-process, so ``n_confirm_errors`` is 0.
    ``layers`` totals each lane's construct / plan / exec split."""
    timings = detail["queries"]
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    stable = {}
    if median and median.get("per_query_median"):
        stable = {
            name: timings[name]
            for name, _ in sorted(
                median["per_query_median"].items(),
                key=lambda kv: kv[1],
                reverse=True,
            )[:12]
            if name in timings
        }
    n_flags = len(detail.get("frozen_regressions", {}))
    summary = {
        "metric": "total_query_wall_sec",
        "value": detail["value"],
        "unit": "sec",
        "sf": detail["sf"],
        "action": detail["action"],
        "n_queries": len(timings),
        "queries": {**stable, **slowest},
        "detail_file": detail_file,
        "baseline_round": detail.get("frozen_floor_round"),
        "n_regressions": n_flags,
        "frozen_floor_round": detail.get("frozen_floor_round"),
        "frozen_headline_ratio": detail.get("frozen_headline_ratio"),
        "n_frozen_regressions": n_flags,
        "n_provisional_flags": n_flags,
        "n_timed_lane_fits": len(detail["timed_lane_fits"]),
        "n_confirm_errors": 0,
        "n_errors": len(detail["errors"]),
        "n_approx": len(detail["approx"]),
        "layers": {
            k: round(sum(r[k] for r in detail.get("layers", {}).values()), 4)
            for k in ("construct_s", "plan_s", "exec_s")
        },
    }
    if median:
        summary["headline_median"] = median.get("headline_median")
        summary["median_n"] = median.get("n")
        summary["cross_tree_ratio"] = (median.get("cross_tree") or {}).get(
            "ratio"
        )
    return summary


def _frozen_floor_report(
    timings: dict[str, float],
    sf: float | None,
    approx_secs: dict[str, float],
) -> dict:
    """The bench gate: this run's exact and approx lanes against the one
    frozen floor epoch (``FLOOR_FILE``). Frozen floors are never
    regenerated, so a slow multi-round creep still trips the gate, and
    ``frozen_headline_ratio`` (sum now / sum frozen over the shared exact
    lanes) is the creep-proof single number. Returns {} when the epoch is
    missing or measured at another scale factor. Reported, not raised: a
    nonzero bench exit loses the whole round's numbers (round-5 lesson)."""
    here = os.path.dirname(os.path.abspath(__file__))
    if sf is None:
        return {}
    try:
        with open(os.path.join(here, FLOOR_FILE)) as f:
            frozen = json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}
    if frozen.get("sf") != sf:
        return {}
    floors = frozen.get("queries", {})
    shared = [n for n in timings if n in floors]
    ratio = None
    if shared:
        ratio = round(
            sum(timings[n] for n in shared) / sum(floors[n] for n in shared), 4
        )
    return {
        "frozen_floor_round": frozen.get("frozen_at_round"),
        "frozen_headline_ratio": ratio,
        "frozen_regressions": {
            **_flag(timings, floors),
            **_flag(approx_secs, frozen.get("approx", {})),
        },
    }


def _median_evidence(sf: float | None) -> dict | None:
    """The committed BENCH_MEDIAN.json (tools/bench_median.py: median of
    n>=3 full bench runs + a cross-tree control re-benching the previous
    round's final tree), surfaced into this run's detail/summary when it
    was measured at this run's sf under the bench action — so the
    driver's single-run capture still carries the drift-proof numbers."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_MEDIAN.json")) as f:
            med = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    if med.get("sf") != sf or med.get("action") != ACTION:
        return None
    return med


def _flag(now: dict[str, float], floors: dict[str, float]) -> dict:
    """The one flag rule: a lane runs >2x its floor AND >0.5 s slower.
    Identical plans measure ±0.2 s run-to-run warm and up to ~2x under
    machine load, so a bare ratio flags timer noise at sub-second floors;
    the absolute slip keeps those out."""
    return {
        name: {"now": t, "frozen_floor": floors[name]}
        for name, t in now.items()
        if name in floors and t > 2 * floors[name] and t - floors[name] > 0.5
    }


if __name__ == "__main__":
    main()
