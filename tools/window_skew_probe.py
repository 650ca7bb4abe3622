"""Single-reducer window-cliff probe: the machine-checked form of the
round-13 lm-lane adjudication (SCALE.md).

`lm_bucket_mix_approx` never wins wall (measured at every replication
scale AND at 100 languages); the lane is kept because the exact cut's
per-language rank window funnels each language through ONE reducer. This
probe measures that cliff directly instead of narrating it: on
SINGLE-language relabels of the ×10 and ×100 stress corpora (the
dominant-language worst case a 90 %-English web crawl approaches), it
runs both lanes and records, per lane, every stage whose max-task
shuffle read is >90 % of the stage's total — a single-task funnel.
Measured result (committed in WINDOW_SKEW.json): BOTH lanes funnel on a
single-language corpus, but the exact lane's funnel is its WHOLE cut
table — 0.71 MB at ×10 → 6.97 MB at ×100, linear in corpus size,
unbounded — while the sketch lane's only funnel is the approx_percentile
partial merge, which saturates at accuracy × shuffle partitions
(measured at its 2.5 MB ceiling at ×100; a GK/KLL sketch cannot exceed
it at any corpus size, by construction). That growth contrast is the
machine-checked claim behind keeping the wall-losing sketch lane.

    python tools/window_skew_probe.py      # writes WINDOW_SKEW.json

Gated by tests/test_scale_artifacts.py. Method: Spark UI REST
`taskSummary?quantiles=1.0` per new stage, same surface as
tools/shuffle_bytes.py.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _bench_action  # noqa: E402

X100_DIR = "/tmp/spark_graft_scale_stress/x100"
FUNNEL_SHARE = 0.9      # max-task/total above this = single-task funnel
NOISE_FLOOR_MB = 0.25   # ignore stages smaller than this


def build_single_lang_dir(spark, scaled_dir: str) -> str:
    from pyspark.sql import functions as F

    from kafkastreamingetl_spark.catalog import load_table

    out = scaled_dir.rstrip("/") + "_lang1"
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    docs = load_table(spark, scaled_dir, "documents").withColumn(
        "lang", F.lit("en")
    )
    docs.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    with open(marker, "w") as f:
        f.write("ok\n")
    return out


def funnel_stages(spark, fn, sf_dir: str) -> list[dict]:
    """Stages (of one cache-cold run of fn) whose max-task shuffle read
    exceeds FUNNEL_SHARE of the stage total and NOISE_FLOOR_MB."""
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId

    def stages():
        url = f"{ui}/api/v1/applications/{app}/stages"
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.loads(r.read())

    before = max([s.get("stageId", -1) for s in stages()] or [-1])
    spark.catalog.clearCache()
    # the bench action (noop sink), NOT count(): a count-only action lets
    # Catalyst eliminate the very Window operator this probe exists to
    # measure (the round-13 bench finding, pinned by
    # test_count_action_prunes_windows)
    _bench_action(fn(spark, sf_dir))
    found = []
    for s in stages():
        sid = s.get("stageId", -1)
        total = s.get("shuffleReadBytes", 0)
        if sid <= before or s.get("status") != "COMPLETE":
            continue
        if total < NOISE_FLOOR_MB * 1e6:
            continue
        url = (
            f"{ui}/api/v1/applications/{app}/stages/{sid}/0/"
            "taskSummary?quantiles=1.0"
        )
        try:
            with urllib.request.urlopen(url, timeout=10) as r:
                ts = json.loads(r.read())
        except Exception:  # noqa: BLE001 — telemetry gap, not a failure
            continue
        max_read = (ts.get("shuffleReadMetrics", {}).get("readBytes") or [0])[-1]
        if max_read / total > FUNNEL_SHARE:
            found.append(
                {
                    "stage": sid,
                    "n_tasks": s.get("numTasks"),
                    "total_read_mb": round(total / 1e6, 3),
                    "max_task_read_mb": round(max_read / 1e6, 3),
                }
            )
    return found


def main() -> None:
    from kafkastreamingetl_spark.queries import APPROX_VARIANTS, QUERIES
    from kafkastreamingetl_spark.session import get_test_spark

    if not os.path.isdir(X100_DIR):
        raise SystemExit(
            f"{X100_DIR} missing — run tools/scale_stress.py first"
        )
    spark = get_test_spark("kafkastreamingetl_spark_window_skew")
    scales = {}
    for base in (X100_DIR.replace("x100", "x10"), X100_DIR):
        lang1 = build_single_lang_dir(spark, base)
        scales[os.path.basename(base)] = {
            "exact_funnels": funnel_stages(
                spark, QUERIES["lm_score_bucket_mix"], lang1
            ),
            "sketch_funnels": funnel_stages(
                spark, APPROX_VARIANTS["lm_bucket_mix_approx"], lang1
            ),
        }
    report = {
        "fixture": (
            "single-language relabel of the x10/x100 stress corpora "
            "(50k/500k docs, lang='en' for all) — the dominant-language "
            "worst case"
        ),
        "criterion": (
            f"funnel = stage with max-task shuffle read > {FUNNEL_SHARE} of "
            f"stage total and > {NOISE_FLOOR_MB} MB. Both lanes funnel on a "
            "single-language corpus, but the exact lane's funnel is its "
            "WHOLE cut table (grows with the corpus: the 100 TB cliff) "
            "while the sketch's is the approx_percentile partial merge "
            "(fixed by accuracy x partitions, corpus-independent) — the "
            "x10 vs x100 contrast is the claim"
        ),
        "scales": scales,
    }
    with open(os.path.join(REPO, "WINDOW_SKEW.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps(scales))
    spark.stop()


if __name__ == "__main__":
    main()
