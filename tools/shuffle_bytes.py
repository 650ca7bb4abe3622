"""Per-query shuffle-byte snapshot: the committed network-cost gate
(VERDICT r12 item 2).

Wall-clock at local[32] cannot proxy the one metric that dominates a
1000-executor run: how many bytes cross the shuffle. Round 12 measured it
ad hoc (Spark UI REST, stage-delta shuffle-write bytes) to prove the
MinHash sketch lane's ~500× reduction; this tool promotes that audit into
a committed artifact the suite regresses against:

    python tools/shuffle_bytes.py          # writes SHUFFLE_BYTES.json

It measures EVERY registered lane (full 179-query registry — frozen, so
full coverage is a stable contract; round 14 extended the artifact past
VERDICT r13 item 5's top-50 ask) under the r14 full-execution noop
action (window-lane shuffles a count() action let Catalyst prune are in
the gate), plus the three sketch lanes NEXT TO their exact twins, at
sf0.1 unless ``SPARK_GRAFT_SF_DIR`` names another scale factor. It
prepares and times lanes with bench.py's own helpers, so the split is bench.py's by construction:
``prepare_serving`` fits all four models (both PQ codebooks included),
builds the bucketed tables and prewarms the two cluster memos, then
``time_lane`` runs each lane cache-cold. The report keeps two blocks:
``lanes`` (the PINNED top-50 by measured shuffle — the stable
round-over-round comparison set) and ``tail_lanes`` (everything else).

``tests/test_shuffle_bytes.py`` gates the artifact: shape always; behind
the ``slow`` marker it re-measures every pinned lane and fails if any
lane's shuffle write grew past the tolerance band — the regression class
this catches is the silent one where Catalyst re-inlines an unpersisted
intermediate or a lost broadcast turns a dim join into a corpus-sized
exchange (wall may barely move at sf0.1; the bytes double or worse).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from kafkastreamingetl_spark.session import get_test_spark  # noqa: E402

#: The shuffle-heaviest registered lanes, PINNED so the artifact compares
#: like-for-like across rounds. Round 14 (VERDICT r13 item 5) extended the
#: set 20 → 50: the top-50 by MEDIAN shuffle_write_mb over the three r14
#: floor-freeze runs at sf0.1 under the full-execution noop action (the
#: count action had been pruning Window exchanges out of the ranking —
#: windowed_agg_sliding ranks 3rd here but was invisible to the count-era
#: top-20). The original 20 lanes all re-qualified and keep their history.
LANES = [
    "blameless_suppliers",
    "substring_run_pairs",
    "windowed_agg_sliding",
    "order_line_rollup",
    "doc_repetition_stats",
    "hot_ngrams",
    "strip_boilerplate",
    "clean_events",
    "windowed_agg_tumbling",
    "events_last_purchase",
    "dup_ngram_doc_fraction",
    "source_overlap_matrix",
    "session_agg",
    "daily_segment_metrics",
    "premium_rollup",
    "latest_user_state",
    "neardup_candidates_capped",
    "next_event_training_pairs",
    "doc_char_entropy",
    "exact_dedup_documents",
    "events_zorder_layout",
    "daily_dense_series",
    "tfidf_top_terms",
    "dedup_disposition",
    "event_transition_matrix",
    "time_weighted_value",
    "lsh_band_load_profile",
    "vocab_top_tokens",
    "user_interarrival_stats",
    "orders_pending_backlog",
    "campaign_attribution_scd2",
    "winsorized_type_stats",
    "value_quartiles_by_type",
    "incremental_dedup_documents",
    "value_percentiles",
    "ann_recall_report",
    "simhash_candidates",
    "dedup_documents_neardup",
    "kmeans_centroids",
    "embedding_pq_kmeans_topk",
    "events_column_profile",
    "embedding_pq_topk",
    "neardup_pagerank",
    "decontaminated_corpus",
    "incremental_neardup_documents",
    "neardup_pairs_containment",
    "neardup_candidates",
    "minhash_jaccard_estimate",
    "neardup_pairs_jaccard",
    "eval_contamination",
]

#: sketch lane -> exact twin. The committed claim is DIRECTIONAL, not a
#: point estimate: the sketch's shuffle must stay (near-)flat while the
#: exact lane's grows with the domain — the round-12 SCALE.md measurement
#: this artifact now carries per-round.
SKETCH_PAIRS = {
    "source_overlap_minhash": "source_overlap_matrix",
    "user_rfm_segments_approx": "user_rfm_segments",
    "lm_bucket_mix_approx": "lm_score_bucket_mix",
}


def measure(spark, sf_dir: str) -> dict:
    """{lane: {shuffle_write_mb, shuffle_read_mb, input_mb, wall_sec}} for
    every pinned lane + sketch pair member, serving-only: bench.py's
    ``prepare_serving`` pays every fit, the bucketed-layout build and the
    cluster prewarms first, and ``time_lane`` times each lane."""
    from bench import _stage_io_reader, prepare_serving, time_lane
    from kafkastreamingetl_spark.queries import APPROX_VARIANTS
    from __spark_entry__ import queries

    qs = queries()
    _, errors = prepare_serving(spark, sf_dir, qs)
    if errors:
        raise SystemExit(f"serving preparation failed: {errors}")

    read_io = _stage_io_reader(spark)
    if read_io is None:
        raise SystemExit("Spark UI disabled — shuffle metrics unavailable")
    read_io()  # drain fit/prewarm stages

    out: dict[str, dict] = {}
    # Full-registry coverage (round 14, extending VERDICT r13 item 5
    # past its top-50 ask): the pinned heavy set leads (stable ordering
    # for round-over-round diffs), then EVERY other registered query —
    # the registry is frozen at 179, so full coverage is itself a stable
    # contract, and shuffle bytes are the one scale metric immune to
    # this host's wall drift.
    targets = list(dict.fromkeys(
        LANES
        + [t for p in SKETCH_PAIRS.items() for t in p]
        + sorted(qs)
    ))
    for name in targets:
        fn = APPROX_VARIANTS[name] if name in APPROX_VARIANTS else qs[name]
        wall = time_lane(spark, fn, sf_dir)["wall_s"]
        stats = None
        for _ in range(10):  # REST publication can lag the action slightly
            stats = read_io()
            if stats and stats["n_stages"]:
                break
            time.sleep(0.3)
        out[name] = {**(stats or {}), "wall_sec": wall}
    return out


def main() -> None:
    sf_dir = os.getenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_test_spark("kafkastreamingetl_spark_shuffle_bytes")
    lanes = measure(spark, sf_dir)
    from bench import ACTION

    report = {
        "sf_dir": sf_dir,
        "action": ACTION,
        "tail_lanes": {
            n: lanes[n] for n in sorted(set(lanes) - set(LANES))
        },
        "n_total_lanes": len(lanes),
        "method": (
            "Spark UI REST stage-delta: sum of shuffleWriteBytes over "
            "stages newer than the previous probe; serving-only (fit + "
            "cluster prewarm paid before the loop, cache cleared per lane); "
            "lanes forced through the bench action (noop since r14 — a "
            "count() action let Catalyst prune Window exchanges out of "
            "the very byte counts this artifact gates)"
        ),
        "lanes": {n: lanes[n] for n in LANES},
        "sketch_pairs": {
            s: {"sketch": lanes[s], "exact_twin": e, "exact": lanes[e]}
            for s, e in SKETCH_PAIRS.items()
        },
    }
    with open(os.path.join(REPO, "SHUFFLE_BYTES.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    total = sum(v["shuffle_write_mb"] for v in report["lanes"].values())
    print(json.dumps({"lanes": len(LANES), "total_write_mb": round(total, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
