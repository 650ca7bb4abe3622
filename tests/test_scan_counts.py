"""Scan-count regression net for the round-11 audit: the number of
DISTINCT parquet scan nodes per source file in each fixed query's physical
plan. Catalyst re-inlines the whole upstream pipeline for every consumer
of an unpersisted DataFrame — the failure mode that had ann_recall_report
scanning embeddings 8 times — and nothing else in the test suite notices
(results and operator-count snapshots stay identical while the executed
scan volume silently multiplies). Cached-lineage reprints in
explain("formatted") reuse the same node id, so counting distinct ids
counts executed scans.
"""

from __future__ import annotations

import collections
import contextlib
import io
import re

import pytest

from kafkastreamingetl_spark.queries import QUERIES

# query -> {file: max distinct scan nodes allowed}. These are the audited
# minima (SCALE.md "Round-11 plan fixes"); a failure means a plan change
# reintroduced a redundant corpus scan.
SCAN_BUDGET = {
    "bigram_pmi_collocations": {"documents.parquet": 2},
    "ann_recall_report": {"embeddings.parquet": 3},
    "orders_pending_backlog": {"orders.parquet": 1, "lineitem.parquet": 1},
    "conversion_funnel": {"events.parquet": 3},
    "temperature_mix_sample": {"documents.parquet": 2},
    "source_overlap_matrix": {"documents.parquet": 1},
    "daily_dense_series": {"events.parquet": 1},
    "tfidf_top_terms": {"documents.parquet": 2},
    "doc_lm_score": {"documents.parquet": 3},
    # round 12: tokenize pass (collapsed to the persisted tf table) + the
    # footer-only n_docs count; the 1-row scalar table is persisted so its
    # two consumers share one count scan.
    "bm25_topk": {"documents.parquet": 1},
    # lm_score_bucket_mix inherits doc_lm_score's audited 3-scan minimum
    # (two bigram passes + the persisted unigram pass); lang rides the
    # scoring explode as a carry column, never a fourth scan.
    "lm_score_bucket_mix": {"documents.parquet": 3},
    "vocab_zipf_slope": {"documents.parquet": 1},
    "doc_dedup_lines": {"documents.parquet": 1},
    "kanon_risk_report": {"documents.parquet": 1},
    "gopher_quality_flags": {"documents.parquet": 1},
    "doc_encoding_anomalies": {"documents.parquet": 1},
    "embedding_qc_report": {"embeddings.parquet": 1},
}


def _scan_counts(df) -> dict[str, int]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    ids: dict[str, str] = {}
    cur = None
    for line in buf.getvalue().splitlines():
        m = re.match(r"\((\d+)\) Scan parquet", line.strip())
        if m:
            cur = m.group(1)
            continue
        if cur and line.strip().startswith("Location:"):
            ids[cur] = line.strip().split("/")[-1].rstrip("]")
            cur = None
    return dict(collections.Counter(ids.values()))


# The registry-wide ceiling: after the audit no query reads any single
# file more than twice, except these seven documented cases at exactly 3
# (SCALE.md "Round-11 plan fixes" — per-FK-edge pruned scans, Spark's own
# decorrelation of the same-ANSI-text subquery, demo-shape eval/train and
# base/increment splits of one table, the bigram LM's count-then-score
# minimum, the funnel's one-filtered-scan-per-stage, and the recall
# report's two serving paths + query sample). A NEW query landing at 3+
# must either get fixed or earn its place on this list.
ALLOWED_AT_3 = {
    # round 12: the CCNet bucket lane composes doc_lm_score, inheriting
    # its count-then-score 3-scan minimum (lang rides as a carry column).
    "lm_score_bucket_mix",
    "referential_integrity",
    "orders_above_customer_avg",
    "incremental_neardup_documents",
    "doc_lm_score",
    "decontaminated_corpus",
    "conversion_funnel",
    "ann_recall_report",
}


@pytest.mark.slow
def test_registry_wide_scan_ceiling(spark, sf_dir):
    over: dict[str, dict[str, int]] = {}
    for name, fn in QUERIES.items():
        try:
            counts = _scan_counts(fn(spark, sf_dir))
        finally:
            spark.catalog.clearCache()
        cap = 3 if name in ALLOWED_AT_3 else 2
        bad = {f: c for f, c in counts.items() if c > cap}
        if bad:
            over[name] = bad
    assert not over, (
        f"queries scanning a file more than their ceiling "
        f"(2, or 3 if allowlisted): {over}"
    )


def test_approx_variant_scan_ceiling(spark, sf_dir):
    """The production sketch lanes live in APPROX_VARIANTS, outside
    QUERIES, so the registry-wide ceiling above never saw them (ADVICE
    r11: source_overlap_minhash fed an unpersisted sigs table into both
    sides of its self-join and scanned documents twice). Same ceiling: no
    approx lane may scan any single file more than twice — except
    lm_bucket_mix_approx at the bigram LM's audited count-then-score
    3-scan minimum (it persists the scores table; the 3 scans are the
    cached pipeline's, shared by both consumers, same carve-out as
    doc_lm_score in ALLOWED_AT_3). Plans only the approx lanes at the
    default test scale, so it runs in the default tier."""
    from kafkastreamingetl_spark.queries import APPROX_VARIANTS

    approx_allowed_at_3 = {"lm_bucket_mix_approx"}
    over: dict[str, dict[str, int]] = {}
    for name, fn in APPROX_VARIANTS.items():
        try:
            counts = _scan_counts(fn(spark, sf_dir))
        finally:
            spark.catalog.clearCache()
        cap = 3 if name in approx_allowed_at_3 else 2
        bad = {f: c for f, c in counts.items() if c > cap}
        if bad:
            over[name] = bad
    assert not over, (
        f"approx lanes scanning a file more than twice: {over}"
    )


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(SCAN_BUDGET))
def test_scan_count_stays_within_audit_budget(spark, sf_dir, name):
    try:
        counts = _scan_counts(QUERIES[name](spark, sf_dir))
    finally:
        spark.catalog.clearCache()
    over = {
        f: (counts.get(f, 0), budget)
        for f, budget in SCAN_BUDGET[name].items()
        if counts.get(f, 0) > budget
    }
    assert not over, (
        f"{name}: distinct parquet scans exceed the audited budget "
        f"(now, budget) = {over}; full counts {counts}"
    )
