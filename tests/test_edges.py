"""Edge cases: empty inputs, degenerate parameters, null keys — the P8
family applied across the operator surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafkastreamingetl_spark.operators.cleaning import clean_events
from kafkastreamingetl_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    neardup_pairs,
)
from kafkastreamingetl_spark.operators.rollup import daily_segment_metrics
from kafkastreamingetl_spark.operators.similarity import cosine_topk, self_queries
from kafkastreamingetl_spark.operators.windows import session_agg, windowed_agg
from kafkastreamingetl_spark.sources import EVENT_SCHEMA


@pytest.fixture(scope="module")
def empty_events(spark):
    return spark.createDataFrame([], schema=EVENT_SCHEMA)


def test_empty_events_through_batch_operators(spark, empty_events):
    customer = spark.createDataFrame(
        [(1, "SEG", 0.0)], ["c_custkey", "c_mktsegment", "c_acctbal"]
    )
    assert clean_events(empty_events).count() == 0
    assert windowed_agg(empty_events, keys=["event_type"]).count() == 0
    assert session_agg(empty_events).count() == 0
    assert daily_segment_metrics(empty_events, customer).count() == 0


def test_empty_documents_through_dedup(spark):
    docs = spark.createDataFrame(
        [], schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        )
    )
    assert exact_dedup(docs).count() == 0
    assert lsh_candidate_pairs(docs).count() == 0
    assert neardup_pairs(docs).count() == 0


def test_topk_with_k_larger_than_corpus(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], i) for i in range(3)],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
                T.StructField("label", T.IntegerType()),
            ]
        ),
    )
    got = cosine_topk(emb, self_queries(emb, 1), k=100).collect()
    assert len(got) == 2  # corpus minus self, not k
    assert [r.rank for r in sorted(got, key=lambda r: r.rank)] == [1, 2]


def test_null_event_type_normalizes(spark):
    rows = [(1, "2024-01-01 00:00:00", 1, None, None, None)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = clean_events(df).collect()[0]
    assert out.event_type_norm == "unknown"
    assert out.value == 0.0


def test_all_duplicate_corpus(spark):
    docs = spark.createDataFrame(
        [(i, "same exact words repeated here okay") for i in range(10)],
        ["doc_id", "text"],
    )
    survivors = exact_dedup(docs).collect()
    assert [r.doc_id for r in survivors] == [0]
    # identical docs share every band: all 45 pairs are candidates with
    # jaccard exactly 1.0
    pairs = neardup_pairs(docs).collect()
    assert len(pairs) == 45
    assert all(r.jaccard == 1.0 for r in pairs)


def test_empty_documents_through_round6_operators(spark):
    """Empty corpus: packing, dup-rate, weighted sampling, vocab counts,
    contamination, and incremental dedup all yield empty results (never
    crash) — and k-means on a corpus with no seed ids degrades to an
    empty model and empty stats."""
    from kafkastreamingetl_spark.operators.corpus import (
        dedup_rate_by_source,
        pack_token_bins,
        quality_weighted_sample,
    )
    from kafkastreamingetl_spark.operators.dedup import (
        eval_contamination,
        incremental_exact_dedup,
    )
    from kafkastreamingetl_spark.operators.similarity import (
        fit_kmeans,
        kmeans_centroid_stats,
    )
    from kafkastreamingetl_spark.operators.text import vocab_token_counts

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert pack_token_bins(empty).count() == 0
    assert dedup_rate_by_source(empty).count() == 0
    assert quality_weighted_sample(empty).count() == 0
    assert vocab_token_counts(empty).count() == 0
    assert eval_contamination(empty, empty).count() == 0
    assert incremental_exact_dedup(empty, empty).count() == 0

    emb_empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert fit_kmeans(emb_empty) == []
    assert kmeans_centroid_stats(emb_empty).count() == 0


def test_kmeans_fewer_vectors_than_k(spark):
    """A corpus smaller than k trains a model with one cluster per vector
    (seeds are whichever of ids 0..k-1 exist) rather than failing."""
    from kafkastreamingetl_spark.operators.similarity import fit_kmeans

    df = spark.createDataFrame(
        [(0, [1.0] * 64), (1, [2.0] * 64)], "vec_id long, embedding array<double>"
    )
    model = fit_kmeans(df, k=8, n_iter=1)
    assert [cl for cl, _ in model] == [0, 1]


def test_empty_documents_through_span_and_vocab_operators(spark):
    """Empty corpus: hot-gram report, dup-span fractions, quality
    percentile filter, vocab building, and estimator calibration all
    yield empty results rather than crashing."""
    from kafkastreamingetl_spark.operators.corpus import (
        hot_ngrams,
        quality_percentile_filter,
        vocab_top_tokens,
    )
    from kafkastreamingetl_spark.operators.dedup import (
        dup_ngram_doc_fraction,
        minhash_jaccard_estimate,
    )

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert hot_ngrams(empty).count() == 0
    assert dup_ngram_doc_fraction(empty).count() == 0
    assert quality_percentile_filter(empty).count() == 0
    assert vocab_top_tokens(empty).count() == 0
    assert minhash_jaccard_estimate(empty).count() == 0


def test_single_doc_language_survives_percentile_filter(spark):
    """A language with one document keeps it: its only row is also the
    per-language maximum (cume_dist 1.0) — the low-resource-language
    guarantee the per-language ranking exists for."""
    from kafkastreamingetl_spark.operators.corpus import (
        quality_percentile_filter,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d", "rare", "s", 7),
            (2, "x x x x x x x x", "en", "s", 15),
            (3, "p q r s t u v w", "en", "s", 15),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    kept = {r.doc_id for r in quality_percentile_filter(df).collect()}
    assert 1 in kept  # lone 'rare' doc survives


def test_unique_corpus_has_no_dup_spans(spark):
    """Documents sharing no n-gram: every dup fraction is 0 and all are
    kept; the hot-gram report is empty at min_docs=2."""
    from kafkastreamingetl_spark.operators.corpus import hot_ngrams
    from kafkastreamingetl_spark.operators.dedup import dup_ngram_doc_fraction

    df = spark.createDataFrame(
        [
            (1, "a b c d e f", "en", "s", 11),
            (2, "g h i j k l", "en", "s", 11),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = dup_ngram_doc_fraction(df).collect()
    assert len(rows) == 2
    assert all(r.dup_grams == 0 and r.kept for r in rows)
    assert hot_ngrams(df).count() == 0


def test_identical_docs_fully_duplicated_spans(spark):
    """Two identical documents: dup fraction 1.0 on both (kept=False at
    the 0.5 default), the shared grams all reach the hot report, and the
    MinHash estimate equals exact Jaccard 1.0 with zero error."""
    from kafkastreamingetl_spark.operators.corpus import hot_ngrams
    from kafkastreamingetl_spark.operators.dedup import (
        dup_ngram_doc_fraction,
        minhash_jaccard_estimate,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e f", "en", "s", 11),
            (2, "a b c d e f", "en", "s", 11),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = dup_ngram_doc_fraction(df).collect()
    assert all(r.dup_frac == 1.0 and not r.kept for r in rows)
    assert hot_ngrams(df).count() == 4  # 4 trigrams over 6 tokens
    est = minhash_jaccard_estimate(df).collect()
    assert len(est) == 1
    assert est[0].est_jaccard == 1.0 == est[0].jaccard and est[0].est_err == 0.0


def test_cluster_balanced_sample_covers_every_cluster(spark):
    """Every non-empty cluster contributes rows, none contributes more
    than per_cluster, and ranks are 1..m within each cluster."""
    from kafkastreamingetl_spark.operators.similarity import (
        cluster_balanced_sample,
    )

    vecs = [(i, [float(i % 4)] * 64) for i in range(64)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    rows = cluster_balanced_sample(df, per_cluster=3, k=4, n_iter=1).collect()
    by_cluster: dict[int, list[int]] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_cluster.values())
    assert all(len(v) <= 3 for v in by_cluster.values())
    assert len(by_cluster) == 4


def test_semantic_dedup_planted_cluster(spark):
    """Three identical vectors + one distinct: the identical trio resolves
    to one cluster labeled by its min id, the scrub keeps exactly the
    min-id survivor plus the singleton."""
    from kafkastreamingetl_spark.operators.similarity import (
        dedup_embeddings_semantic,
        embedding_clusters,
    )

    rows = [
        (5, [1.0, 2.0] * 32, 0),
        (7, [1.0, 2.0] * 32, 0),
        (9, [1.0, 2.0] * 32, 0),
        (11, [-3.0, 1.0] * 32, 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    clusters = {r.vec_id: r.cluster_id for r in embedding_clusters(df).collect()}
    assert clusters == {5: 5, 7: 5, 9: 5}  # singleton 11 absent by contract
    kept = sorted(r.vec_id for r in dedup_embeddings_semantic(df).collect())
    assert kept == [5, 11]


def test_daily_dense_series_gapfill_semantics(spark):
    """Planted gaps: missing days appear with zero-filled additive metrics
    and the forward-filled close; days before a key's first observation
    close at the 0.0 sentinel; is_observed marks real rows only."""
    from kafkastreamingetl_spark.operators.timeseries import daily_dense_series

    rows = [
        # key "a": days 1 and 4 observed; 2-3 are gaps
        (1, "2024-01-01 10:00:00", 1, "a", 5.0, "{}"),
        (2, "2024-01-01 11:00:00", 1, "a", 7.0, "{}"),  # later event: close
        (3, "2024-01-04 09:00:00", 1, "a", 9.0, "{}"),
        # key "b": first observed on day 3
        (4, "2024-01-03 09:00:00", 2, "b", 4.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {(r.key, str(r.day)): r for r in daily_dense_series(df).collect()}
    assert len(out) == 8  # 2 keys x 4 days
    a1 = out[("a", "2024-01-01")]
    assert a1.revenue == 12.0 and a1.n_events == 2 and a1.close == 7.0
    assert a1.is_observed
    a2 = out[("a", "2024-01-02")]
    assert a2.revenue == 0.0 and a2.n_events == 0 and a2.close == 7.0
    assert not a2.is_observed
    assert out[("a", "2024-01-04")].close == 9.0
    b1 = out[("b", "2024-01-01")]
    assert b1.close == 0.0 and not b1.is_observed  # before first observation
    assert out[("b", "2024-01-03")].close == 4.0
    assert out[("b", "2024-01-04")].close == 4.0  # forward-filled


def test_strip_boilerplate_edges(spark):
    """Empty corpus → empty result; an all-boilerplate doc strips to the
    empty string with n_removed == n_tokens; a no-hot-gram corpus passes
    through untouched."""
    from kafkastreamingetl_spark.operators.corpus import strip_boilerplate

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    empty = spark.createDataFrame([], schema)
    assert strip_boilerplate(empty).count() == 0

    dup = spark.createDataFrame(
        [(1, "a b c", "en", "s", 5), (2, "a b c", "en", "s", 5)], schema
    )
    rows = {r.doc_id: r for r in strip_boilerplate(dup, min_docs=2).collect()}
    assert rows[1].text_clean == "" and rows[1].n_removed == 3
    assert rows[2].text_clean == "" and rows[2].n_removed == 3

    uniq = spark.createDataFrame(
        [(1, "a b c d", "en", "s", 7), (2, "e f g h", "en", "s", 7)], schema
    )
    out = {r.doc_id: r for r in strip_boilerplate(uniq, min_docs=2).collect()}
    assert out[1].text_clean == "a b c d" and out[1].n_removed == 0


def test_daily_dense_series_empty_and_null_keys(spark):
    """Empty input → empty grid; null-key events are excluded from the
    series entirely (no phantom key)."""
    from kafkastreamingetl_spark.operators.timeseries import daily_dense_series
    from kafkastreamingetl_spark.sources import EVENT_SCHEMA

    empty = spark.createDataFrame([], schema=EVENT_SCHEMA)
    assert daily_dense_series(empty).count() == 0

    rows = [
        (1, "2024-01-01 10:00:00", 1, None, 5.0, "{}"),
        (2, "2024-01-02 10:00:00", 1, "a", 3.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = daily_dense_series(df).collect()
    assert {r.key for r in out} == {"a"}
    assert len(out) == 1  # span starts at the first non-null-key event


def test_profile_columns_counts_and_empty(spark):
    """Planted nulls/duplicates profile exactly; the empty table yields a
    zero profile row per column (never a crash or a null fraction)."""
    from kafkastreamingetl_spark.operators.quality import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, None)], "id long, s string"
    )
    out = {r.col_name: r for r in profile_columns(df, ["id", "s"]).collect()}
    assert out["id"].n_nulls == 0 and out["id"].n_distinct == 4
    assert out["s"].n_nulls == 2 and out["s"].n_distinct == 1
    assert out["s"].null_frac == 0.5

    empty = spark.createDataFrame([], "id long, s string")
    rows = profile_columns(empty, ["id", "s"]).collect()
    assert len(rows) == 2
    assert all(
        r.n_rows == 0 and r.n_nulls == 0 and r.n_distinct == 0
        and r.null_frac == 0.0
        for r in rows
    )


def test_order_distribution_keeps_zero_order_customers(spark):
    """The LEFT join must surface customers with no orders as c_count 0 —
    the row an inner join silently drops."""
    from kafkastreamingetl_spark.queries import QUERIES

    out = {
        r.c_count: r.n_customers
        for r in QUERIES["customer_order_distribution"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert sum(out.values()) > 0
    assert all(k >= 0 for k in out)


def test_empty_events_through_temporal_operators(spark, empty_events):
    """Empty inputs flow through the temporal/incremental family without
    errors and produce empty (or all-unchanged) results."""
    from kafkastreamingetl_spark.operators import incremental as inc_ops
    from kafkastreamingetl_spark.operators import temporal as temporal_ops
    from kafkastreamingetl_spark.operators.layout import zorder_layout_report
    from kafkastreamingetl_spark.operators.quality import winsorized_type_stats
    from kafkastreamingetl_spark.operators.timeseries import (
        daily_value_trend,
        rolling_distinct_users,
    )

    assert temporal_ops.scd2_history(empty_events).count() == 0
    assert temporal_ops.campaign_attribution(empty_events).count() == 0
    assert temporal_ops.user_daily_streaks(empty_events).count() == 0
    assert temporal_ops.user_value_ewma(empty_events).count() == 0
    assert daily_value_trend(empty_events).count() == 0
    assert rolling_distinct_users(empty_events).count() == 0
    assert winsorized_type_stats(empty_events).count() == 0
    assert zorder_layout_report(empty_events).count() == 0
    merged = inc_ops.incremental_rollup_merge(empty_events, empty_events)
    assert merged.count() == 0
    diff = inc_ops.snapshot_diff(
        inc_ops.user_state(empty_events), inc_ops.user_state(empty_events)
    )
    assert diff.count() == 0


def test_scd2_single_event_is_one_run(spark):
    from kafkastreamingetl_spark.operators.temporal import scd2_history

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7, "click", 5.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = scd2_history(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.run_seq == 1 and r.n_events == 1
    assert r.valid_from == r.valid_to


def test_ewma_single_event_equals_value(spark):
    """With one event the decayed average IS the value (to cent rounding)."""
    from kafkastreamingetl_spark.operators.temporal import user_value_ewma

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7, "click", 12.34, "{}")],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = user_value_ewma(df).collect()
    assert len(rows) == 1
    assert abs(rows[0].ewma_value - 12.34) < 0.005


def test_trend_single_day_key_has_null_slope(spark):
    """det = 0 (one observed day) must yield NULL slope/intercept, not a
    0/0 NaN."""
    from kafkastreamingetl_spark.operators.timeseries import daily_value_trend

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1, "click", 5.0, "{}"),
            (2, "2024-01-01 11:00:00", 1, "click", 7.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = daily_value_trend(df).collect()
    assert len(rows) == 1
    assert rows[0].slope_per_day is None and rows[0].intercept is None


def test_corpus_shuffle_invariant_under_partitioning(spark):
    """The permutation is a pure function of (seed, doc_id): any input
    partitioning yields identical (shard, pos) assignments."""
    from kafkastreamingetl_spark.catalog import load_table
    from kafkastreamingetl_spark.operators.corpus import corpus_shuffle

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = {
        r.doc_id: (r.shard, r.pos)
        for r in corpus_shuffle(docs).collect()
    }
    b = {
        r.doc_id: (r.shard, r.pos)
        for r in corpus_shuffle(docs.repartition(13)).collect()
    }
    assert a == b


def test_repetition_stats_flags_degenerate_doc(spark):
    """A one-token-repeated document fails every repetition gate; a
    all-distinct document passes them."""
    from kafkastreamingetl_spark.operators.text import doc_repetition_stats

    df = spark.createDataFrame(
        [
            (1, " ".join(["spam"] * 50), "en", "web", 200),
            (2, " ".join(f"w{i}" for i in range(50)), "en", "web", 200),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r.doc_id: r for r in doc_repetition_stats(df).collect()}
    assert rows[1].keep is False
    assert rows[1].top_bigram_frac == 1.0
    assert rows[2].keep is True
    assert rows[2].dup_bigram_frac == 0.0


def _window_ntiles(df, cuts):
    """The exact-ntile cuts as chained global-window ``F.ntile``s."""
    from pyspark.sql import Window

    for n, cols, name in cuts:
        w = Window.orderBy(*[F.col(c).asc_nulls_first() for c in cols])
        df = df.withColumn(name, F.ntile(n).over(w).cast("int"))
    return df


def test_exact_ntile_empty_and_tiny_frames(spark):
    """Exact ntile at its domain edges, bit-equal to ``F.ntile``: an empty
    frame (one cut and two cuts), a one-row frame, n > N (every row its
    own bucket), and a cut whose leading key is entirely NULL (no bounds:
    one range partition, ordered by the tie-breaker) next to a normal
    cut."""
    from kafkastreamingetl_spark.operators.rankstats import exact_ntile_cuts

    def check(df, cuts):
        got = sorted(exact_ntile_cuts(df, cuts).collect())
        assert got == sorted(_window_ntiles(df, cuts).collect())
        return got

    one_cut = [(10, ["v", "uid"], "bucket")]
    two_cuts = [(10, ["v", "uid"], "bv"), (3, ["w", "uid"], "bw")]
    schema = "v long, w long, uid long"
    empty = spark.createDataFrame([], schema)
    assert check(empty, one_cut) == []
    assert check(empty, two_cuts) == []

    one = spark.createDataFrame([(5, 2, 1)], schema)
    assert [(r.v, r.bucket) for r in check(one, one_cut)] == [(5, 1)]

    seven = spark.createDataFrame([(v, v % 3, v) for v in range(7)], schema)
    got = check(seven, one_cut)
    assert [r.bucket for r in got] == list(range(1, 8))

    rows = [(i * 7 % 11, None, i) for i in range(40)]
    null_lead = spark.createDataFrame(rows, schema)
    got = check(null_lead, [(10, ["v", "uid"], "bv"), (4, ["w", "uid"], "bw")])
    assert {r.bw for r in got} == {1, 2, 3, 4}


def test_backlog_empty_lineitem_and_null_days(spark):
    """pending_backlog's domain edges, on constructed frames: an empty
    lineitem side yields an empty backlog (inner join — no phantom
    opens); NULL open/close days drop from the delta stream instead of
    silently skewing every later running total; and the half-open
    convention plus a known interval layout give exact counts."""
    from kafkastreamingetl_spark.operators.timeseries import pending_backlog

    orders = spark.createDataFrame(
        [
            (1, "2024-01-01"),
            (2, "2024-01-02"),
            (3, None),  # NULL open day: contributes nothing
        ],
        "o_orderkey long, o_orderdate string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))

    empty_lines = spark.createDataFrame(
        [], "l_orderkey long, l_shipdate timestamp"
    )
    assert pending_backlog(orders, empty_lines).count() == 0

    lines = spark.createDataFrame(
        [
            (1, "2024-01-03"),  # order 1 open on Jan 1, 2 (half-open)
            (2, "2024-01-02"),  # same-day open+close: never counted
            (3, "2024-01-05"),  # order 3 has a NULL OPEN day: the whole
            # span must drop — keeping only its close would leak an
            # unmatched -1 into every total from Jan 5 on
        ],
        "l_orderkey long, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    got = {
        str(r.day): r.open_orders
        for r in pending_backlog(orders, lines).collect()
    }
    assert got == {
        "2024-01-01": 1,
        "2024-01-02": 1,  # order 1 still open; order 2 opens+closes net 0
        "2024-01-03": 0,
    }


# ---------------------------------------------------------------------------
# round-10 operators under the same degenerate-input gate
# ---------------------------------------------------------------------------


def test_round10_ops_on_empty_and_null_documents(spark):
    """Empty corpus and null/short text through every round-10 document
    operator: no crashes, structurally-correct empties."""
    from kafkastreamingetl_spark.operators.corpus import bigram_pmi
    from kafkastreamingetl_spark.operators.dedup import (
        incremental_neardup,
        lsh_band_load_profile,
        neardup_pagerank,
    )
    from kafkastreamingetl_spark.operators.text import doc_char_entropy

    empty = spark.createDataFrame([], "doc_id long, text string")
    degenerate = spark.createDataFrame(
        [(1, None), (2, ""), (3, "x")], "doc_id long, text string"
    )
    for docs in (empty, degenerate):
        # too short to shingle -> no signatures -> empty profile/graph
        assert lsh_band_load_profile(docs).count() == 0
        assert neardup_pagerank(docs).count() == 0
        # below the pair floor -> empty collocation set
        assert bigram_pmi(docs).count() == 0
    # char entropy: null and empty text yield no row; 'x' has one class
    rows = {r.doc_id: r for r in doc_char_entropy(degenerate).collect()}
    assert set(rows) == {3}
    assert rows[3].n_chars == 1 and rows[3].entropy_micro == 0.0
    # incremental near-dup: empty increment -> empty; empty base -> only
    # the within-batch first-arrival rule applies (no base drops)
    assert incremental_neardup(degenerate, empty).count() == 0
    t = "the quick brown fox jumps over the lazy dog tonight"
    inc = spark.createDataFrame(
        [(1, t), (3, t), (5, "x y")], "doc_id long, text string"
    )
    survivors = {
        r.doc_id for r in incremental_neardup(empty, inc).collect()
    }
    assert survivors == {1, 5}


def test_round10_events_ops_on_empty_events(spark, empty_events):
    from kafkastreamingetl_spark.operators.timeseries import (
        user_interarrival_stats,
    )

    assert user_interarrival_stats(empty_events).count() == 0


def test_ann_recall_report_empty_corpus(spark):
    from kafkastreamingetl_spark.operators.similarity import (
        ann_recall_report,
    )

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert ann_recall_report(emb).count() == 0
