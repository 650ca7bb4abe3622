"""Unit tests for the text / dedup operator family: hash parity, edge
cases, and that MinHash-LSH actually finds planted near-duplicates (and
doesn't pair unrelated docs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafkastreamingetl_spark.functions import hash60, py_hash60
from kafkastreamingetl_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    lsh_candidate_pairs,
    neardup_clusters,
    neardup_dedup,
    neardup_pairs,
    simhash_candidate_pairs,
)
from kafkastreamingetl_spark.operators.text import (
    doc_quality,
    shingle_hashes,
    simhash,
)


def test_hash60_matches_python_twin(spark):
    vals = ["hello", "a b c", "", "Ünïcödé"]
    rows = spark.createDataFrame([(v,) for v in vals], ["s"]).select(
        hash60(F.col("s")).alias("h")
    ).collect()
    assert [r.h for r in rows] == [py_hash60(v) for v in vals]


def test_shingle_hashes_short_doc_guard(spark):
    df = spark.createDataFrame(
        [(1, "one two three four"), (2, "too short"), (3, "x")], ["doc_id", "text"]
    ).select("doc_id", F.size(shingle_hashes("text")).alias("n"))
    got = {r.doc_id: r.n for r in df.collect()}
    assert got == {1: 2, 2: 0, 3: 0}  # 4 tokens -> 2 trigrams; <3 tokens -> none


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(5, "same text"), (2, "same text"), (9, "other text")],
        ["doc_id", "text"],
    )
    got = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert got == [2, 9]


def _corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    near = base.replace("today", "tonight")  # one-token edit: high Jaccard
    other = "completely different words about spark partitions and shuffles here"
    return spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"]
    )


def test_lsh_finds_planted_neardup(spark):
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(_corpus(spark)).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_neardup_jaccard_values(spark):
    rows = neardup_pairs(_corpus(spark)).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    assert set(got) == {(1, 2)}
    # 13 tokens -> 11 trigrams; a last-token edit changes only the final
    # shingle: |A∩B| = 10, |A∪B| = 12
    assert abs(got[(1, 2)] - 10 / 12) < 1e-12


def test_simhash_close_for_neardups(spark):
    df = _corpus(spark).select("doc_id", simhash("text").alias("sh"))
    got = {r.doc_id: r.sh for r in df.collect()}

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    assert hamming(got[1], got[2]) < hamming(got[1], got[3])
    assert hamming(got[1], got[2]) < hamming(got[2], got[3])


def _long_neardup_corpus(spark):
    """120-token doc + its append-one-token near-dup + an unrelated doc.

    Seeded so the near pair's SimHash Hamming distance is 1 (probed
    offline; Python's Mersenne Twister is seed-stable) — inside the
    banding guarantee AND found by MinHash-LSH, so both near-dup paths
    must surface the same planted pair.
    """
    import random

    rng = random.Random(1)
    vocab = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
        "lima mike november oscar papa quebec romeo sierra tango uniform "
        "victor whiskey"
    ).split()
    base = " ".join(rng.choice(vocab) for _ in range(120))
    near = base + " appended"
    other = " ".join(reversed([rng.choice(vocab) for _ in range(120)]))
    return spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"]
    )


def test_simhash_banding_finds_what_minhash_finds(spark):
    df = _long_neardup_corpus(spark)
    mh = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(df).collect()}
    sh = {(r.doc_a, r.doc_b): r.hamming for r in simhash_candidate_pairs(df).collect()}
    assert (1, 2) in mh  # MinHash path finds the planted pair
    assert set(sh) == {(1, 2)}  # SimHash path finds it too, nothing else
    assert sh[(1, 2)] <= 3


def test_simhash_banding_excludes_short_docs(spark):
    # two <3-token docs would share the all-zero fingerprint; neither may
    # appear (skew guard), and the pair must not be reported
    df = spark.createDataFrame(
        [(1, "tiny"), (2, "also tiny"), (3, "x y z w v u t s r q p o n m")],
        ["doc_id", "text"],
    )
    assert simhash_candidate_pairs(df).count() == 0


def test_connected_components_chain_and_triangle(spark):
    # components: {1,2,3,4} (a path — transitivity beyond direct edges),
    # {7,9}, and 5 appears in no edge (absent from output by contract)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (9, 7)], ["doc_a", "doc_b"]
    )
    got = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(edges).count() == 0


def test_connected_components_long_chain_logarithmic_rounds(spark):
    """The adversarial shape for min-label propagation (template docs with
    drifting dates chain A≈B≈C≈...): a 64-node path. Large-star/small-star
    must both resolve it correctly AND converge in O(log n) rounds — the
    VERDICT r6 item-4 bound, log2(n)+2."""
    import math

    n = 64
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["doc_a", "doc_b"]
    )
    labels = {r.node: r.cluster_id for r in connected_components(chain).collect()}
    assert labels == {i: 1 for i in range(1, n + 1)}
    assert connected_components.last_rounds <= math.log2(n) + 2, (
        connected_components.last_rounds
    )


def test_connected_components_matches_union_find_on_random_graph(spark):
    """Property cross-check against a driver-side union-find on a random
    multigraph (duplicate edges, both orientations, self-loop-free after
    the operator's filter)."""
    import random

    rng = random.Random(7)
    pairs = [(rng.randint(1, 200), rng.randint(1, 200)) for _ in range(300)]
    pairs = [(a, b) for a, b in pairs if a != b]

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}

    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    got = {r.node: r.cluster_id for r in connected_components(df).collect()}
    assert got == expected


def test_neardup_cluster_collapses_planted_triple(spark):
    # A(1) ≈ B(2) ≈ C(3): one-token edits at opposite ends, so A and C are
    # two edits apart — they may never share a band, but transitive closure
    # must still collapse all three to cluster 1. Doc 4 is unrelated.
    base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    b = base.replace("today", "tonight")
    c = b.replace("quick", "swift")
    other = "completely different words about spark partitions and shuffles here"
    df = spark.createDataFrame(
        [(1, base), (2, b), (3, c), (4, other)], ["doc_id", "text"]
    )
    clusters = {r.doc_id: r.cluster_id for r in neardup_clusters(df).collect()}
    assert clusters == {1: 1, 2: 1, 3: 1}
    survivors = sorted(r.doc_id for r in neardup_dedup(df).collect())
    assert survivors == [1, 4]


def test_doc_quality_ratios(spark):
    df = spark.createDataFrame([(1, "the cat sat on the mat")], ["doc_id", "text"])
    row = doc_quality(df).collect()[0]
    assert row.n_tokens == 6
    assert row.n_distinct_tokens == 5
    assert abs(row.stopword_ratio - 2 / 6) < 1e-12
    assert row.lang_guess == "en"


def test_rolling_hash_is_order_sensitive(spark):
    from kafkastreamingetl_spark.operators.text import doc_rolling_hash

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma"), (4, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in doc_rolling_hash(df).collect()}
    assert got[1].rolling_hash == got[3].rolling_hash  # same sequence
    assert got[1].rolling_hash != got[2].rolling_hash  # reordered tokens
    assert got[4].n_tokens == 1  # split('') -> [''] — count disambiguates
    assert all(0 <= r.rolling_hash < 2_147_483_647 for r in got.values())


def test_language_id_scores_and_tiebreak(spark):
    from kafkastreamingetl_spark.operators.text import language_id

    rows = [
        (1, "the weather there is rather warm in the north"),  # en bigrams
        (2, "ich auch ein kleines haus und viele baeume"),  # de bigrams
        (3, ""),  # empty: all scores 0 -> first profile wins the tie
        (4, None),  # null-proofed to ''
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in language_id(df).collect()}
    assert got[1].lang_pred == "en" and got[1].score_en > got[1].score_de
    assert got[2].lang_pred == "de" and got[2].score_de > got[2].score_en
    # deterministic tie: all-zero scores resolve to dict order ('en' first)
    assert got[3].lang_pred == "en"
    assert all(got[3][f"score_{l}"] == 0 for l in ("en", "de", "es", "fr", "zh"))
    assert got[4].lang_pred == "en"


def test_language_id_occurrence_counting_is_nonoverlapping(spark):
    from kafkastreamingetl_spark.operators.text import language_id

    # 'ththth' contains 3 non-overlapping 'th'; 'hehe' adds 2 'he'
    df = spark.createDataFrame([(1, "ththth hehe")], ["doc_id", "text"])
    r = language_id(df).collect()[0]
    assert r.score_en >= 5


def test_containment_detects_subset_duplication(spark):
    """A document embedded verbatim in a longer one: containment hits 1.0
    exactly while symmetric Jaccard stays below it — the wrapper/boilerplate
    case the containment lens exists for."""
    from kafkastreamingetl_spark.operators.dedup import (
        neardup_pairs,
        neardup_pairs_containment,
    )

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    wrapper = base + " kilo lima"  # base's shingles are a strict subset
    df = spark.createDataFrame(
        [(1, wrapper), (2, base), (3, "totally different words here now")],
        "doc_id long, text string",
    )
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in neardup_pairs_containment(df).collect()
    }
    jac = {(r.doc_a, r.doc_b): r.jaccard for r in neardup_pairs(df).collect()}
    assert cont[(1, 2)] == 1.0
    assert jac[(1, 2)] < 1.0
    assert (1, 3) not in cont and (2, 3) not in cont


def test_vocab_token_counts_greedy_semantics(spark):
    """Planted string with a known greedy segmentation: longest-match wins
    over shorter prefixes ('" table"' beats '" a"'+unk), unmatched chars
    consume exactly one position each, and empty text yields 0/0."""
    from kafkastreamingetl_spark.operators.text import vocab_token_counts

    df = spark.createDataFrame(
        [
            # "the table zz" -> "the" | " table" | " "(unk) | "z" | "z"
            (0, "the table zz"),
            (1, ""),
            (2, None),
            # "stream" bare piece at doc start -> 1 token, 0 unk
            (3, "stream"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_tokens, r.n_unk) for r in vocab_token_counts(df).collect()}
    assert got[0] == (5, 3)
    assert got[1] == (0, 0)
    assert got[2] == (0, 0)
    assert got[3] == (1, 0)


def test_incremental_dedup_semantics(spark):
    """Base content suppresses increment duplicates; within the increment
    the min-id occurrence survives; genuinely new content passes."""
    from kafkastreamingetl_spark.operators.dedup import incremental_exact_dedup

    base = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id long, text string"
    )
    inc = spark.createDataFrame(
        [
            (10, "seen before"),   # duplicate of base -> dropped
            (11, "brand new"),     # survives
            (12, "brand new"),     # within-increment dup -> dropped (11 wins)
            (13, "also seen"),     # duplicate of base -> dropped
            (14, "other new"),     # survives
        ],
        "doc_id long, text string",
    )
    direct = sorted(r.doc_id for r in incremental_exact_dedup(base, inc).collect())
    assert direct == [11, 14]


def test_eval_contamination_finds_planted_leak(spark):
    """A train doc identical to an eval doc must surface with jaccard 1.0;
    unrelated train docs must not; pairs are cross-set only."""
    from kafkastreamingetl_spark.operators.dedup import eval_contamination

    leak = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different content about database engines and shuffles"
    train = spark.createDataFrame(
        [(1, leak), (2, other)], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(100, leak), (101, "nothing like the others in any way at all here")],
        "doc_id long, text string",
    )
    got = {
        (r.train_doc, r.eval_doc): r.jaccard
        for r in eval_contamination(train, ev).collect()
    }
    assert got == {(1, 100): 1.0}


def test_source_overlap_shingle_jaccard(spark):
    from kafkastreamingetl_spark.operators.dedup import source_overlap

    docs = spark.createDataFrame(
        [
            # A: shingles {w1w2w3, w2w3w4}; B: {w2w3w4, w3w4w5} -> share 1
            (1, "w1 w2 w3 w4", "A"),
            (2, "w2 w3 w4 w5", "B"),
            # C shares nothing -> no (A,C)/(B,C) rows at all
            (3, "x1 x2 x3", "C"),
            # within-source repetition collapses before counting
            (4, "w1 w2 w3 w4", "A"),
        ],
        "doc_id bigint, text string, source string",
    )
    rows = {(r.source_a, r.source_b): r for r in source_overlap(docs).collect()}
    assert set(rows) == {("A", "B")}
    r = rows[("A", "B")]
    assert (r.n_a, r.n_b, r.n_shared) == (2, 2, 1)
    assert r.jaccard == 1 / 3


def test_doc_ngram_novelty_hand_computed(spark):
    """doc 1: all shingles novel (first in corpus order). doc 2: a verbatim
    copy — zero novelty. doc 3: half restatement of doc 1, half new."""
    from kafkastreamingetl_spark.operators.dedup import doc_ngram_novelty

    d1 = "a b c d"            # shingles: (a b c), (b c d)
    d3 = "a b c x y z"        # (a b c) seen in d1; (b c x),(c x y),(x y z) new
    docs = spark.createDataFrame(
        [(1, d1), (2, d1), (3, d3), (4, "too short")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in doc_ngram_novelty(docs).collect()}
    assert got[1].n_shingles == 2 and got[1].n_novel == 2
    assert got[1].novelty == 1.0
    assert got[2].n_shingles == 2 and got[2].n_novel == 0
    assert got[3].n_shingles == 4 and got[3].n_novel == 3
    assert got[3].novelty == 0.75
    assert 4 not in got  # < 3 tokens: no feature set, no row


# ---------------------------------------------------------------------------
# substring_run_pairs (exact-substring overlap)
# ---------------------------------------------------------------------------


def test_substring_runs_hand_computed(spark):
    """docs 1/2 share the 4-token run "a b c d" (3 consecutive 2-grams on
    one anti-diagonal); doc 3 shares only scattered single grams with
    each — below min_run, no row."""
    from kafkastreamingetl_spark.operators.dedup import substring_run_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "x y a b c d q"),
            (3, "a b z c d"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r
        for r in substring_run_pairs(
            docs, gram_n=2, min_run_tokens=3
        ).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)].n_matched_grams == 3
    assert got[(1, 2)].longest_run_tokens == 4


def test_substring_runs_same_diagonal_gap_not_merged(spark):
    """Matches at positions 1 and 4 of the SAME anti-diagonal with a gap
    between are two runs of 1 gram each (longest shared run = 2 tokens),
    not one run spanning the gap — the gaps-and-islands decomposition a
    per-diagonal count or min/max span would get wrong."""
    from kafkastreamingetl_spark.operators.dedup import substring_run_pairs

    docs = spark.createDataFrame(
        # d2 grams: (a b)@1 (b x)@2 (x d)@3 (d e)@4; d1: (a b)@1 (d e)@4
        # -> both matches on diag 0, positions 1 and 4, gap at 2-3
        [(1, "a b c d e"), (2, "a b x d e")],
        "doc_id long, text string",
    )
    assert (
        substring_run_pairs(docs, gram_n=2, min_run_tokens=3).count() == 0
    )
    got = substring_run_pairs(docs, gram_n=2, min_run_tokens=2).collect()
    assert len(got) == 1
    assert got[0].longest_run_tokens == 2
    assert got[0].n_matched_grams == 2


def test_substring_runs_within_doc_repeat_and_hot_cap(spark):
    """A gram repeated inside one doc matches each occurrence on its own
    diagonal (runs of 1); the document-frequency cap drops grams present
    in more docs than the cap before any pairing."""
    from kafkastreamingetl_spark.operators.dedup import substring_run_pairs

    docs = spark.createDataFrame(
        [(7, "a b a b"), (8, "a b c")],
        "doc_id long, text string",
    )
    got = substring_run_pairs(docs, gram_n=2, min_run_tokens=2).collect()
    assert len(got) == 1
    assert got[0].n_matched_grams == 2  # (a b)@1 and @3 vs @1
    assert got[0].longest_run_tokens == 2
    # cap of 1: "a b" appears in both docs -> dropped -> no pairs at all
    assert (
        substring_run_pairs(
            docs, gram_n=2, min_run_tokens=2, max_gram_docs=1
        ).count()
        == 0
    )


def test_substring_runs_short_docs_no_rows(spark):
    from kafkastreamingetl_spark.operators.dedup import substring_run_pairs

    docs = spark.createDataFrame(
        [(1, "only"), (2, "only"), (3, None)], "doc_id long, text string"
    )
    assert substring_run_pairs(docs, gram_n=2, min_run_tokens=2).count() == 0


# ---------------------------------------------------------------------------
# leakage_free_split
# ---------------------------------------------------------------------------


def test_leakage_free_split_keeps_cluster_together(spark):
    """The planted near-dup pair (1, 2) must land on ONE side, under the
    group key = the cluster min id; the unrelated doc splits by its own
    id exactly as the per-doc splitter would."""
    from kafkastreamingetl_spark.operators.corpus import train_test_split
    from kafkastreamingetl_spark.operators.dedup import leakage_free_split

    docs = _corpus(spark)
    got = {r.doc_id: r for r in leakage_free_split(docs).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1].group_id == got[2].group_id == 1
    assert got[1].split == got[2].split
    assert got[3].group_id == 3
    per_doc = {
        r.doc_id: r.split for r in train_test_split(docs).collect()
    }
    assert got[3].split == per_doc[3]  # singleton == per-doc split
    assert got[1].split == per_doc[1]  # group key 1 == doc key 1


def test_leakage_free_split_no_pair_straddles(spark, sf_dir):
    """Leakage invariant on the real corpus: every verified near-dup pair
    has both ends on the same side."""
    from kafkastreamingetl_spark.catalog import load_table
    from kafkastreamingetl_spark.operators.dedup import (
        leakage_free_split,
        neardup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    split = leakage_free_split(docs).select("doc_id", "split")
    pairs = neardup_pairs(docs).select("doc_a", "doc_b")
    straddlers = (
        pairs.join(
            split.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "split", "_sa"
            ),
            "doc_a",
        )
        .join(
            split.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "split", "_sb"
            ),
            "doc_b",
        )
        .filter("_sa != _sb")
        .count()
    )
    assert straddlers == 0


# ---------------------------------------------------------------------------
# dedup_disposition
# ---------------------------------------------------------------------------


def test_dedup_disposition_hand_computed(spark):
    """Exact pair + near pair + singleton: exact_dup outranks near_dup,
    survivors point one lane up (exact -> content-group min, near ->
    cluster min), kept points at itself."""
    from kafkastreamingetl_spark.operators.dedup import dedup_disposition

    base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    near = base.replace("today", "tonight")
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, near),  # near-dup of 1 -> cluster min 1
            (4, base),  # exact copy of 1 -> exact survivor 1
            (9, "completely different words about spark partitions here now"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.status, r.survivor_id)
        for r in dedup_disposition(docs).collect()
    }
    assert got == {
        1: ("kept", 1),
        2: ("near_dup", 1),
        4: ("exact_dup", 1),
        9: ("kept", 9),
    }


def test_dedup_disposition_partitions_and_counts(spark, sf_dir):
    """On the real corpus: statuses partition the corpus (one row per
    doc), kept-count equals the composed dedup pipeline's survivor
    count for the same lanes."""
    from kafkastreamingetl_spark.catalog import load_table
    from kafkastreamingetl_spark.operators.dedup import (
        dedup_disposition,
        exact_dedup,
        neardup_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    disp = dedup_disposition(docs)
    assert disp.count() == docs.count()
    kept = disp.filter("status = 'kept'").count()
    composed = neardup_dedup(exact_dedup(docs)).count()
    assert kept == composed


# ---------------------------------------------------------------------------
# round-10 additions: band load profile, incremental near-dup, PageRank,
# char entropy
# ---------------------------------------------------------------------------


def test_lsh_band_load_profile_accounts_for_candidates(spark, sf_dir):
    """Per-band pair volume must upper-bound the DISTINCT candidate pairs
    (a pair colliding in several bands is counted once per band), and
    per-band doc counts must equal the signature rows."""
    from kafkastreamingetl_spark.catalog import load_table
    from kafkastreamingetl_spark.operators.dedup import (
        LSH_BANDS,
        lsh_band_load_profile,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    prof = {r.band: r for r in lsh_band_load_profile(docs).collect()}
    assert set(prof) == set(range(LSH_BANDS))
    sig_counts = (
        minhash_signatures(docs)
        .groupBy("band")
        .count()
        .collect()
    )
    for r in sig_counts:
        assert prof[r.band].n_docs == r["count"]
        assert prof[r.band].max_bucket <= r["count"]
    n_pairs = lsh_candidate_pairs(docs).count()
    total_volume = sum(r.candidate_pairs for r in prof.values())
    assert total_volume >= n_pairs


def test_incremental_neardup_hand_computed(spark):
    """base holds TA; increment: TA-copy (dropped vs base), TB (survives),
    second TB (dropped within, first-arrival-wins), another TA-copy
    (dropped vs base), and a too-short-to-shingle doc (no signatures ->
    trivially survives)."""
    from kafkastreamingetl_spark.operators.dedup import incremental_neardup

    ta = "the quick brown fox jumps over the lazy dog tonight"
    tb = "completely different words describing some other topic entirely here"
    base = spark.createDataFrame(
        [(0, ta)], "doc_id long, text string"
    )
    inc = spark.createDataFrame(
        [(1, ta), (3, tb), (5, tb), (7, ta), (9, "x y")],
        "doc_id long, text string",
    )
    survivors = {
        r.doc_id for r in incremental_neardup(base, inc).collect()
    }
    assert survivors == {3, 9}


def test_neardup_pagerank_symmetric_triangle(spark):
    """Three identical docs form a triangle: equal degrees, equal scores,
    and the fixed point of the damped update (base 50000 + 0.85 * two
    contributions of round(333333/2)) is 333334 micro-units each."""
    from kafkastreamingetl_spark.operators.dedup import neardup_pagerank

    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, t), (2, t), (3, t)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in neardup_pagerank(docs).collect()}
    assert set(rows) == {1, 2, 3}
    assert all(r.degree == 2 for r in rows.values())
    assert all(r.score_micro == 333334 for r in rows.values())


def test_neardup_pagerank_mass_conserved(spark, sf_dir):
    """On the real candidate graph the total score stays ~1.0 (damped
    PageRank conserves mass up to per-node rounding: the quantization
    error is bounded by 1 micro-unit per node per round)."""
    from kafkastreamingetl_spark.catalog import load_table
    from kafkastreamingetl_spark.operators.dedup import (
        PR_ITER,
        neardup_pagerank,
    )

    docs = load_table(spark, sf_dir, "documents")
    rows = neardup_pagerank(docs).collect()
    if not rows:
        return
    total = sum(r.score_micro for r in rows)
    slack = (PR_ITER + 1) * len(rows) + 1
    assert abs(total - 1_000_000) <= slack, total


def test_doc_char_entropy_hand_computed(spark):
    """'aaaa' has zero entropy; 'ab' is one bit = round(ln 2 * 1e6)
    micro-nats exactly under the quantize-then-average arithmetic."""
    import math

    from kafkastreamingetl_spark.operators.text import doc_char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in doc_char_entropy(docs).collect()}
    assert rows[1].n_chars == 4 and rows[1].n_distinct_chars == 1
    assert rows[1].entropy_micro == 0.0
    assert rows[2].n_chars == 2 and rows[2].n_distinct_chars == 2
    assert rows[2].entropy_micro == float(round(math.log(2) * 1_000_000))


def test_doc_char_entropy_bounds(spark, sf_dir):
    """0 <= H <= ln(n_distinct_chars), scaled to micro-nats (+1 rounding
    slack per class), for every real document."""
    import math

    from kafkastreamingetl_spark.catalog import load_table
    from kafkastreamingetl_spark.operators.text import doc_char_entropy

    docs = load_table(spark, sf_dir, "documents")
    for r in doc_char_entropy(docs).collect():
        assert r.entropy_micro >= 0.0
        cap = math.log(r.n_distinct_chars) * 1_000_000 + r.n_distinct_chars
        assert r.entropy_micro <= cap, (r.doc_id, r.entropy_micro, cap)


def test_neardup_ingest_step_matches_direct(spark, sf_dir, tmp_path):
    """The persisted tagged-index loop keeps, at each tag, exactly the
    direct form's survivors against the corpus the earlier tags accepted
    — the base pays its shingling once, then only its index is probed."""
    from pyspark.sql import functions as F

    from kafkastreamingetl_spark.catalog import load_table
    from kafkastreamingetl_spark.operators.dedup import incremental_neardup
    from kafkastreamingetl_spark.streaming import neardup_ingest_step

    docs = load_table(spark, sf_dir, "documents")
    corpus, index = str(tmp_path / "corpus"), str(tmp_path / "nd_index")
    for tag in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == tag)
        survivors, bootstrapped = neardup_ingest_step(
            batch, corpus, index, "batch_id", tag
        )
        assert bootstrapped == (tag == 0)
        if tag:
            earlier = (
                spark.read.parquet(corpus)
                .where(F.col("batch_id") < tag)
                .drop("batch_id")
            )
            direct = {
                r.doc_id for r in incremental_neardup(earlier, batch).collect()
            }
            assert {r.doc_id for r in survivors.collect()} == direct
            assert 0 < len(direct) < batch.count()


def test_neardup_ingest_step_three_tag_loop(spark, tmp_path):
    """The full daily loop over three tags (base, day 1, day 2): day-1
    survivors are written back, so day 2's batch dedups against BOTH the
    base and day 1's accepted docs (VERDICT r10 item 6)."""
    from kafkastreamingetl_spark.streaming import neardup_ingest_step

    base_text = "alpha beta gamma delta epsilon zeta eta theta"
    day1_fresh = "one two three four five six seven eight nine"
    day1_other = "red orange yellow green blue indigo violet shade"
    day2_fresh = "north south east west up down left right center"
    schema = "doc_id long, text string"
    base = spark.createDataFrame([(1, base_text)], schema)
    day1 = spark.createDataFrame(
        [(10, base_text), (11, day1_fresh), (12, day1_other)], schema
    )
    day2 = spark.createDataFrame(
        [(20, day1_fresh), (21, base_text), (22, day2_fresh)], schema
    )
    corpus, index = str(tmp_path / "corpus"), str(tmp_path / "nd_index")

    def ingest(batch, tag):
        survivors, _ = neardup_ingest_step(batch, corpus, index, "batch_id", tag)
        return {r.doc_id for r in survivors.collect()}

    assert ingest(base, 0) == {1}
    assert ingest(day1, 1) == {11, 12}
    # 20 dups a day-1 SURVIVOR (only findable via the write-back),
    # 21 still dups the ORIGINAL base (the write-back must not clobber
    # it), 22 is genuinely fresh.
    assert ingest(day2, 2) == {22}


def test_quality_survivor_clusters_argmax_and_ties(spark):
    """Keep-BEST survivor: the richest member wins regardless of id; a
    richness tie falls back to the lowest id; member counting covers the
    transitive closure."""
    from kafkastreamingetl_spark.operators.dedup import quality_survivor_clusters

    # base: 13 tokens, 11 distinct ('the' x3). doc 1 repeats 'the' once
    # more (10 distinct, one edit off base); doc 3 swaps quick->swift
    # (11 distinct, one edit off base). 1 and 3 are two edits apart —
    # closure via doc 2 must still collapse all three.
    base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    df = spark.createDataFrame(
        [
            (1, base.replace("today", "the")),  # 10 distinct
            (2, base),  # 11 distinct
            (3, base.replace("quick", "swift")),  # 11 distinct
            (4, "completely different words about spark partitions here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.cluster_id: r for r in quality_survivor_clusters(df).collect()}
    assert set(rows) == {1}  # cluster label = min member id
    row = rows[1]
    assert row.n_members == 3  # transitive closure, doc 4 untouched
    # argmax beats the min-id default (doc 1 has only 10 distinct);
    # the 11-distinct tie between 2 and 3 breaks to the LOWER id 2
    assert row.survivor_doc_id == 2
    assert row.survivor_distinct_tokens == 11


def test_quality_survivor_prefers_richer_member_over_lower_id(spark):
    from kafkastreamingetl_spark.operators.dedup import quality_survivor_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    richer = base + " nu"  # 13 distinct vs 12, higher id; shingle J = 10/11
    df = spark.createDataFrame([(1, base), (2, richer)], ["doc_id", "text"])
    row = quality_survivor_clusters(df).collect()[0]
    assert row.survivor_doc_id == 2
    assert row.survivor_distinct_tokens == 13
    assert row.n_members == 2


def test_eval_ngram_contamination_catches_pasted_passage(spark):
    """A verbatim 13-token eval passage pasted inside an otherwise
    unrelated train doc is caught (exactly 1 colliding gram for an
    exactly-13-token paste); whole-doc-dissimilar text with no shared
    13-gram is not flagged."""
    from kafkastreamingetl_spark.operators.dedup import eval_ngram_contamination

    passage = "one two three four five six seven eight nine ten eleven twelve thirteen"
    assert len(passage.split()) == 13
    train = spark.createDataFrame(
        [
            (1, "intro words here " + passage + " closing words after"),
            (2, "completely unrelated document about spark shuffle behavior "
                "and adaptive query execution plans at scale today"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "eval context " + passage + " eval suffix")],
        "doc_id long, text string",
    )
    rows = {r.train_doc: r for r in eval_ngram_contamination(train, ev).collect()}
    assert set(rows) == {1}
    assert rows[1].n_collisions == 1  # only the pasted 13-gram collides
    # train doc 1 has 3 + 13 + 3 = 19 tokens -> 7 distinct 13-grams
    assert rows[1].n_grams == 7
    assert abs(rows[1].collision_frac - 1 / 7) < 1e-12


def test_eval_ngram_contamination_short_docs_yield_no_grams(spark):
    from kafkastreamingetl_spark.operators.dedup import eval_ngram_contamination

    train = spark.createDataFrame(
        [(1, "short doc under thirteen tokens total here")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "short doc under thirteen tokens total here")],
        "doc_id long, text string",
    )
    assert eval_ngram_contamination(train, ev).count() == 0


def test_lsh_capped_candidates_drop_hot_bucket_pairs_only(spark):
    """With a cap of 1 every bucket is hot, so no candidates survive;
    with a generous cap the result equals the uncapped operator; and a
    planted hot template (many copies) is excluded at a small cap while
    an honest near-dup pair outside it survives."""
    from kafkastreamingetl_spark.operators.dedup import (
        lsh_capped_candidate_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    near = base.replace("today", "tonight")
    template = "identical boilerplate navigation header repeated across mirror pages verbatim"
    rows = [(1, base), (2, near)] + [(i, template) for i in range(10, 16)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = {
        (r.doc_a, r.doc_b)
        for r in lsh_capped_candidate_pairs(df, max_bucket=10_000).collect()
    }
    assert uncapped == {
        (r.doc_a, r.doc_b) for r in lsh_candidate_pairs(df).collect()
    }
    assert (1, 2) in uncapped
    assert (10, 11) in uncapped  # template clique present uncapped

    capped = {
        (r.doc_a, r.doc_b)
        for r in lsh_capped_candidate_pairs(df, max_bucket=3).collect()
    }
    assert (1, 2) in capped  # honest pair survives (bucket size 2)
    assert not any(a >= 10 and b >= 10 for a, b in capped)  # clique gone

    assert lsh_capped_candidate_pairs(df, max_bucket=1).count() == 0


# ---------------------------------------------------------------------------
# Gopher quality flags (round 12)
# ---------------------------------------------------------------------------


def test_gopher_flags_clean_doc_keeps(spark):
    from kafkastreamingetl_spark.operators.text import gopher_quality_flags

    words = (["the", "of"] + ["spark"] * 58)  # 60 words, 2 stop hits
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    r = gopher_quality_flags(df).collect()[0]
    assert r.n_words == 60
    assert r.n_stop_hits == 2
    assert abs(r.mean_word_len - (3 + 2 + 58 * 5) / 60) < 1e-12
    assert r.symbol_ratio == 0.0
    assert r.bullet_line_frac == 0.0 and r.ellipsis_line_frac == 0.0
    assert r.keep is True


def test_gopher_flags_each_rule_fires(spark):
    from kafkastreamingetl_spark.operators.text import gopher_quality_flags

    base = ["the", "of"] + ["spark"] * 58
    short = "the of spark"  # < 50 words
    shortwords = " ".join(["the", "of"] + ["xx"] * 58)  # mean len < 3
    symbols = " ".join(base[:53] + ["#"] * 7)  # 7 '#' / 60 words > 0.1
    bullets = "\n".join(f"- {w}" for w in base)  # every line bulleted
    ellipses = "\n".join(f"{w}..." for w in base)  # every line ends ...
    nostops = " ".join(["spark"] * 60)  # 0 stop hits
    df = spark.createDataFrame(
        [
            (1, short),
            (2, shortwords),
            (3, symbols),
            (4, bullets),
            (5, ellipses),
            (6, nostops),
            (7, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    assert not any(got[i].keep for i in range(1, 8))
    assert got[1].n_words == 3
    assert got[2].mean_word_len < 3.0
    assert got[3].symbol_ratio > 0.1
    assert got[4].bullet_line_frac > 0.9
    assert got[5].ellipsis_line_frac > 0.3
    assert got[6].n_stop_hits == 0
    assert got[7].n_words == 0 and got[7].keep is False


def test_gopher_unicode_ellipsis_and_bullets_count(spark):
    from kafkastreamingetl_spark.operators.text import gopher_quality_flags

    text = "• first line…\n* second line\nplain line"
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    r = gopher_quality_flags(df).collect()[0]
    assert abs(r.bullet_line_frac - 2 / 3) < 1e-12
    assert abs(r.ellipsis_line_frac - 1 / 3) < 1e-12
    # the unicode ellipsis also counts toward the symbol ratio
    assert r.symbol_ratio > 0.0


# ---------------------------------------------------------------------------
# Encoding anomalies (round 12)
# ---------------------------------------------------------------------------


def test_encoding_anomalies_planted_markers(spark):
    from kafkastreamingetl_spark.operators.text import doc_encoding_anomalies

    moji = "cafÃ© dÃ©jÃ "  # 3x 'A-tilde + continuation' pair
    smart = "itâ€™s fine"  # one 'a-circumflex + euro' marker
    df = spark.createDataFrame(
        [
            (1, "clean ascii text only"),
            (2, moji),
            (3, smart),
            (4, "bad � byte � here"),
            (5, "bell\x07 and esc\x1b"),
            (6, "tabs\tand\nnewlines\rok"),
            (7, None),
            (8, "NÃO SÃO JOÃO"),  # PT uppercase is NOT mojibake
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in doc_encoding_anomalies(df).collect()}
    assert got[1].suspect is False and got[1].anomaly_ratio == 0.0
    assert got[2].n_mojibake == 3 and got[2].suspect is True
    assert got[3].n_mojibake == 1
    assert got[4].n_replacement == 2 and got[4].suspect is True
    assert got[5].n_control == 2 and got[5].suspect is True
    assert got[6].n_control == 0 and got[6].suspect is False
    assert got[7].n_chars == 0 and got[7].suspect is False
    # ADVICE r12: bare A-tilde before an ASCII letter must not count --
    # a short clean Portuguese doc is no longer flagged suspect.
    assert got[8].n_mojibake == 0 and got[8].suspect is False


def test_encoding_anomalies_pair_pattern_engine_parity(spark, tmp_path):
    """Java regex vs RE2 on the mojibake PAIR pattern over planted text
    covering both branches (real pairs, Portuguese false-positive bait,
    mangled smart punctuation) -- the sf corpus is clean ASCII so the
    oracle differential never exercises the marker (ADVICE r12)."""
    import duckdb

    from kafkastreamingetl_spark.operators.text import (
        doc_encoding_anomalies,
        sql_doc_encoding_anomalies,
    )

    rows = [
        (1, "NÃO estÃ¡ lÃ¡"),  # 1 bait + 2 real pairs
        (2, "Ã no-continuation Ã"),  # bare markers only: 0
        (3, "â€œquotedâ€ then Ã©"),  # 2 smart + 1 pair
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_spark = sorted(tuple(r) for r in doc_encoding_anomalies(df).collect())

    pq = str(tmp_path / "docs.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    got_duck = sorted(
        tuple(r)
        for r in con.execute(sql_doc_encoding_anomalies()).fetchall()
    )
    assert got_spark == got_duck
    by_id = {t[0]: t for t in got_spark}
    assert by_id[1][3] == 2 and by_id[2][3] == 0 and by_id[3][3] == 3


# ---------------------------------------------------------------------------
# LSH parameter planner (round 12)
# ---------------------------------------------------------------------------


def test_lsh_param_planner_matches_python_reference(spark):
    import math

    from kafkastreamingetl_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        lsh_param_planner,
    )

    got = {r.s_centi: r for r in lsh_param_planner(spark).collect()}
    assert len(got) == 100
    assert all(r.bands == LSH_BANDS and r.rows == LSH_ROWS for r in got.values())

    def half_up(x):
        return math.floor(x + 0.5)

    for s_centi, r in got.items():
        s = s_centi / 100.0
        # rebuild exactly: s*s*...*s left-assoc, then (1-p)^b left-assoc
        pb = s
        for _ in range(LSH_ROWS - 1):
            pb = pb * s
        pn = 1.0 - pb
        acc = pn
        for _ in range(LSH_BANDS - 1):
            acc = acc * pn
        expected = half_up((1.0 - acc) * 1_000_000.0)
        assert r.p_candidate_micro == expected, (s_centi, r.p_candidate_micro, expected)
        assert r.is_above_half == (expected > 500_000)

    # curve invariants: monotone nondecreasing, pinned endpoints, and the
    # analytic half-power threshold s* = (1/b)^(1/r) sits where the flag flips
    ps = [got[i].p_candidate_micro for i in range(1, 101)]
    assert all(a <= b for a, b in zip(ps, ps[1:]))
    assert got[100].p_candidate_micro == 1_000_000
    assert got[1].p_candidate_micro < 1_000
    # (1/b)^(1/r) is the TEXTBOOK approximation of the crossover, not the
    # exact half-power point — at small b they differ visibly (b=4, r=3:
    # exact 0.55 vs approx 0.63), which is itself worth pinning: anyone
    # tuning from the approximation alone overshoots the threshold.
    s_star = (1.0 / LSH_BANDS) ** (1.0 / LSH_ROWS)
    flip = min(i for i in range(1, 101) if got[i].is_above_half)
    assert 1 < flip < 100
    assert abs(flip / 100.0 - s_star) <= 0.10


# ---------------------------------------------------------------------------
# hashed-feature quality classifier (round 13, final cohort)
# ---------------------------------------------------------------------------


def test_quality_classifier_matches_python_reference(spark):
    """The Spark fold must equal a plain-Python replay of the SAME model:
    md5 bucket -> literal milli-weight -> integer sum -> sign keep."""
    import math

    from kafkastreamingetl_spark.functions import py_hash60
    from kafkastreamingetl_spark.operators.text import (
        QCLF_BUCKETS,
        QCLF_WEIGHTS_MILLI,
        quality_classifier_score,
    )

    docs = [(1, "the quick brown fox"), (2, "zzz"), (3, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in quality_classifier_score(df).collect()}
    for doc_id, text in docs:
        toks = (text or "").split(" ")
        score = sum(
            QCLF_WEIGHTS_MILLI[py_hash60(t) % QCLF_BUCKETS] for t in toks
        )
        r = got[doc_id]
        assert r.n_tokens == len(toks)
        assert r.score_milli == score
        z = score / (1000.0 * len(toks))
        assert r.prob_micro == round(1e6 / (1.0 + math.exp(-z)))
        assert r.keep is (score >= 0)


def test_batch_contamination_diff_planted(spark):
    """Planted batch (doc_id%10==9): one verbatim index copy, one doc
    sharing a 13-gram run with an index doc, one clean doc."""
    from kafkastreamingetl_spark.operators.dedup import (
        batch_contamination_diff,
    )

    passage = " ".join(f"w{i}" for i in range(13))  # exactly one 13-gram
    rows = [
        (1, "verbatim copy of this exact text"),
        (2, f"index doc embedding {passage} inside longer prose"),
        (3, "unrelated index content entirely"),
        (9, "verbatim copy of this exact text"),          # exact dup
        (19, f"batch doc quoting {passage} verbatim too"),  # gram collision
        (29, "completely novel batch material here"),       # clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in batch_contamination_diff(df).collect()}
    assert set(got) == {9, 19, 29}
    assert got[9].exact_dup is True and got[9].contaminated is True
    assert got[19].exact_dup is False
    assert got[19].n_gram_collisions == 1 and got[19].contaminated is True
    assert got[29].exact_dup is False and got[29].n_gram_collisions == 0
    assert got[29].contaminated is False
