"""Deduplication operators for LLM-data-pipeline workloads over `documents`.

Three tiers, all bucketed — **never all-pairs** (an O(n²) crossJoin is dead
on arrival at 100 TB):

- **exact**: content-hash groupBy — one shuffle on the 60-bit hash, keeps a
  deterministic survivor per group.
- **near-dup candidates**: MinHash-LSH banding — per-doc signatures are a
  pure projection (no shuffle); candidate pairs come from a self-equi-join
  on (band, signature), which Catalyst executes as a hash join whose build
  side is only ever *bucket-mates*. Shuffle volume is O(n · bands), not
  O(n²).
- **near-dup verified**: exact n-gram Jaccard, computed only for LSH
  candidates (the cheap set), by joining the shingle sets back on doc_id.

MinHash parameters (12 hashes = 4 bands × 3 rows) target the classic LSH
S-curve threshold (1/b)^(1/r) ≈ 0.63 Jaccard. Hash family is
``(a·x + b) mod P`` over 60-bit shingle hashes reduced mod P; P is prime and
> 2³², coefficients a < 2³⁰ keep every product inside a signed 64-bit long
(no overflow on any engine). Coefficients are fixed literals so the DuckDB
oracle twin reproduces signatures bit-for-bit.

The reference's dedup surface is row-key based (``dropDuplicates`` on
event_id, reference spark/app.py:79; pandas drop_duplicates,
airflow/dags/kafka_spark_etl.py:93); the content-hash and LSH tiers are the
north-star extension (BASELINE.json; SURVEY.md §7.1 step 6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import SessionMemo, ensure_parallelism, hash60, sql_hash60
from .cleaning import dedup_deterministic
from .text import (
    gram_strings,
    shingle_hashes,
    simhash_from_hashes,
    sql_gram_strings_over_w,
    sql_shingle_hashes_over_w,
    sql_tokens,
)

# LSH parameters — fixed literals shared verbatim by Spark + oracle SQL.
MINHASH_P = 4294967311  # prime > 2^32
MINHASH_COEFFS: tuple[tuple[int, int], ...] = (
    (1064082031, 797605564),
    (573612697, 1944694864),
    (145609951, 861958243),
    (703471044, 4077954476),
    (1071644562, 4226421251),
    (126328945, 2355650359),
    (848272349, 461793307),
    (879404501, 2960065950),
    (263703426, 175932789),
    (986599566, 1910390390),
    (765224311, 4172901075),
    (332297311, 1940697599),
)
LSH_BANDS = 4
LSH_ROWS = 3
assert len(MINHASH_COEFFS) == LSH_BANDS * LSH_ROWS

# Persisted shingle-feature frames keyed by plan semanticHash — see
# :func:`shingle_features`.
_FEATS_MEMO = SessionMemo(8, persisted=True)

# Resolved cluster-label frames (checkpoint-backed) keyed by (plan
# semanticHash, threshold) — see :func:`neardup_clusters`.
_CLUSTERS_MEMO = SessionMemo(8)


# ---------------------------------------------------------------------------
# exact dedup by content hash
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep one deterministic survivor (min id) per identical content.

    The hash routes rows to reducers (fixed-width shuffle KEY), but the
    dedup group is ``(hash, content)`` — a 60-bit birthday collision between
    two *different* documents (expected in the thousands at 10¹¹ docs)
    therefore cannot merge them; colliding-but-distinct texts form separate
    groups on the same reducer. The full row crosses the exchange either
    way, so the extra grouping column costs nothing. Survivor choice is the
    minimum ``doc_id`` (reproducible, oracle-expressible as
    ``QUALIFY row_number() = 1``).
    """
    hashed = ensure_parallelism(df).withColumn("_h", hash60(F.col("text")))
    return dedup_deterministic(hashed, ["_h", "text"], [F.asc("doc_id")]).drop("_h")


def sql_exact_dedup() -> str:
    return f"""
    SELECT * FROM documents
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY {sql_hash60('text')}, text
        ORDER BY doc_id ASC NULLS FIRST
    ) = 1
    """


def incremental_exact_dedup(base: DataFrame, increment: DataFrame) -> DataFrame:
    """The production shape of exact dedup: a NEW batch deduped against an
    already-deduplicated base WITHOUT reprocessing the base — rows of
    ``increment`` survive iff their content appears nowhere in ``base``
    and they are the first (min id) occurrence within the increment.

    Scale shape: the base collapses to its distinct (hash, content) set
    via a map-side-combined aggregation before the anti-join — at a daily
    cadence the increment is orders of magnitude smaller than the base,
    so AQE broadcasts the increment side of the probe or shuffles hashes
    only, never base payloads. ``streaming.alltime_dedup_sink`` keeps
    the same (hash, content) set as a persisted tagged index, so the
    streaming form never rescans the base at all (the idiomatic
    incremental form of the reference's whole-corpus dropDuplicates,
    reference spark/app.py:79).

    The join key includes the content alongside the 60-bit hash, so a
    birthday collision between different documents cannot suppress a
    genuinely new one — identical discipline to :func:`exact_dedup`.
    """
    seen = (
        base.select(hash60(F.col("text")).alias("_h"), F.col("text"))
        .groupBy("_h", "text")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    inc = ensure_parallelism(increment).withColumn("_h", hash60(F.col("text")))
    fresh = inc.join(seen, ["_h", "text"], "left_anti")
    return dedup_deterministic(fresh, ["_h", "text"], [F.asc("doc_id")]).drop("_h")


def sql_incremental_exact_dedup(base_pred: str, inc_pred: str) -> str:
    """DuckDB twin of :func:`incremental_exact_dedup` where base and
    increment are predicate-split slices of one table."""
    return f"""
    WITH seen AS (
        SELECT DISTINCT {sql_hash60('text')} AS h, text
        FROM documents WHERE {base_pred}
    ),
    inc AS (
        SELECT *, {sql_hash60('text')} AS h
        FROM documents WHERE {inc_pred}
    ),
    fresh AS (
        SELECT inc.* FROM inc
        ANTI JOIN seen ON inc.h = seen.h AND inc.text = seen.text
    )
    SELECT * EXCLUDE (h) FROM fresh
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY h, text ORDER BY doc_id ASC NULLS FIRST
    ) = 1
    """


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------


def _minhash_sql(hs_expr: str, a: int, b: int) -> str:
    """Spark-SQL text of min over the feature set of (a·(x mod P) + b)
    mod P; null if empty. Rendered as TEXT so callers can concatenate all
    12 functions into ONE ``F.expr`` parse: the Column-composition form
    (``F.transform`` + lambda + ``F.array_min``) costs ~22 ms of py4j
    round trips per function — 0.27 s per signature build, paid 1-2x by
    every lane in the dedup family (measured r16). Unsuffixed integer
    literals parse to the same int/bigint types ``F.lit`` produced, so
    the arithmetic (including 64-bit wraparound behavior) is unchanged."""
    return (
        f"array_min(transform({hs_expr}, x -> "
        f"({a} * (x % {MINHASH_P}) + {b}) % {MINHASH_P}))"
    )


def shingle_features(df: DataFrame) -> DataFrame:
    """(id, _hs): per-doc shingle-hash sets, persisted (H3 cache).

    Persisting here is load-bearing twice over:

    - *plan quality*: Catalyst collapses projections into downstream
      ``Generate``/join operators, re-evaluating the md5 shingle pipeline
      once per minhash function (12×) and once per self-join side (2×) —
      measured 5-10× slower at sf0.1. The cache is a materialization
      barrier: shingles are hashed exactly once per document.
    - *reuse*: candidate generation and Jaccard verification both consume
      the same feature sets; MEMORY_AND_DISK keeps them resident across the
      LSH join and the verify joins without recomputation, spilling
      gracefully when executors are tight (the set is ~8 bytes × shingles
      per doc — orders of magnitude smaller than the corpus text).

    Callers composing several dedup stages should build this once and pass
    it to each stage via the ``feats=`` parameter. Repeated calls for the
    SAME (session, input plan) return the SAME memoized DataFrame
    instead of persisting a fresh identical plan each time — long-lived
    sessions registering many dedup queries over one corpus hold exactly
    one cached feature set, not one per call ('Asked to cache already
    cached data' accumulation). The memo is ``_FEATS_MEMO``, a persisted
    :class:`SessionMemo`: LRU-bounded, evicted entries are unpersisted. An external
    ``spark.catalog.clearCache()`` (bench.py between queries) simply drops
    the cached blocks — the memoized plan re-persists on next use.

    Deliberately NO filter on the feature set here: a predicate over the
    (huge) shingle expression gets pushed below the projection by Catalyst
    and re-evaluated as an interpreted scan-side filter — measured ~25×
    slower than the projection itself at sf0.1. Short documents keep an
    empty ``_hs`` and are excluded downstream by a cheap predicate on the
    materialized signature (see :func:`minhash_signatures`).
    """
    return _FEATS_MEMO.get(
        df.sparkSession,
        (df.semanticHash(),),
        lambda: ensure_parallelism(df).select(
            F.col("doc_id"), shingle_hashes("text").alias("_hs")
        ),
    )


def minhash_signatures(df: DataFrame, *, feats: DataFrame | None = None) -> DataFrame:
    """(id, band, sig): one row per document per LSH band.

    Projection + ``posexplode`` over the cached feature sets —
    embarrassingly parallel, no shuffle. Documents too short to shingle
    (< SHINGLE_N tokens) are dropped: their minhashes are all null, so the
    band signature concatenates to the empty string — filtered *after* the
    explode, where the predicate touches a materialized small column
    instead of re-deriving the shingle pipeline (see
    :func:`shingle_features`).
    """
    feats = feats if feats is not None else shingle_features(df)
    # The whole 4-band × 3-row signature array as ONE SQL parse (see
    # _minhash_sql) — node-identical to the previous F.array/F.concat_ws
    # composition, ~0.3 s less driver wall per construction.
    band_sqls = [
        "concat_ws('-', "
        + ", ".join(
            f"cast({_minhash_sql('_hs', a, b)} as string)"
            for a, b in MINHASH_COEFFS[k * LSH_ROWS : (k + 1) * LSH_ROWS]
        )
        + ")"
        for k in range(LSH_BANDS)
    ]
    bands = F.expr("array(" + ", ".join(band_sqls) + ")")
    return feats.select(F.col("doc_id"), F.posexplode(bands).alias("band", "sig")).filter(
        F.col("sig") != ""
    )


def lsh_candidate_pairs(df: DataFrame, *, feats: DataFrame | None = None) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one band signature.

    Self-equi-join on (band, sig): Spark shuffles both sides on the band
    signature — each bucket only meets its own bucket-mates, so the join
    fan-out is bounded by bucket size, not corpus size. Both sides read the
    same cached feature sets (see :func:`shingle_features`). The final
    ``dropDuplicates`` collapses pairs that collide in multiple bands.
    """
    sigs = minhash_signatures(df, feats=feats)
    a = sigs.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b = sigs.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )


def _sql_minhash_exprs() -> list[str]:
    return [
        f"list_min([({a} * (x % {MINHASH_P}) + {b}) % {MINHASH_P} for x in hs])"
        for a, b in MINHASH_COEFFS
    ]


def _sql_sigs_cte(table: str, text_col: str, prefix: str = "") -> str:
    """CTE chain toks/feats/mhs/sigs deriving per-doc band signatures;
    ``prefix`` renames the chain so one oracle can derive signatures for
    two different slices (incremental dedup) without CTE collisions."""
    mh = _sql_minhash_exprs()
    sig_expr = "concat_ws('-', " + ", ".join(
        f"mh[band * {LSH_ROWS} + {j + 1}]::VARCHAR" for j in range(LSH_ROWS)
    ) + ")"
    band_ids = ", ".join(str(k) for k in range(LSH_BANDS))
    p = prefix
    return f"""
    {p}toks AS (
        SELECT doc_id, {sql_tokens(text_col)} AS w FROM {table}
    ),
    {p}feats AS (
        SELECT doc_id, {sql_shingle_hashes_over_w()} AS hs FROM {p}toks
    ),
    {p}mhs AS (
        SELECT doc_id, [{", ".join(mh)}] AS mh FROM {p}feats WHERE len(hs) > 0
    ),
    {p}sigs AS (
        SELECT doc_id, band, {sig_expr} AS sig
        FROM {p}mhs CROSS JOIN (SELECT unnest([{band_ids}]) AS band) b
    )
    """


def sql_minhash_signatures() -> str:
    return f"WITH {_sql_sigs_cte('documents', 'text')} SELECT doc_id, band::INT AS band, sig FROM sigs"


def sql_lsh_candidate_pairs() -> str:
    return f"""
    WITH {_sql_sigs_cte('documents', 'text')}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
    WHERE a.doc_id < b.doc_id
    """


# ---------------------------------------------------------------------------
# verified near-dup pairs: candidates + exact n-gram Jaccard
# ---------------------------------------------------------------------------


def neardup_pairs(
    df: DataFrame, *, min_jaccard: float = 0.0, feats: DataFrame | None = None
) -> DataFrame:
    """LSH candidates with exact shingle-set Jaccard similarity.

    Verification joins the (small) candidate-pair set back to the per-doc
    shingle sets twice — both joins are key-equi on doc id against the
    *cached* feature sets (one shingle-hash pass total for candidates +
    verification), and the pair table is orders of magnitude smaller than
    all-pairs. Jaccard is |A∩B| / |A∪B| over distinct shingle hashes: one
    double division of two exact ints, bit-identical across engines.
    """
    feats = (
        feats if feats is not None else shingle_features(df)
    )
    cands = lsh_candidate_pairs(df, feats=feats)
    fa = feats.select(F.col("doc_id").alias("doc_a"), F.col("_hs").alias("hs_a"))
    fb = feats.select(F.col("doc_id").alias("doc_b"), F.col("_hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size(F.array_union("hs_a", "hs_b"))
    return (
        cands.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(min_jaccard))
    )


def sql_neardup_pairs() -> str:
    return f"""
    WITH {_sql_sigs_cte('documents', 'text')},
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(x.hs, y.hs))::DOUBLE
             / len(list_distinct(list_concat(x.hs, y.hs))) AS jaccard
    FROM cands c
    JOIN feats x ON c.doc_a = x.doc_id
    JOIN feats y ON c.doc_b = y.doc_id
    WHERE len(list_intersect(x.hs, y.hs))::DOUBLE
            / len(list_distinct(list_concat(x.hs, y.hs))) >= 0.0
    """


DECON_MIN_JACCARD = 0.5


def eval_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    train_feats: DataFrame | None = None,
    eval_feats: DataFrame | None = None,
) -> DataFrame:
    """(train_doc, eval_doc, jaccard): benchmark decontamination — training
    documents that near-duplicate an evaluation set. The training-pipeline
    op that keeps eval numbers honest: any train doc sharing an LSH band
    with an eval doc is verified by exact shingle Jaccard, and survivors
    are the contamination report (feed them to an anti-join to scrub).

    Scale shape: the eval set is benchmarks-sized, so its band signatures
    BROADCAST — the train corpus streams past them without a shuffle of
    its own rows (candidates carry ids only), and the Jaccard verify joins
    the candidate pairs back to both cached feature sets. Cross-set by
    construction: no self-pairs, no a<b dedup needed — each (train, eval)
    candidate surfaces once per band hit and is collapsed by
    dropDuplicates before verification.

    ``train_feats`` / ``eval_feats``: callers whose train and eval sides
    are predicate-split slices of ONE table should pass filtered views of
    that table's single :func:`shingle_features` frame — one corpus
    shingle pass and one persisted cache instead of two (r16; the default
    builds a separate feature set per side, correct for genuinely
    distinct tables).
    """
    tf = (
        train_feats
        if train_feats is not None
        else shingle_features(train)
    )
    ef = (
        eval_feats
        if eval_feats is not None
        else shingle_features(eval_df)
    )
    tsig = minhash_signatures(train, feats=tf)
    esig = minhash_signatures(eval_df, feats=ef)
    cands = (
        tsig.select(F.col("doc_id").alias("train_doc"), "band", "sig")
        .join(
            F.broadcast(esig.select(F.col("doc_id").alias("eval_doc"), "band", "sig")),
            ["band", "sig"],
        )
        .select("train_doc", "eval_doc")
        .dropDuplicates()
    )
    fa = tf.select(F.col("doc_id").alias("train_doc"), F.col("_hs").alias("hs_a"))
    fb = ef.select(F.col("doc_id").alias("eval_doc"), F.col("_hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size(F.array_union("hs_a", "hs_b"))
    return (
        cands.join(fa, "train_doc")
        .join(F.broadcast(fb), "eval_doc")
        .select(
            "train_doc",
            "eval_doc",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(DECON_MIN_JACCARD))
    )


def sql_eval_contamination(train_pred: str, eval_pred: str) -> str:
    """DuckDB twin of :func:`eval_contamination` where train and eval are
    predicate-split slices of one table."""
    jac = (
        "len(list_intersect(x.hs, y.hs))::DOUBLE"
        " / len(list_distinct(list_concat(x.hs, y.hs)))"
    )
    return f"""
    WITH {_sql_sigs_cte('documents', 'text')},
    cands AS (
        SELECT DISTINCT a.doc_id AS train_doc, b.doc_id AS eval_doc
        FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
        WHERE (a.doc_id {train_pred}) AND (b.doc_id {eval_pred})
    )
    SELECT c.train_doc, c.eval_doc, {jac} AS jaccard
    FROM cands c
    JOIN feats x ON c.train_doc = x.doc_id
    JOIN feats y ON c.eval_doc = y.doc_id
    WHERE {jac} >= {DECON_MIN_JACCARD}
    """


def neardup_pairs_containment(df: DataFrame) -> DataFrame:
    """LSH candidates scored by shingle-set CONTAINMENT: |A∩B| / min(|A|,|B|).

    Symmetric Jaccard under-scores subset duplication — a page embedded
    verbatim inside a longer page has Jaccard ≈ |small|/|big| (low) but
    containment ≈ 1.0. Web-scrape dedup needs both lenses: Jaccard for
    mutual near-dups, containment for wrapper/boilerplate inclusion. Same
    bucketed candidate set and cached features as :func:`neardup_pairs`;
    only the scoring expression differs.
    """
    feats = shingle_features(df)
    cands = lsh_candidate_pairs(df, feats=feats)
    fa = feats.select(F.col("doc_id").alias("doc_a"), F.col("_hs").alias("hs_a"))
    fb = feats.select(F.col("doc_id").alias("doc_b"), F.col("_hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    smaller = F.least(F.size("hs_a"), F.size("hs_b"))
    return (
        cands.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / smaller).alias("containment"),
        )
        .filter(F.col("containment") >= F.lit(0.0))
    )


def sql_neardup_pairs_containment() -> str:
    return f"""
    WITH {_sql_sigs_cte('documents', 'text')},
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(x.hs, y.hs))::DOUBLE
             / least(len(x.hs), len(y.hs)) AS containment
    FROM cands c
    JOIN feats x ON c.doc_a = x.doc_id
    JOIN feats y ON c.doc_b = y.doc_id
    WHERE len(list_intersect(x.hs, y.hs))::DOUBLE
            / least(len(x.hs), len(y.hs)) >= 0.0
    """


# ---------------------------------------------------------------------------
# SimHash banding: the second (cheaper) near-dup path
# ---------------------------------------------------------------------------

# 60-bit fingerprint split into 4 bands x 15 bits. With max_hamming = bands-1
# the pigeonhole principle makes banding EXACT, not approximate: any pair
# within Hamming distance 3 differs in at most 3 bands, so at least one band
# matches and the pair is guaranteed to surface. The candidate join therefore
# returns precisely {pairs : hamming(simhash_a, simhash_b) <= max_hamming} —
# oracle-checkable with no recall caveat.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15
SIMHASH_MAX_HAMMING = SIMHASH_BANDS - 1
assert SIMHASH_BANDS * SIMHASH_BAND_BITS == 60  # hash60 width
_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1


def simhash_candidate_pairs(df: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs within ``SIMHASH_MAX_HAMMING`` SimHash bits.

    The cheap near-dup path: one 8-byte fingerprint per document (vs 12
    minhashes + shingle sets), banded self-equi-join on (band, band value)
    exactly like the MinHash LSH join — shuffle O(n · bands), never
    all-pairs. The Hamming filter (``bit_count(a XOR b)``) runs after the
    bucket join on fingerprints already in hand, so verification costs one
    integer op per candidate — no second join back to feature sets, which
    is what makes this tier cheaper than MinHash+Jaccard.

    With ``SIMHASH_MAX_HAMMING = SIMHASH_BANDS - 1`` the result is
    EXACT (pigeonhole — see the constants above). Raising it beyond that
    trades recall for reach: more-distant pairs surface only when their
    differing bits cluster into few bands. Empty-shingle
    documents (< SHINGLE_N tokens) are excluded — their all-zero
    fingerprints would otherwise pairwise-collide every short doc into one
    giant skewed bucket.
    """
    feats = shingle_features(df)
    fps = feats.filter(F.size("_hs") > 0).select(
        F.col("doc_id"), simhash_from_hashes(F.col("_hs")).alias("simhash")
    )
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS).bitwiseAND(
                F.lit(_BAND_MASK)
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    bands = fps.select(
        "doc_id", "simhash", F.posexplode(band_vals).alias("band", "bval")
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "bval"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "band", "bval"
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["band", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(hamming <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
    )


def sql_simhash_candidate_pairs() -> str:
    from .text import sql_simhash_over_hs

    band_ids = ", ".join(str(b) for b in range(SIMHASH_BANDS))
    return f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens('text')} AS w FROM documents
    ),
    feats AS (
        SELECT doc_id, {sql_shingle_hashes_over_w()} AS hs FROM toks
    ),
    fps AS (
        SELECT doc_id, {sql_simhash_over_hs()} AS simhash
        FROM feats WHERE len(hs) > 0
    ),
    bands AS (
        SELECT doc_id, simhash, b.band,
               (simhash >> (b.band * {SIMHASH_BAND_BITS})) & {_BAND_MASK} AS bval
        FROM fps CROSS JOIN (SELECT unnest([{band_ids}]) AS band) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.simhash AS sh_a, b.simhash AS sh_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval
        WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b))::INT AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_MAX_HAMMING}
    """


# ---------------------------------------------------------------------------
# cluster resolution: verified pairs -> connected components -> dedup corpus
# ---------------------------------------------------------------------------

# Default verification threshold for treating an LSH-verified pair as a true
# duplicate edge. Above the LSH S-curve midpoint (~0.63 for 4x3 banding), so
# the candidate generator has decent recall at this strength.
NEARDUP_MIN_JACCARD = 0.6


def _large_star(e: DataFrame) -> DataFrame:
    """Kiveris large-star: every node u computes m = min(Γ(u) ∪ {u}) and
    reconnects its STRICTLY LARGER neighbors to m. One symmetrize + one
    groupBy + one join; per input undirected edge exactly one output edge,
    endpoint sum non-increasing (equality ⟺ the op is the identity)."""
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("_m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Kiveris small-star: edges directed larger→smaller; every node u
    connects its smaller neighborhood (and itself) to that neighborhood's
    minimum m. Endpoint sum strictly decreases unless every node has at
    most one smaller neighbor (a star), where it is the identity."""
    d = e.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    mins = d.groupBy("u").agg(F.min("v").alias("_m"))
    rewired = (
        d.join(mins, "u")
        .filter(F.col("v") != F.col("_m"))
        .select(F.col("v").alias("src"), F.col("_m").alias("dst"))
    )
    roots = mins.select(F.col("u").alias("src"), F.col("_m").alias("dst"))
    return rewired.union(roots).distinct()


def connected_components(
    edges: DataFrame, *, src_col: str = "doc_a", dst_col: str = "doc_b"
) -> DataFrame:
    """(node, cluster_id): connected components by alternating
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond"); ``cluster_id`` is the
    component's minimum node id.

    Each round applies large-star then small-star — pure groupBy+join
    rounds that provably preserve connectivity and contract every
    component toward a star centered on its minimum node in **O(log n)
    rounds even for path-shaped graphs** (the previous min-label
    propagation needed O(diameter) rounds, which a chain of template docs
    with drifting dates could stretch to max_iter — VERDICT r6 item 4;
    tests/test_text_dedup.py plants a 64-node chain and asserts the
    logarithmic bound). LSH near-dup graphs are overwhelmingly 2-3 node
    clusters, so typical convergence is still 1-2 rounds — the alternation
    costs nothing there and removes the adversarial tail.

    Convergence witness: (edge count, endpoint sum as decimal). Both ops
    emit, per input edge, the same edge or one whose endpoint sum is
    strictly smaller (minima substitution), and ``distinct`` only shrinks
    — so an unchanged (count, sum) pair means the round was the identity,
    i.e. every component is a star and labels can be read off the edges.
    One cheap scalar agg per round, no row-level diff join.

    Materialization discipline (this is where iterative graph algorithms
    on Spark go wrong): the input edge list is ``localCheckpoint``-ed ONCE
    before the loop (otherwise every round re-executes the upstream LSH
    candidate + verify pipeline), and each round's edge set uses a LAZY
    ``localCheckpoint`` — the witness agg is the action that materializes
    it, so each round costs one job and lineage never self-compounds. On a
    real cluster with executor-loss concerns, swap for reliable
    ``checkpoint()`` on a durable dir (same call shape).

    Only nodes with ≥ 1 edge appear in the output — singletons are their
    own cluster by definition and callers (``neardup_dedup``) treat absence
    as survival, so the label table stays proportional to the *duplicate*
    set, not the corpus.

    After each call, ``connected_components.last_rounds`` holds the number
    of large+small rounds the final call ran (test/telemetry hook).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    witness_aggs = [
        F.count(F.lit(1)),
        F.sum((F.col("src") + F.col("dst")).cast("decimal(38,0)")),
    ]
    witness = tuple(e.agg(*witness_aggs).collect()[0])
    connected_components.last_rounds = 0
    if witness[0] == 0:
        return e.select(F.col("src").alias("node"), F.col("dst").alias("cluster_id"))
    for i in range(25):
        e_next = _small_star(_large_star(e)).localCheckpoint(eager=False)
        new_witness = tuple(e_next.agg(*witness_aggs).collect()[0])
        e, prev, witness = e_next, witness, new_witness
        connected_components.last_rounds = i + 1
        if new_witness == prev:
            break
    else:
        raise RuntimeError("connected_components did not converge in 25 rounds")
    # fixpoint = disjoint stars: every edge points node -> component min;
    # the root itself only appears on the dst side
    return (
        e.select(F.col("src").alias("node"), F.col("dst").alias("label"))
        .union(e.select(F.col("dst").alias("node"), F.col("dst").alias("label")))
        .groupBy("node")
        .agg(F.min("label").alias("cluster_id"))
    )


def neardup_clusters(
    df: DataFrame, *, min_jaccard: float = NEARDUP_MIN_JACCARD
) -> DataFrame:
    """(doc_id, cluster_id) for every document in ≥ 1 verified near-dup
    pair; cluster_id = min doc id of the connected component.

    Completes the dedup pipeline's semantics: LSH candidates → Jaccard
    verification → transitive closure. A≈B and B≈C land A, B, C in one
    cluster even if A and C never shared a band.

    The resolved label table is memoized per (session, input plan,
    threshold), exactly like ``shingle_features``: the closure is
    an eager iterative computation (checkpointed — ``clearCache`` does not
    drop it), and a session composing clusters + dedup corpus + downstream
    pipelines over one corpus should resolve components once, not once per
    consumer.
    """

    def build() -> DataFrame:
        pairs = neardup_pairs(df, min_jaccard=min_jaccard).select("doc_a", "doc_b")
        return connected_components(pairs).select(
            F.col("node").alias("doc_id"), "cluster_id"
        )

    return _CLUSTERS_MEMO.get(
        df.sparkSession,
        (df.semanticHash(), round(min_jaccard, 9)),
        build,
    )


def neardup_dedup(
    df: DataFrame, *, min_jaccard: float = NEARDUP_MIN_JACCARD
) -> DataFrame:
    """The deduplicated corpus at near-dup strength: one canonical survivor
    (the min-id member) per duplicate cluster, all singletons untouched.

    End-to-end twin of the reference's row-dropping dedup (reference
    spark/app.py:79 drops rows, it doesn't report pairs) at near-duplicate
    strength. The anti-join's right side is only the *non-survivors* —
    proportional to the duplicate fraction, not the corpus — so AQE
    broadcasts it in the common case and the corpus never reshuffles.
    """
    clusters = neardup_clusters(df, min_jaccard=min_jaccard)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return df.join(losers, "doc_id", "left_anti")


def _sql_components_ctes(
    table: str, text_col: str, min_jaccard: float
) -> str:
    """Shared recursive-CTE chain: pairs → symmetric edges → min-label
    closure (``reach`` enumerates every (node, reachable node); MIN over it
    is the component min — the same fixpoint the Spark loop computes)."""
    jac = (
        "len(list_intersect(x.hs, y.hs))::DOUBLE"
        " / len(list_distinct(list_concat(x.hs, y.hs)))"
    )
    return f"""
    {_sql_sigs_cte(table, text_col)},
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM cands c
        JOIN feats x ON c.doc_a = x.doc_id
        JOIN feats y ON c.doc_b = y.doc_id
        WHERE {jac} >= {min_jaccard}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, reach.r
        FROM edges e JOIN reach ON e.dst = reach.node
    ),
    clusters AS (
        SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
    )
    """


def sql_neardup_clusters() -> str:
    return f"""
    WITH RECURSIVE {_sql_components_ctes('documents', 'text', NEARDUP_MIN_JACCARD)}
    SELECT node AS doc_id, cluster_id FROM clusters
    """


def sql_neardup_cluster_sizes() -> str:
    """Cluster-size histogram over the recursive-CTE transitive closure —
    the second-lens oracle for the star-contraction components (a single
    wrong membership shifts two histogram cells)."""
    return f"""
    WITH RECURSIVE {_sql_components_ctes('documents', 'text', NEARDUP_MIN_JACCARD)},
    sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM clusters GROUP BY 1
    )
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY 1
    """


def sql_neardup_dedup() -> str:
    return f"""
    WITH RECURSIVE {_sql_components_ctes('documents', 'text', NEARDUP_MIN_JACCARD)}
    SELECT d.* FROM documents d
    ANTI JOIN (
        SELECT node FROM clusters WHERE node <> cluster_id
    ) l ON d.doc_id = l.node
    """


# ---------------------------------------------------------------------------
# per-document duplicated-span fraction (RefinedWeb-style dup filter)
# ---------------------------------------------------------------------------

DUPFRAC_MAX = 0.5  # drop documents with more than half their spans duplicated


def dup_ngram_doc_fraction(df: DataFrame) -> DataFrame:
    """(doc_id, n_grams, dup_grams, dup_frac, kept): the fraction of each
    document's word n-grams that appear in at least one OTHER document —
    the span-level duplication signal (RefinedWeb/MassiveText's
    duplicate-n-gram filters) that catches partially-copied documents
    MinHash under-scores (a doc that is 40% boilerplate still has Jaccard
    < threshold against any single source).

    Exact, not sketched: consumes the same persisted shingle-hash features
    as the MinHash pipeline (one md5 pass per document, shared via
    ``feats=``), counts per-shingle document frequency with one narrow
    shuffle on the 8-byte hash, joins the df back to the exploded spans
    (both sides already hash-partitioned on ``h`` — AQE reuses the
    exchange), and re-aggregates per document. Shuffles carry (hash, id)
    rows only; document text never leaves the scan. Documents too short to
    shingle have no feature rows and are absent (same contract as
    ``minhash_signatures``)."""
    feats = shingle_features(df)
    exploded = feats.select(F.col("doc_id"), F.explode("_hs").alias("h"))
    docfreq = exploded.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    dup_frac = F.col("dup_grams").cast("double") / F.col("n_grams").cast("double")
    return (
        exploded.join(docfreq, "h")
        .groupBy(F.col("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "dup_grams",
            dup_frac.alias("dup_frac"),
            (dup_frac <= DUPFRAC_MAX).alias("kept"),
        )
    )


def sql_dup_ngram_doc_fraction() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens('text')} AS w FROM documents
    ),
    feats AS (
        SELECT doc_id, {sql_shingle_hashes_over_w()} AS hs FROM toks
    ),
    e AS (
        SELECT doc_id, unnest(hs) AS h FROM feats
    ),
    dfq AS (
        SELECT h, COUNT(*) AS df FROM e GROUP BY 1
    ),
    agg AS (
        SELECT e.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS dup_grams
        FROM e JOIN dfq USING (h)
        GROUP BY 1
    )
    SELECT doc_id, n_grams, dup_grams,
           CAST(dup_grams AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac,
           CAST(dup_grams AS DOUBLE) / CAST(n_grams AS DOUBLE) <= {DUPFRAC_MAX}
             AS kept
    FROM agg
    """


# ---------------------------------------------------------------------------
# estimator quality: signature-based Jaccard vs the exact value
# ---------------------------------------------------------------------------


def minhash_jaccard_estimate(df: DataFrame) -> DataFrame:
    """(doc_a, doc_b, est_jaccard, jaccard, est_err) for every LSH
    candidate pair: the MinHash estimate (fraction of the 12 hash
    functions whose minima agree — E[est] = true Jaccard) next to the
    exact shingle-set value, signed error included.

    This is the calibration report behind the sketch-vs-exact trade the
    dedup pipeline makes at 100 TB: at full scale the verify step can run
    on signatures alone (12 ints per doc crossing the shuffle instead of
    the whole feature set), and this query measures exactly what that
    buys and costs on the live corpus. All joins are id-equi against the
    cached features; the estimate is integer compares, the exact value
    one intersect/union — both engines produce bit-identical doubles."""
    feats = shingle_features(df)
    cands = lsh_candidate_pairs(df, feats=feats)
    n_mh = len(MINHASH_COEFFS)
    mh_arr = F.expr(
        "array("
        + ", ".join(_minhash_sql("_hs", a, b) for a, b in MINHASH_COEFFS)
        + ")"
    )
    sig = feats.select(F.col("doc_id"), F.col("_hs"), mh_arr.alias("_mh"))
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("_hs").alias("hs_a"),
        F.col("_mh").alias("mh_a"),
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("_hs").alias("hs_b"),
        F.col("_mh").alias("mh_b"),
    )
    matches = F.size(
        F.filter(
            F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda v: v
        )
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size(F.array_union("hs_a", "hs_b"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches.cast("double") / F.lit(float(n_mh))).alias("est_jaccard"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .withColumn("est_err", F.col("est_jaccard") - F.col("jaccard"))
    )


def sql_minhash_jaccard_estimate() -> str:
    n_mh = len(MINHASH_COEFFS)
    return f"""
    WITH {_sql_sigs_cte('documents', 'text')},
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id < b.doc_id
    ),
    est AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len([i for i in range(1, {n_mh + 1})
                         if xm.mh[i] = ym.mh[i]]) AS DOUBLE) / {float(n_mh)}
                 AS est_jaccard,
               CAST(len(list_intersect(xf.hs, yf.hs)) AS DOUBLE)
                 / len(list_distinct(list_concat(xf.hs, yf.hs))) AS jaccard
        FROM cands c
        JOIN mhs xm ON c.doc_a = xm.doc_id
        JOIN mhs ym ON c.doc_b = ym.doc_id
        JOIN feats xf ON c.doc_a = xf.doc_id
        JOIN feats yf ON c.doc_b = yf.doc_id
    )
    SELECT doc_a, doc_b, est_jaccard, jaccard,
           est_jaccard - jaccard AS est_err
    FROM est
    """


# ---------------------------------------------------------------------------
# cross-source duplication overlap matrix
# ---------------------------------------------------------------------------


def source_overlap(documents: DataFrame) -> DataFrame:
    """Pairwise content overlap between sources: for every source pair,
    how many distinct word-``SHINGLE_N``-gram shingles they share and the
    Jaccard overlap of their shingle sets — the corpus-mixing report that
    says "source A's text is 40% contained in source B, don't weight them
    independently". Shingle-level (the MinHash feature space, same
    :func:`~.text.shingle_hashes` features the near-dup pipeline rides)
    rather than whole-document identity: it surfaces partial/boilerplate
    duplication between sources that share no byte-identical document —
    the common real-world case.

    Statistic semantics: shingles are compared by their 60-bit hash (the
    feature itself); expected colliding pairs ≈ n²/2⁶¹ inflate a count by
    ~1 at tens of millions of shingles per source — negligible for a
    mixing decision, and the oracle uses the same hash so the differential
    is still exact.

    Shape: one hash shuffle of (source, shingle) occurrences into
    per-shingle sorted source sets (collect_set dedups within and across
    documents, partial sets merge map-side); source pairs are generated
    in-row from each set — ≤ |sources choose 2| rows per shared shingle,
    bounded by the source count, NOT document count — and per-source set
    sizes fall out of the same persisted frame. Pairs with zero overlap
    produce no row (absence means disjoint).
    """
    # ONE hash-shuffle of the feature table: raw (src, shingle) occurrences
    # aggregate straight to per-shingle sorted source sets (collect_set
    # dedups, ObjectHashAggregate merges partial sets map-side), and the
    # source pairs are generated IN-ROW from each set — bounded by
    # |sources|² per shingle, never a self-join. The earlier shape paid a
    # distinct exchange, then a hash self-equi-join whose build side was
    # the whole shingle-vocabulary table (AQE broadcast it at bench scale;
    # at corpus scale it is two more full-table exchanges + a sort), plus
    # the per-source size aggregate evaluated once per join side. The
    # persisted frame (per-shingle source sets) feeds the size lookup and
    # the pair census; it is the same shingle-vocabulary scale the old
    # distinct table was, far below corpus bytes (round-11 scan audit
    # discipline).
    grouped = (
        ensure_parallelism(
            documents.filter(F.col("source").isNotNull() & F.col("text").isNotNull())
        )
        .select(
            F.col("source").alias("src"),
            F.explode(shingle_hashes(F.col("text"))).alias("h"),
        )
        .groupBy("h")
        .agg(F.array_sort(F.collect_set("src")).alias("ss"))
        .persist()
    )
    sizes = (
        grouped.select(F.explode("ss").alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    ss = F.col("ss")
    # ordered pairs (x, y) with x < y from the sorted set: element i with
    # every element after it (slice is 1-based; i is the 0-based lambda
    # index, so the tail starts at 1-based position i + 2)
    pair_structs = F.flatten(
        F.transform(
            ss,
            lambda x, i: F.transform(
                F.slice(ss, i + F.lit(2), F.size(ss)),
                lambda y: F.struct(
                    x.alias("source_a"), y.alias("source_b")
                ),
            ),
        )
    )
    shared = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("src").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("src").alias("source_b"), F.col("n").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


def sql_source_overlap() -> str:
    return f"""
    WITH hs AS (
        SELECT DISTINCT src, h
        FROM (
            SELECT source AS src,
                   unnest({sql_shingle_hashes_over_w()}) AS h
            FROM (
                SELECT source, {sql_tokens('text')} AS w
                FROM documents
                WHERE source IS NOT NULL
                  AND text IS NOT NULL
            )
        )
    ),
    sizes AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM hs GROUP BY 1
    ),
    shared AS (
        SELECT a.src AS source_a, b.src AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM hs a JOIN hs b ON a.h = b.h AND a.src < b.src
        GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           sa.n AS n_a, sb.n AS n_b, n_shared,
           CAST(n_shared AS DOUBLE)
               / CAST(sa.n + sb.n - n_shared AS DOUBLE) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.src = source_a
    JOIN sizes sb ON sb.src = source_b
    """


SOURCE_MINHASH_K = 64


def source_overlap_minhash(documents: DataFrame) -> DataFrame:
    """Sketch lane of :func:`source_overlap` — the 100 TB production path:
    one ``SOURCE_MINHASH_K``-component MinHash signature per source (k independent
    ``xxhash64(i, shingle)`` mins), pairwise agreement fraction estimates
    the shingle Jaccard. The exact lane must materialize (and, since
    round 11, cache) the full distinct (source, shingle) table —
    shingle-vocabulary-scale; this lane's whole state is k×|sources|
    bigints in ONE map-side-combined aggregate, because min over
    occurrences equals min over the distinct set (no ``distinct`` needed
    anywhere) and the per-component min is a mergeable summary. Standard
    error ≈ sqrt(J(1−J)/k) (~0.06 at k=64, J=0.5); tolerance-tested
    against the exact lane in tests/test_approx.py.

    Output: ``(source_a, source_b, n_agree, jaccard_est)`` for EVERY
    source pair — the sketch cannot distinguish zero overlap from small
    overlap, so unlike the exact lane (inner join: absence = disjoint) it
    reports all pairs and lets the consumer threshold.
    """
    sigs = (
        documents.filter(F.col("source").isNotNull() & F.col("text").isNotNull())
        .select(
            F.col("source").alias("src"),
            F.explode(shingle_hashes(F.col("text"))).alias("h"),
        )
        .groupBy("src")
        .agg(
            F.array(
                *[
                    F.min(F.xxhash64(F.lit(i), F.col("h")))
                    for i in range(SOURCE_MINHASH_K)
                ]
            ).alias("sig")
        )
    )
    # persist: sigs is only k×|sources| bigints, but it feeds BOTH sides of
    # the pair join — unpersisted, Catalyst re-inlines the explode+aggregate
    # pipeline per side and scans the corpus twice (ADVICE r11)
    sigs = sigs.persist()
    a = sigs.select(F.col("src").alias("source_a"), F.col("sig").alias("_sa"))
    b = sigs.select(F.col("src").alias("source_b"), F.col("sig").alias("_sb"))
    agree = F.aggregate(
        F.zip_with("_sa", "_sb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    # |sources|² pairs via a broadcast inequality join — the row count is
    # dimension-sized (sources², not documents²), the one place a
    # nested-loop join is the right tool
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            agree.cast("bigint").alias("n_agree"),
            (agree.cast("double") / F.lit(float(SOURCE_MINHASH_K))).alias("jaccard_est"),
        )
    )


# ---------------------------------------------------------------------------
# per-document n-gram novelty (corpus-order contribution scoring)
# ---------------------------------------------------------------------------


def doc_ngram_novelty(documents: DataFrame) -> DataFrame:
    """(doc_id, n_shingles, n_novel, novelty): how much NEW content each
    document contributes in corpus order — the fraction of its distinct
    word shingles whose first occurrence (minimum doc id over the corpus)
    is this document. A curation signal between dedup and mixing: a
    low-novelty document is mostly restatement of earlier corpus content
    even when no single earlier document is a near-duplicate of it
    (boilerplate mosaics defeat pairwise dedup; they do not defeat this).

    Shape: per-doc distinct shingle hashes (``text.shingle_hashes``, the
    same features the near-dup pipeline rides) explode to (h, doc) pairs;
    first occurrence is one map-side-combinable min per hash; one
    hash-keyed equi-join back and a per-doc count/sum. Everything shuffled
    is (60-bit hash, id) pairs — never text — and volume is linear in
    total distinct shingles, the posting-list shape. Documents too short
    to shingle (< n tokens) have no feature set and no row, the
    ``minhash_signatures`` contract.
    """
    hs = documents.filter(F.col("text").isNotNull()).select(
        F.col("doc_id"),
        F.explode(shingle_hashes(F.col("text"))).alias("h"),
    )
    first = hs.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        hs.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            F.col("doc_id"),
            "n_shingles",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty"),
        )
    )


def sql_doc_ngram_novelty() -> str:
    return f"""
    WITH hs AS (
        SELECT doc_id, unnest(hs) AS h
        FROM (
            SELECT doc_id, {sql_shingle_hashes_over_w()} AS hs
            FROM (
                SELECT doc_id, {sql_tokens('text')} AS w
                FROM documents WHERE text IS NOT NULL
            )
        )
    ),
    first AS (
        SELECT h, MIN(doc_id) AS first_doc FROM hs GROUP BY 1
    )
    SELECT hs.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN first_doc = hs.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN first_doc = hs.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM hs JOIN first USING (h)
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# exact-substring overlap: shared consecutive-token runs between documents
# ---------------------------------------------------------------------------

SUBSTRING_GRAM_N = 6  # positioned gram width (tokens); a run of consecutive
#                       matched grams of width n covers run+n-1 shared tokens
SUBSTRING_MIN_RUN = 20  # report pairs sharing >= this many consecutive tokens
SUBSTRING_MAX_GRAM_DOCS = 50  # hot-gram cap: a gram in more docs than this is
#                               boilerplate, not copying — drop before the join


# Persisted positioned-gram frames keyed by (input plan, gram width).
_GRAMS_MEMO = SessionMemo(8, persisted=True)


def positioned_gram_features(
    df: DataFrame, *, gram_n: int = SUBSTRING_GRAM_N
) -> DataFrame:
    """(doc_id, pos, gh): 1-based positioned word-``gram_n``-gram 60-bit
    hashes, persisted (H3 cache, the :func:`shingle_features` contract):
    :func:`substring_run_pairs` consumes this frame three times (the
    document-frequency cap and both self-join sides), and the persist is
    the materialization barrier that tokenizes + hashes each document
    once instead of three times. What's cached is (id, pos, hash) —
    never text."""

    def build() -> DataFrame:
        return (
            ensure_parallelism(df.filter(F.col("text").isNotNull()))
            .select(
                F.col("doc_id"),
                F.posexplode(gram_strings(F.col("text"), gram_n)).alias("pos0", "gram"),
            )
            .select(
                "doc_id",
                (F.col("pos0") + 1).cast("bigint").alias("pos"),
                hash60(F.col("gram")).alias("gh"),
            )
        )

    return _GRAMS_MEMO.get(
        df.sparkSession,
        (df.semanticHash(), gram_n),
        build,
    )


def substring_run_pairs(
    documents: DataFrame,
    *,
    gram_n: int = SUBSTRING_GRAM_N,
    min_run_tokens: int = SUBSTRING_MIN_RUN,
    max_gram_docs: int = SUBSTRING_MAX_GRAM_DOCS,
) -> DataFrame:
    """(doc_a, doc_b, n_matched_grams, longest_run_tokens): document pairs
    sharing a verbatim run of at least ``min_run_tokens`` consecutive
    tokens — EXACT-substring duplication (the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" signal), which catches the
    copied paragraph inside two otherwise-different documents that
    set-based Jaccard/MinHash under-scores (a 100-token copy inside two
    5k-token docs is Jaccard ≈ 0.01 — invisible to the near-dup tier,
    memorization fuel for a trained model).

    Suffix arrays don't distribute; positioned n-grams do. Two docs share
    a run of R consecutive tokens iff they share R−n+1 consecutive
    positioned ``n``-grams, and consecutive co-occurrence is relational:
    every matched gram pair lands on anti-diagonal ``pos_a − pos_b``, so
    maximal runs are the gaps-and-islands of ``pos_a`` within each
    (pair, diagonal) group (island id = pos_a − row_number; positions are
    unique within a group, so the numbering is deterministic). The window
    is partitioned by (doc_a, doc_b, diag) — never unpartitioned.

    Shape: one positioned-gram explode (hashes + positions shuffle, never
    text), a document-frequency cap that drops boilerplate grams BEFORE
    the self-join (each surviving 60-bit gram hash matches ≤
    ``max_gram_docs`` docs, so join fan-out per gram is ≤ cap² — bounded,
    never all-pairs), then pair-keyed aggregations. ``n_matched_grams``
    counts matched position pairs across all diagonals (within-doc gram
    repeats contribute one row per position pair, each on its own
    diagonal). Documents shorter than ``gram_n`` tokens produce no grams
    and no rows.
    """
    g = positioned_gram_features(documents, gram_n=gram_n)
    keep = (
        g.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("gram_df"))
        .filter(F.col("gram_df") <= max_gram_docs)
        .select("gh")
    )
    # persisted: the cap-filtered gram table feeds BOTH self-join sides,
    # and without the materialization barrier Catalyst inlines the whole
    # document-frequency pipeline (two exchanges, the count_distinct
    # two-phase aggregate, and a broadcast build of the surviving-gram
    # set) once per side — measured as the duplicated subplan dominating
    # this lane's wall at sf0.1 (round-15 stage profile).
    from pyspark import StorageLevel

    g = g.join(keep, "gh").persist(StorageLevel.MEMORY_AND_DISK)
    a = g.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "gh"
    )
    b = g.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "gh"
    )
    matched = (
        a.join(b, "gh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = (
        matched.withColumn("isle", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "isle")
        .agg(F.count(F.lit(1)).alias("run_grams"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            F.sum("run_grams").cast("bigint").alias("n_matched_grams"),
            (F.max("run_grams") + F.lit(gram_n - 1))
            .cast("bigint")
            .alias("longest_run_tokens"),
        )
        .filter(F.col("longest_run_tokens") >= min_run_tokens)
    )


def sql_substring_run_pairs() -> str:
    """DuckDB twin of :func:`substring_run_pairs` (same hash, same
    gaps-and-islands run decomposition)."""
    return f"""
    WITH g AS (
        SELECT doc_id,
               CAST(generate_subscripts(gs, 1) AS BIGINT) AS pos,
               {sql_hash60("unnest(gs)")} AS gh
        FROM (
            SELECT doc_id, {sql_gram_strings_over_w(SUBSTRING_GRAM_N)} AS gs
            FROM (
                SELECT doc_id, {sql_tokens('text')} AS w
                FROM documents WHERE text IS NOT NULL
            )
        )
    ),
    keep AS (
        SELECT gh FROM g GROUP BY gh
        HAVING COUNT(DISTINCT doc_id) <= {SUBSTRING_MAX_GRAM_DOCS}
    ),
    matched AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, a.pos - b.pos AS diag
        FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
        WHERE a.gh IN (SELECT gh FROM keep)
    ),
    runs AS (
        SELECT doc_a, doc_b, COUNT(*) AS run_grams
        FROM (
            SELECT doc_a, doc_b, diag,
                   pos_a - ROW_NUMBER() OVER (
                       PARTITION BY doc_a, doc_b, diag ORDER BY pos_a
                   ) AS isle
            FROM matched
        )
        GROUP BY doc_a, doc_b, diag, isle
    )
    SELECT doc_a, doc_b,
           CAST(SUM(run_grams) AS BIGINT) AS n_matched_grams,
           CAST(MAX(run_grams) + {SUBSTRING_GRAM_N - 1} AS BIGINT)
               AS longest_run_tokens
    FROM runs
    GROUP BY doc_a, doc_b
    HAVING MAX(run_grams) + {SUBSTRING_GRAM_N - 1} >= {SUBSTRING_MIN_RUN}
    """


# ---------------------------------------------------------------------------
# leakage-free train/test split (near-dup-cluster granularity)
# ---------------------------------------------------------------------------


def leakage_free_split(df: DataFrame) -> DataFrame:
    """(doc_id, group_id, split): the salted-hash train/test split drawn
    at near-duplicate-GROUP granularity — an eval set that shares a
    near-duplicate with the training side is contaminated before a
    single eval query runs, and a per-document split
    (corpus.train_test_split) plants exactly that leak whenever a
    near-dup cluster straddles the boundary. Here the hash is drawn on
    ``group_id`` = the doc's near-dup cluster label (its connected
    component's min id) or its own id for singletons, so a whole cluster
    lands on one side by construction.

    Inherits every guarantee of the per-doc split (membership a pure
    function of (salt, group); re-runs/growth/repartitioning never move
    existing groups; raising the train share only grows train) because it
    IS that split, keyed one level up.

    Scale shape: the cluster label table is proportional to the
    documents *in verified near-dup pairs* — the duplicate fraction, not
    the corpus — so the left join broadcasts under AQE and the corpus
    never reshuffles (same boundary as :func:`neardup_dedup`); the
    closure itself is the memoized :func:`neardup_clusters` computation
    every other cluster consumer shares. Output is a projection: no
    window, no extra shuffle.
    """
    from .corpus import SPLIT_BUCKETS

    clusters = neardup_clusters(df).withColumnRenamed("cluster_id", "_cl")
    grouped = (
        df.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("_cl"), F.col("doc_id")).alias("group_id"),
        )
    )
    bucket = (
        hash60(F.concat(F.lit("split:v1"), F.col("group_id").cast("string")))
        % SPLIT_BUCKETS
    )
    return grouped.select(
        "doc_id",
        "group_id",
        F.when(bucket < 80, F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def sql_leakage_free_split() -> str:
    """DuckDB twin: the same recursive-CTE transitive closure as the
    cluster oracles, left-joined to the corpus, with the split hash drawn
    on COALESCE(cluster, doc)."""
    from .corpus import SPLIT_BUCKETS

    h = sql_hash60("'split:v1' || CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR)")
    return f"""
    WITH RECURSIVE {_sql_components_ctes('documents', 'text', NEARDUP_MIN_JACCARD)}
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS group_id,
           CASE WHEN ({h}) % {SPLIT_BUCKETS} < 80
                THEN 'train' ELSE 'test' END AS split
    FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node
    """


# ---------------------------------------------------------------------------
# per-document dedup disposition (corpus-governance report)
# ---------------------------------------------------------------------------


def dedup_disposition(df: DataFrame) -> DataFrame:
    """(doc_id, status, survivor_id): per-document disposition across the
    dedup lanes — the provenance line a corpus-governance audit needs
    ("why is this document not in the training set, and which one
    replaced it"), where the dedup operators themselves only emit the
    surviving side.

    Status priority (each doc gets exactly one):
    - ``exact_dup``  — not the min-id survivor of its identical-content
      group (the :func:`exact_dedup` rule); ``survivor_id`` is that
      group's min id.
    - ``near_dup``   — in a verified near-dup cluster and not its min-id
      representative; ``survivor_id`` is the cluster label (the
      component min — the TERMINAL survivor, since the cluster min is
      the smallest id in the whole component; an exact_dup's immediate
      survivor may itself be near_dup, and its chain resolves there).
    - ``kept``       — everything else; ``survivor_id`` is itself.

    Scale shape: one window partitioned by (hash, content) — the same
    fixed-width shuffle key as :func:`exact_dedup`, collision-proof for
    the same reason — plus the memoized cluster closure every other
    cluster consumer shares, joined corpus←labels where the label side
    is proportional to the duplicate fraction (AQE-broadcast). Output is
    one row per document, three scalar columns.
    """
    w = Window.partitionBy("_h", "text")
    ex = (
        ensure_parallelism(df)
        .select("doc_id", "text")
        .withColumn("_h", hash60(F.col("text")))
        .withColumn("_ex_surv", F.min("doc_id").over(w))
    )
    clusters = neardup_clusters(df).withColumnRenamed("cluster_id", "_cl")
    joined = ex.join(clusters, "doc_id", "left")
    is_exact_dup = F.col("doc_id") != F.col("_ex_surv")
    is_near_dup = F.col("_cl").isNotNull() & (F.col("doc_id") != F.col("_cl"))
    return joined.select(
        F.col("doc_id"),
        F.when(is_exact_dup, F.lit("exact_dup"))
        .when(is_near_dup, F.lit("near_dup"))
        .otherwise(F.lit("kept"))
        .alias("status"),
        F.when(is_exact_dup, F.col("_ex_surv"))
        .when(is_near_dup, F.col("_cl"))
        .otherwise(F.col("doc_id"))
        .alias("survivor_id"),
    )


def sql_dedup_disposition() -> str:
    return f"""
    WITH RECURSIVE {_sql_components_ctes('documents', 'text', NEARDUP_MIN_JACCARD)},
    ex AS (
        SELECT doc_id,
               MIN(doc_id) OVER (
                   PARTITION BY {sql_hash60('text')}, text
               ) AS ex_surv
        FROM documents
    )
    SELECT e.doc_id,
           CASE WHEN e.ex_surv != e.doc_id THEN 'exact_dup'
                WHEN c.cluster_id IS NOT NULL AND c.cluster_id != e.doc_id
                    THEN 'near_dup'
                ELSE 'kept' END AS status,
           CASE WHEN e.ex_surv != e.doc_id THEN e.ex_surv
                WHEN c.cluster_id IS NOT NULL AND c.cluster_id != e.doc_id
                    THEN c.cluster_id
                ELSE e.doc_id END AS survivor_id
    FROM ex e LEFT JOIN clusters c ON e.doc_id = c.node
    """


# ---------------------------------------------------------------------------
# LSH band load profile: measuring the blocking-key skew before it bites
# ---------------------------------------------------------------------------


def lsh_band_load_profile(df: DataFrame) -> DataFrame:
    """Per-band load report of the MinHash-LSH blocking key: how many
    buckets the band splits the corpus into, the biggest bucket, and the
    EXACT candidate-pair volume sum over buckets of s*(s-1)/2 that the
    (band, sig) self-join will emit — the number that decides whether the
    dedup lane survives a corpus (``never all-pairs`` is only true while
    max_bucket stays bounded; a template-heavy corpus collapsing one
    signature to millions of docs turns the self-join quadratic, and THIS
    report is how that is caught before the join runs).

    Scale shape: two map-side-combined hash aggregations over the
    signature projection — groupBy (band, sig) count, then groupBy band —
    no joins, no windows. Pair volume is summed in DECIMAL(38,0) (house
    overflow rule: s*(s-1) products widen to decimal(19,0) operands) and
    emitted as DOUBLE after a /2 that is exact because every s*(s-1) is
    even. The same profile shape applies to any blocking key (SimHash
    bands, embedding buckets); MinHash bands are the registered instance.
    """
    sigs = minhash_signatures(df)
    buckets = sigs.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("s"))
    d19 = "decimal(19,0)"
    pair2 = F.col("s").cast(d19) * (F.col("s") - 1).cast(d19)
    return (
        buckets.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("s").alias("n_docs"),
            F.max("s").alias("max_bucket"),
            (F.sum(pair2).cast("double") / 2.0).alias("candidate_pairs"),
        )
        .select("band", "n_buckets", "n_docs", "max_bucket", "candidate_pairs")
    )


def sql_lsh_band_load_profile() -> str:
    return f"""
    WITH {_sql_sigs_cte('documents', 'text')},
    buckets AS (
        SELECT band, sig, COUNT(*) AS s FROM sigs GROUP BY 1, 2
    )
    SELECT band::INT AS band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(s) AS BIGINT) AS n_docs,
           CAST(MAX(s) AS BIGINT) AS max_bucket,
           CAST(SUM(CAST(s AS HUGEINT) * (s - 1)) AS DOUBLE) / 2.0
               AS candidate_pairs
    FROM buckets
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# incremental near-dup dedup: new batch vs an existing corpus
# ---------------------------------------------------------------------------


def incremental_neardup(
    base: DataFrame,
    increment: DataFrame,
    *,
    base_feats: DataFrame | None = None,
    inc_feats: DataFrame | None = None,
) -> DataFrame:
    """The production shape of NEAR-dup dedup: a new batch deduped against
    an already-deduplicated base without re-clustering the base — the
    lexical twin of :func:`incremental_exact_dedup` for the daily-ingest
    pipeline where the base is 100 TB and the increment is a day's crawl.
    A row of ``increment`` survives iff

    - no BASE document verifies as a near-dup (LSH candidates from joining
      increment signatures against base signatures, exact shingle-set
      Jaccard >= ``NEARDUP_MIN_JACCARD``), and
    - no LOWER-ID increment document verifies as a near-dup (pairwise
      first-arrival-wins — deliberately NOT the transitive closure: the
      incremental setting processes arrivals greedily, matching what the
      streaming near-dup flag sink does per batch; full-closure semantics
      remain the batch :func:`neardup_dedup`'s job).

    Scale shape: signatures on both sides are shuffle-free projections;
    the cross-corpus candidate join shuffles (band, sig) keys only — at a
    daily cadence the increment side is orders of magnitude smaller, so
    AQE broadcasts it and the BASE IS NEVER RESHUFFLED; verification joins
    touch only candidate ids. ``streaming.neardup_ingest_step`` persists
    the base's signatures and features once as a tagged index, so daily
    cost tracks the increment.
    """
    feats_b = (
        base_feats
        if base_feats is not None
        else shingle_features(base)
    )
    sigs_b = minhash_signatures(base, feats=feats_b)
    return _incremental_neardup_against(
        increment,
        sigs_b,
        feats_b.select(F.col("doc_id"), F.col("_hs")),
        NEARDUP_MIN_JACCARD,
        inc_feats=inc_feats,
    )


def sql_incremental_neardup(
    base_pred: str, inc_pred: str, *, out_cols: str = "*"
) -> str:
    """DuckDB twin of :func:`incremental_neardup` where base and increment
    are predicate-split slices of one table."""
    base_t = f"(SELECT * FROM documents WHERE {base_pred})"
    inc_t = f"(SELECT * FROM documents WHERE {inc_pred})"
    jac = (
        "len(list_intersect(i.hs, b.hs))::DOUBLE"
        " / len(list_distinct(list_concat(i.hs, b.hs)))"
    )
    jac_ii = (
        "len(list_intersect(x.hs, y.hs))::DOUBLE"
        " / len(list_distinct(list_concat(x.hs, y.hs)))"
    )
    return f"""
    WITH {_sql_sigs_cte(base_t, 'text', "b_")},
    {_sql_sigs_cte(inc_t, 'text', "i_")},
    cands AS (
        SELECT DISTINCT i.doc_id AS inc_id, b.doc_id AS base_id
        FROM i_sigs i JOIN b_sigs b ON i.band = b.band AND i.sig = b.sig
    ),
    dup_vs_base AS (
        SELECT DISTINCT c.inc_id AS doc_id
        FROM cands c
        JOIN i_feats i ON c.inc_id = i.doc_id
        JOIN b_feats b ON c.base_id = b.doc_id
        WHERE {jac} >= {NEARDUP_MIN_JACCARD}
    ),
    intra_cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM i_sigs a JOIN i_sigs b ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id < b.doc_id
    ),
    dup_within AS (
        SELECT DISTINCT c.doc_b AS doc_id
        FROM intra_cands c
        JOIN i_feats x ON c.doc_a = x.doc_id
        JOIN i_feats y ON c.doc_b = y.doc_id
        WHERE {jac_ii} >= {NEARDUP_MIN_JACCARD}
    )
    SELECT {out_cols} FROM {inc_t} inc
    WHERE inc.doc_id NOT IN (SELECT doc_id FROM dup_vs_base)
      AND inc.doc_id NOT IN (SELECT doc_id FROM dup_within)
    """


# ---------------------------------------------------------------------------
# PageRank centrality over the near-dup candidate graph
# ---------------------------------------------------------------------------

PR_MICRO = 1_000_000  # score quantization: integer micro-units
PR_ITER = 3  # fixed power-iteration count, unrolled on both engines
PR_DAMPING = 0.85


def neardup_pagerank(df: DataFrame) -> DataFrame:
    """PageRank centrality of each document in the near-dup CANDIDATE
    graph (undirected: both directions of every LSH candidate pair) after
    ``PR_ITER`` fixed power iterations — the template-hub detector: a
    boilerplate page that collides with everything accumulates score from
    its whole neighborhood, where raw degree only counts direct edges.
    Output: ``(doc_id, degree, score_micro)`` for every node with >= 1
    candidate edge.

    Iterative-algorithm discipline on Spark: the iteration count is FIXED
    and small, so the loop unrolls into one declarative plan (n_iter
    join+aggregate rounds) — no driver-side convergence loop, no
    collect(). The edge list is ``localCheckpoint``-ed lazily (the
    connected-components / rankstats pattern): every unrolled round
    references the edges, and without the pin Catalyst would inline and
    re-execute the whole signature + self-join pipeline once per round
    (observed: 4x the Generate/HashAggregate nodes in the plan). Each
    round then shuffles (node, score) pairs only. Exactness across
    engines: scores live in integer micro-units; each edge contribution
    rounds score/degree once (same IEEE double division and
    HALF_UP-for-positives round on both engines), per-node sums are exact
    BIGINT adds (order-independent), and the damped update rounds
    0.85*sum once per node per round. Every node has degree >= 1 by
    construction, so there are no dangling-mass corrections.
    """
    pairs = lsh_candidate_pairs(df)
    # Both directions of every pair via ONE explode, not a unionAll of
    # two selects: the union form inlined the whole signature + self-join
    # pipeline once per side — twice the planning work at construction
    # (this is the checkpoint's subplan) and twice the execution at
    # materialization. Same multiset of (src, dst) rows.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"),
                        F.col("doc_b").alias("dst"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"),
                        F.col("doc_a").alias("dst"),
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("node"), "deg")
    n_df = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n")))
    # one-row broadcast scalars (house pattern: bounded crossJoin)
    scores = nodes.crossJoin(n_df).select(
        "node",
        "deg",
        F.round(F.lit(float(PR_MICRO)) / F.col("n")).cast("bigint").alias(
            "score"
        ),
        F.round(F.lit((1.0 - PR_DAMPING) * PR_MICRO) / F.col("n"))
        .cast("bigint")
        .alias("base"),
    )
    for _ in range(PR_ITER):
        contrib = (
            edges.join(
                scores.select(
                    F.col("node").alias("src"), "deg", "score"
                ),
                "src",
            )
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("score").cast("double") / F.col("deg"))
                .cast("bigint")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("m"))
        )
        scores = (
            scores.select("node", "deg", "base")
            .join(contrib, "node", "left")
            .select(
                "node",
                "deg",
                "base",
                (
                    F.col("base")
                    + F.round(
                        F.lit(PR_DAMPING)
                        * F.coalesce(F.col("m"), F.lit(0)).cast("double")
                    ).cast("bigint")
                ).alias("score"),
            )
        )
    return scores.select(
        F.col("node").alias("doc_id"),
        F.col("deg").alias("degree"),
        F.col("score").alias("score_micro"),
    )


def sql_neardup_pagerank() -> str:
    """DuckDB twin: the same fixed iterations unrolled as CTEs s0..sN."""
    rounds = []
    for i in range(PR_ITER):
        prev, cur = f"s{i}", f"s{i + 1}"
        rounds.append(f"""
    c{i + 1} AS (
        SELECT e.dst AS node,
               SUM(CAST(ROUND(CAST(s.score AS DOUBLE) / s.deg) AS BIGINT))
                   AS m
        FROM edges e JOIN {prev} s ON e.src = s.node
        GROUP BY 1
    ),
    {cur} AS (
        SELECT d.node, d.deg, d.base,
               d.base + CAST(ROUND({PR_DAMPING} *
                   CAST(COALESCE(c.m, 0) AS DOUBLE)) AS BIGINT) AS score
        FROM s0 d LEFT JOIN c{i + 1} c ON d.node = c.node
    )""")
    return f"""
    WITH {_sql_sigs_cte('documents', 'text')},
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM cands
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM cands
    ),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    s0 AS (
        SELECT node, deg,
               CAST(ROUND({float(PR_MICRO)} / n) AS BIGINT) AS score,
               CAST(ROUND({(1.0 - PR_DAMPING) * PR_MICRO} / n) AS BIGINT)
                   AS base
        FROM deg CROSS JOIN nn
    ),{",".join(rounds)}
    SELECT node AS doc_id,
           CAST(deg AS BIGINT) AS degree,
           score AS score_micro
    FROM s{PR_ITER}
    """


def _incremental_neardup_against(
    increment: DataFrame,
    base_sigs: DataFrame,
    base_feats: DataFrame,
    min_jaccard: float,
    inc_feats: DataFrame | None = None,
) -> DataFrame:
    """Shared core of :func:`incremental_neardup` and the persisted-index
    loop (``streaming.neardup_ingest_step``): survivors of ``increment``
    against a base given as (band, sig, id)
    signatures + (id, shingle-set) features. ``inc_feats``: precomputed
    feature view of the increment (see :func:`eval_contamination`'s
    split-table note)."""
    feats_i = (
        inc_feats
        if inc_feats is not None
        else shingle_features(increment)
    )
    sigs_i = minhash_signatures(increment, feats=feats_i).select(F.col("doc_id").alias("inc_id"), "band", "sig")
    sigs_b = base_sigs.select(F.col("doc_id").alias("base_id"), "band", "sig")
    cands = (
        sigs_i.join(sigs_b, ["band", "sig"])
        .select("inc_id", "base_id")
        .dropDuplicates()
    )
    fi = feats_i.select(F.col("doc_id").alias("inc_id"), F.col("_hs").alias("hs_i"))
    fb = base_feats.select(F.col("doc_id").alias("base_id"), F.col("_hs").alias("hs_b"))
    jac = F.size(F.array_intersect("hs_i", "hs_b")).cast("double") / F.size(
        F.array_union("hs_i", "hs_b")
    )
    dup_vs_base = (
        cands.join(fi, "inc_id")
        .join(fb, "base_id")
        .filter(jac >= F.lit(min_jaccard))
        .select(F.col("inc_id").alias("doc_id"))
        .distinct()
    )
    dup_within = (
        neardup_pairs(increment, min_jaccard=min_jaccard, feats=feats_i)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return increment.join(dup_vs_base, "doc_id", "left_anti").join(
        dup_within, "doc_id", "left_anti"
    )


# ---------------------------------------------------------------------------
# quality-argmax survivor selection per near-dup cluster
# ---------------------------------------------------------------------------


def quality_survivor_clusters(documents: DataFrame) -> DataFrame:
    """Per near-dup cluster, the KEEP-BEST survivor instead of keep-first:
    ``(cluster_id, survivor_doc_id, survivor_distinct_tokens, n_members)``
    where the survivor maximizes lexical richness (distinct-token count,
    integer-exact cross-engine; ties break to the lowest doc id).

    Production dedup rarely wants min-id-wins (:func:`neardup_dedup`):
    among N near-copies of a page, the canonical pick is the best-quality
    member — the version without truncation or boilerplate injection.
    Scoring is any deterministic per-doc scalar; distinct-token count is
    the integer-safe default.

    Scale shape: reuses the memoized cluster labels (the CC closure runs
    once per corpus, not per consumer), the richness score is a pure
    projection fused into the corpus scan, and the argmax is ONE
    map-side-combined ``max(struct(score, −id))`` aggregate on the
    cluster key — no window over an unpartitioned frame, no second
    shuffle. Output is cluster-count-sized (duplicate clusters only).
    """
    labels = neardup_clusters(documents)
    text = F.coalesce(F.col("text"), F.lit(""))
    richness = documents.select(
        F.col("doc_id"),
        F.size(F.array_distinct(F.split(text, " ")))
        .cast("bigint")
        .alias("_ndt"),
    )
    scored = labels.join(richness, "doc_id")
    best = scored.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(
            F.struct(
                F.col("_ndt").alias("ndt"),
                (-F.col("doc_id")).alias("nid"),
            )
        ).alias("_best"),
    )
    return best.select(
        "cluster_id",
        (-F.col("_best.nid")).cast("bigint").alias("survivor_doc_id"),
        F.col("_best.ndt").alias("survivor_distinct_tokens"),
        "n_members",
    )


def sql_quality_survivor_clusters() -> str:
    """Oracle twin over the recursive-CTE transitive closure; the argmax
    via a ROW_NUMBER window — different algorithm, same answer."""
    return f"""
    WITH RECURSIVE {_sql_components_ctes('documents', 'text', NEARDUP_MIN_JACCARD)},
    rich AS (
        SELECT doc_id,
               len(list_distinct(string_split(COALESCE(text, ''), ' ')))::BIGINT
                   AS ndt
        FROM documents
    ),
    scored AS (
        SELECT c.cluster_id, c.node AS doc_id, r.ndt
        FROM clusters c JOIN rich r ON c.node = r.doc_id
    ),
    sel AS (
        SELECT cluster_id, doc_id, ndt,
               ROW_NUMBER() OVER (
                   PARTITION BY cluster_id ORDER BY ndt DESC, doc_id ASC
               ) AS rn,
               COUNT(*) OVER (PARTITION BY cluster_id) AS nm
        FROM scored
    )
    SELECT cluster_id,
           doc_id AS survivor_doc_id,
           CAST(ndt AS BIGINT) AS survivor_distinct_tokens,
           CAST(nm AS BIGINT) AS n_members
    FROM sel WHERE rn = 1
    """


# ---------------------------------------------------------------------------
# exact n-gram eval contamination (GPT-3-style 13-gram collision check)
# ---------------------------------------------------------------------------

#: the published benchmark-decontamination gram width (GPT-3 appendix C
#: used 13-gram collisions; later reports use 10-13)
NGRAM_CONTAM_N = 13


def eval_ngram_contamination(train: DataFrame, eval_df: DataFrame) -> DataFrame:
    """(train_doc, n_grams, n_collisions, collision_frac): training docs
    sharing at least one EXACT word ``NGRAM_CONTAM_N``-gram with the evaluation set —
    the published decontamination standard (13-gram collision check),
    complementing :func:`eval_contamination`'s MinHash lane: the sketch
    lane finds whole-document near-copies, this one catches a verbatim
    eval passage pasted inside an otherwise-unrelated document, with zero
    false positives by construction.

    Scale shape: the eval set is benchmark-sized, so its distinct gram
    hashes BROADCAST; the train corpus is scanned ONCE (gram hashes +
    per-doc totals ride the same explode — no second pass, no persist)
    and never shuffles its rows. The post-join aggregate shuffles only
    COLLIDING (doc, gram) pairs — contamination-sized. Gram identity via
    the shared 60-bit hash; grams are per-doc distinct, so ``count(*)``
    counts distinct colliding grams.
    """
    from .text import shingle_hashes

    text = F.coalesce(F.col("text"), F.lit(""))
    tg = ensure_parallelism(train).select(
        F.col("doc_id").alias("train_doc"),
        shingle_hashes(text, NGRAM_CONTAM_N).alias("_g"),
    )
    ex = tg.select(
        "train_doc",
        F.size("_g").cast("bigint").alias("n_grams"),
        F.explode("_g").alias("g"),
    )
    eg = F.broadcast(
        eval_df.select(F.explode(shingle_hashes(text, NGRAM_CONTAM_N)).alias("g")).distinct()
    )
    return (
        ex.join(eg, "g")
        .groupBy("train_doc")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count(F.lit(1)).alias("n_collisions"),
        )
        .select(
            "train_doc",
            "n_grams",
            "n_collisions",
            (F.col("n_collisions").cast("double") / F.col("n_grams"))
            .alias("collision_frac"),
        )
    )


def sql_eval_ngram_contamination(train_pred: str, eval_pred: str) -> str:
    """DuckDB twin over predicate-split slices of one table."""
    from .text import sql_shingle_hashes_over_w

    grams = sql_shingle_hashes_over_w(NGRAM_CONTAM_N)
    return f"""
    WITH tr AS (
        SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS w
        FROM documents WHERE doc_id {train_pred}
    ),
    ev AS (
        SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS w
        FROM documents WHERE doc_id {eval_pred}
    ),
    tg AS (
        SELECT doc_id AS train_doc,
               len({grams})::BIGINT AS n_grams,
               unnest({grams}) AS g
        FROM tr
    ),
    eg AS (SELECT DISTINCT unnest({grams}) AS g FROM ev)
    SELECT tg.train_doc,
           MAX(tg.n_grams) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_collisions,
           CAST(COUNT(*) AS DOUBLE) / MAX(tg.n_grams) AS collision_frac
    FROM tg JOIN eg ON tg.g = eg.g
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# hot-band-capped LSH candidates (worst-case join fan-out bound)
# ---------------------------------------------------------------------------

#: default posting-list cap: buckets larger than this are treated as
#: degenerate blocking keys (boilerplate bands) and skipped — the
#: production default for a web-scale corpus, far above any honest
#: near-dup cluster
LSH_MAX_BUCKET = 64


def lsh_capped_candidate_pairs(
    df: DataFrame, *, max_bucket: int = LSH_MAX_BUCKET
) -> DataFrame:
    """:func:`lsh_candidate_pairs` with a hard cap on bucket size: bands
    whose (band, sig) bucket holds more than ``max_bucket`` documents are
    EXCLUDED from candidate generation — the standard production bound on
    LSH's worst case (cap the posting list). A degenerate blocking key
    (an empty-string band, a boilerplate template shared by 10^6 pages)
    otherwise turns the self-join into s² pairs for that bucket;
    :func:`lsh_band_load_profile` prices that volume BEFORE the join,
    this operator acts on it. The trade is explicit and bounded: a pair
    is lost only if hot buckets were its ONLY collisions, and anything
    popular enough to blow the cap is template/boilerplate material for
    the hot-gram lane (strip_boilerplate), not pairwise dedup.

    Scale shape: bucket sizes are one map-side-combined count on the
    (band, sig) key; the kept-bucket semi-join and the candidate
    self-join reuse the SAME key partitioning, so the cap adds no extra
    fact shuffle — and guarantees every join task is ≤ max_bucket²
    pair-work regardless of input skew.
    """
    sigs = minhash_signatures(df)
    ok = (
        sigs.groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("_s"))
        .filter(F.col("_s") <= max_bucket)
        .select("band", "sig")
    )
    kept = sigs.join(ok, ["band", "sig"])
    a = kept.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b = kept.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )


def sql_lsh_capped_candidate_pairs(*, max_bucket: int = LSH_MAX_BUCKET) -> str:
    return f"""
    WITH {_sql_sigs_cte('documents', 'text')},
    ok AS (
        SELECT band, sig FROM sigs
        GROUP BY 1, 2 HAVING COUNT(*) <= {max_bucket}
    ),
    kept AS (SELECT s.* FROM sigs s JOIN ok USING (band, sig))
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM kept a JOIN kept b ON a.band = b.band AND a.sig = b.sig
    WHERE a.doc_id < b.doc_id
    """


# ---------------------------------------------------------------------------
# LSH parameter planner (the published b/r S-curve tuning table)
# ---------------------------------------------------------------------------

#: Jaccard grid resolution for the S-curve table (s = 1..100 in centi units).
LSH_PLAN_GRID = 100


def lsh_param_planner(spark) -> DataFrame:
    """The MinHash-LSH tuning table for the configured banding (b, r): for
    each Jaccard similarity s on a 1/``LSH_PLAN_GRID`` lattice, the candidate
    probability ``P(candidate | s) = 1 − (1 − s^r)^b`` — the published
    S-curve every LSH deployment reads before picking b and r (Leskovec
    et al., MMDS ch. 3). Output also flags the half-power threshold
    region: ``s* = (1/b)^(1/r)`` sits where is_above_half flips, the
    number to compare against the verify threshold
    (:data:`NEARDUP_JACCARD`): grid rows below the verify threshold with
    high P are the wasted-verify mass (FP cost), rows above it with low
    P are the recall leak (FN cost).

    This is a zero-scan, O(grid)-row computation — a generated lattice,
    no table reads at all; it exists so the banding choice is an artifact
    the pipeline can assert on (tests pin the curve against a pure-Python
    reference and the monotone/endpoint invariants), not a comment.
    Powers are computed by EXPLICIT multiplication chains (r and b are
    small module constants), not ``pow()`` — every value is a product of
    exact-lattice doubles in fixed association, so both engines emit
    identical doubles before the micro-quantization.
    """
    s = F.col("s_centi").cast("double") / F.lit(float(LSH_PLAN_GRID))

    def int_pow(base: Column, n: int) -> Column:
        acc = base
        for _ in range(n - 1):
            acc = acc * base
        return acc

    p_band = int_pow(s, LSH_ROWS)  # one band all-equal
    p_cand = F.lit(1.0) - int_pow(F.lit(1.0) - p_band, LSH_BANDS)
    p_micro = F.round(p_cand * F.lit(1_000_000.0)).cast("bigint")
    return (
        spark.range(1, LSH_PLAN_GRID + 1)
        .select(F.col("id").cast("int").alias("s_centi"))
        .select(
            "s_centi",
            F.lit(LSH_BANDS).cast("int").alias("bands"),
            F.lit(LSH_ROWS).cast("int").alias("rows"),
            p_micro.alias("p_candidate_micro"),
            (p_micro > 500_000).alias("is_above_half"),
        )
    )


def sql_lsh_param_planner() -> str:
    s = f"(CAST(g.s AS DOUBLE) / {float(LSH_PLAN_GRID)})"
    p_band = " * ".join([s] * LSH_ROWS)
    one_minus = f"(1.0 - ({p_band}))"
    p_not = " * ".join([one_minus] * LSH_BANDS)
    return f"""
    SELECT CAST(g.s AS INT) AS s_centi,
           CAST({LSH_BANDS} AS INT) AS bands,
           CAST({LSH_ROWS} AS INT) AS rows,
           CAST(round((1.0 - ({p_not})) * 1000000.0) AS BIGINT)
               AS p_candidate_micro,
           CAST(round((1.0 - ({p_not})) * 1000000.0) AS BIGINT) > 500000
               AS is_above_half
    FROM generate_series(1, {LSH_PLAN_GRID}) AS g(s)
    """


# ---------------------------------------------------------------------------
# cross-batch contamination DIFF (what leaked in THIS batch vs the index)
# ---------------------------------------------------------------------------

#: deterministic batch split for the registered query: docs with
#: ``doc_id % 10 == BATCH_MOD`` are "this batch", the rest the accreted
#: index — the batch-expressible twin of the streaming neardup-ingest
#: loop's per-batch report (streaming.py neardup_ingest_sink accretes the
#: survivor index; this lane answers "what did THIS batch drag in" with
#: full oracle checkability).
BATCH_MOD = 9

#: modulus base for the batch split predicate (``doc_id % 10 == 9``).
BATCH_MOD_BASE = 10


# Persisted contamination-base projections keyed by input plan.
# Closes the ADVICE r13 leak: every batch_contamination_diff call
# persisted a fresh identical projection and never released it.
_CONTAM_BASE_MEMO = SessionMemo(4, persisted=True)


def batch_contamination_diff(documents: DataFrame) -> DataFrame:
    """Per-batch-document contamination report against the accreted index:
    (doc_id, n_grams, exact_dup, n_gram_collisions, contaminated) — for
    every document in the incoming batch, did its EXACT content hash
    already exist in the index, and how many of its distinct 13-grams
    collide with any index document (the two lanes a production ingest
    gate checks before admitting a batch: verbatim re-crawl vs pasted
    passages).

    Scale shape: ONE corpus scan. The (id, is_batch, content-hash, gram
    set) projection is persisted and both sides derive from it, so the
    corpus is never re-scanned per lane. The batch side is ingest-sized:
    its hash set and gram set BROADCAST to the index side; only MATCHED
    hashes / COLLIDING grams come back (contamination-sized shuffles —
    the eval_ngram_contamination posture with the roles reversed: output
    is per-BATCH-doc, the small side). The index never shuffles its rows
    or text anywhere. The persisted projection is MEMOIZED per (session,
    input plan, params) in a persisted :class:`SessionMemo`, so repeated invocations (the 179-lane bench, oracle
    differentials) hold one cached projection, not one leak per call
    (ADVICE r13).
    """
    from .text import shingle_hashes

    def build() -> DataFrame:
        text = F.coalesce(F.col("text"), F.lit(""))
        return documents.select(
            F.col("doc_id"),
            ((F.col("doc_id") % F.lit(BATCH_MOD_BASE)) == F.lit(BATCH_MOD))
            .alias("_is_batch"),
            F.md5(text).alias("_h"),
            shingle_hashes(text, NGRAM_CONTAM_N).alias("_g"),
        )

    base = _CONTAM_BASE_MEMO.get(
        documents.sparkSession,
        (documents.semanticHash(),),
        build,
    )
    batch = base.filter("_is_batch")
    index = base.filter("NOT _is_batch")
    return contamination_report(
        batch,
        index.select("_h"),
        index.select(F.explode("_g").alias("g")),
    )


def contamination_report(
    batch: DataFrame, index_hashes: DataFrame, index_grams: DataFrame
) -> DataFrame:
    """The shared batch-vs-index contamination assembly: ``batch`` is the
    projected incoming slice (doc_id, _h, _g), ``index_hashes`` / 
    ``index_grams`` are the accreted index's (_h) / (g) columns in any
    physical form (a same-scan filter for the batch operator, parquet
    index reads for the streaming sink). Broadcast DIRECTION is the
    contract: the ingest-sized batch's hash/gram sets go OUT to the index
    side; only MATCHED hashes and COLLIDING grams come back. The index is
    never shuffled, whatever its size."""
    batch_hashes = batch.select("_h").distinct()
    matched_h = (
        index_hashes.join(F.broadcast(batch_hashes), "_h")
        .select("_h")
        .distinct()
    )

    bg = batch.select(
        "doc_id", F.size("_g").cast("bigint").alias("n_grams"),
        F.explode("_g").alias("g"),
    )
    batch_grams = bg.select("g").distinct()
    collided = (
        index_grams.join(F.broadcast(batch_grams), "g")
        .select("g")
        .distinct()
    )
    gram_hits = (
        bg.join(F.broadcast(collided), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_gram_collisions"))
    )

    return (
        batch.join(
            F.broadcast(matched_h.withColumn("_dup", F.lit(True))),
            "_h",
            "left",
        )
        .join(gram_hits, "doc_id", "left")
        .select(
            "doc_id",
            F.size("_g").cast("bigint").alias("n_grams"),
            F.coalesce(F.col("_dup"), F.lit(False)).alias("exact_dup"),
            F.coalesce(F.col("n_gram_collisions"), F.lit(0).cast("bigint"))
            .alias("n_gram_collisions"),
            (
                F.coalesce(F.col("_dup"), F.lit(False))
                | (F.coalesce(F.col("n_gram_collisions"), F.lit(0)) > 0)
            ).alias("contaminated"),
        )
    )




def sql_batch_contamination_diff() -> str:
    from .text import sql_shingle_hashes_over_w

    grams = sql_shingle_hashes_over_w(NGRAM_CONTAM_N)
    pred = f"doc_id % {BATCH_MOD_BASE} = {BATCH_MOD}"
    return f"""
    WITH base AS (
        SELECT doc_id,
               ({pred}) AS is_batch,
               md5(COALESCE(text, '')) AS h,
               string_split(COALESCE(text, ''), ' ') AS w
        FROM documents
    ),
    g AS (SELECT doc_id, is_batch, h, {grams} AS gs FROM base),
    idx_h AS (SELECT DISTINCT h FROM g WHERE NOT is_batch),
    bg AS (
        SELECT doc_id, len(gs)::BIGINT AS n_grams, unnest(gs) AS gr
        FROM g WHERE is_batch
    ),
    ig AS (SELECT DISTINCT unnest(gs) AS gr FROM g WHERE NOT is_batch),
    hits AS (
        SELECT bg.doc_id, COUNT(*) AS n_gram_collisions
        FROM bg JOIN ig ON bg.gr = ig.gr
        GROUP BY 1
    )
    SELECT g.doc_id,
           len(g.gs)::BIGINT AS n_grams,
           (g.h IN (SELECT h FROM idx_h)) AS exact_dup,
           CAST(COALESCE(hits.n_gram_collisions, 0) AS BIGINT)
               AS n_gram_collisions,
           ((g.h IN (SELECT h FROM idx_h))
            OR COALESCE(hits.n_gram_collisions, 0) > 0) AS contaminated
    FROM g LEFT JOIN hits ON g.doc_id = hits.doc_id
    WHERE g.is_batch
    """
