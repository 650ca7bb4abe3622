"""Training-corpus preparation operators: deterministic splits, chunking,
PII redaction, TF-IDF term weighting.

These are the steps between "deduplicated documents" and "training set"
in an LLM data pipeline (BASELINE.json north star; the reference itself has
no text surface — it is a Kafka ETL demo). All four are built-in-expression
designs (JVM-side, whole-stage codegen):

- train/test split: salted-hash bucketing, a pure projection — stable under
  re-runs, data growth, and partitioning changes, unlike ``rand()`` splits
  which reshuffle membership every run. Salt the hash to re-draw the split.
- chunking: 1→N expansion via ``posexplode(sequence(...))`` — the
  fixed-stride context-window slicing trainers consume; no shuffle.
- PII redaction: ``regexp_replace`` chains (email, long digit runs) —
  scan-and-project, the patterns live in ONE place shared with the oracle.
- TF-IDF: two hash aggregations (term frequency, document frequency) and a
  broadcast scalar (corpus size); idf is quantized to integer micro-units
  so cross-engine ranking never depends on float ulps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hash60, sql_hash60
from .text import TOKEN_SEP

SPLIT_BUCKETS = 100

# Shared regexes: Java (Spark) and RE2 (DuckDB) agree on this subset —
# character classes, bounded quantifiers, no backrefs/lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONGNUM_RE = r"[0-9][0-9()\- ]{5,}[0-9]"  # phone/account-shaped digit runs


# ---------------------------------------------------------------------------
# deterministic train/test split
# ---------------------------------------------------------------------------


def train_test_split(
    df: DataFrame, *, train_pct: int = 80, salt: str = "split:v1"
) -> DataFrame:
    """Assign each row a stable split by salted id-hash bucket.

    Membership is a pure function of (salt, id): adding data, re-running,
    or repartitioning never moves existing rows across the split — the
    property ``df.sample``/``rand`` cannot give. Changing ``salt``
    re-draws the split; bumping ``train_pct`` only *moves the boundary*
    (train ⊆ new train), enabling monotone split growth.
    """
    bucket = split_bucket_col(salt=salt).alias("split_bucket")
    split = (
        F.when(F.col("split_bucket") < train_pct, F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split")
    )
    return df.select("doc_id", bucket).select("*", split)


def split_bucket_col(*, salt: str = "split:v1") -> Column:
    """The split-membership expression itself (salted id-hash bucket), for
    callers that want the split as a derived COLUMN on an existing frame —
    a join against :func:`train_test_split`'s projection would re-execute
    the caller's whole upstream plan for the join's right side (no
    cross-branch CSE) to recompute what is a pure function of the id."""
    return (
        hash60(F.concat(F.lit(salt), F.col("doc_id").cast("string")))
        % SPLIT_BUCKETS
    )


def sql_train_test_split() -> str:
    h = sql_hash60("'split:v1' || CAST(doc_id AS VARCHAR)")
    return f"""
    SELECT doc_id,
           ({h}) % {SPLIT_BUCKETS} AS split_bucket,
           CASE WHEN ({h}) % {SPLIT_BUCKETS} < 80
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """


# ---------------------------------------------------------------------------
# training-mixture sampling (per-source keep rates)
# ---------------------------------------------------------------------------

# Mixture weights: fraction of each source to keep when composing the
# training mix (the data-mixing knob of an LLM pipeline — upsample curated
# sources, downsample bulk ones). Sources absent from the map fall back to
# DEFAULT_MIX_RATE.
MIX_RATES: dict[str, float] = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
DEFAULT_MIX_RATE = 0.10


def training_mix_sample(
    df: DataFrame, rates: dict[str, float] | None = None
) -> DataFrame:
    """Deterministic mixture sampling: keep a ``rates[source]`` fraction of
    each source by salted id-hash threshold.

    Same machinery as :func:`train_test_split` (pure projection, no
    shuffle, membership stable under re-runs/growth) applied per source:
    keep iff ``bucket < rate·100``. Because the bucket is a function of the
    id alone, raising a source's rate only ADDS documents (monotone mixture
    growth), and the same document keeps the same fate across pipeline
    re-runs — rand()-based sampling guarantees neither.
    """
    r = rates if rates is not None else MIX_RATES
    bucket = hash60(
        F.concat(F.lit("mix:v1"), F.col("doc_id").cast("string"))
    ) % SPLIT_BUCKETS
    rate = F.lit(DEFAULT_MIX_RATE * SPLIT_BUCKETS)
    # build the CASE back-to-front; dict order is documentation order only
    for src, keep in reversed(list(r.items())):
        rate = F.when(
            F.col("source") == src, F.lit(keep * SPLIT_BUCKETS)
        ).otherwise(rate)
    return df.select("doc_id", "source").where(bucket < rate)


def sql_training_mix_sample() -> str:
    h = sql_hash60("'mix:v1' || CAST(doc_id AS VARCHAR)")
    whens = "\n             ".join(
        f"WHEN source = '{src}' THEN {keep * SPLIT_BUCKETS}"
        for src, keep in MIX_RATES.items()
    )
    return f"""
    SELECT doc_id, source
    FROM documents
    WHERE ({h}) % {SPLIT_BUCKETS} <
          CASE {whens}
               ELSE {DEFAULT_MIX_RATE * SPLIT_BUCKETS} END
    """


# ---------------------------------------------------------------------------
# fixed-stride chunking (context-window slicing)
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame, *, chunk_chars: int = 200, overlap: int = 40
) -> DataFrame:
    """Slice each document into ``chunk_chars``-wide windows advancing by
    ``chunk_chars - overlap``: the fixed-stride context-window expansion
    (1→N rows) trainers batch over.

    ``posexplode(sequence(1, len, step))`` generates start offsets inside
    the row — no shuffle, output size = Σ ceil(len/step). Every document
    yields ≥ 1 chunk (empty/null text → one empty chunk, keeping the doc
    id present downstream); the final chunk may be short, never empty.
    """
    if not 0 <= overlap < chunk_chars:
        raise ValueError("need 0 <= overlap < chunk_chars")
    step = chunk_chars - overlap
    c = F.coalesce(F.col("text"), F.lit(""))
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(c), F.lit(1)), F.lit(step)
    )
    return df.select(
        "doc_id",
        c.alias("_text"),
        F.posexplode(starts).alias("chunk_id", "start"),
    ).select(
        "doc_id",
        "chunk_id",
        F.col("_text").substr(F.col("start"), F.lit(chunk_chars)).alias("chunk"),
    )


def sql_chunk_documents() -> str:
    step = 200 - 40
    c = "coalesce(text, '')"
    return f"""
    WITH starts AS (
        SELECT doc_id, text,
               unnest(generate_series(1, greatest(length({c}), 1), {step}))
                   AS start
        FROM documents
    )
    SELECT doc_id,
           ((start - 1) // {step})::INT AS chunk_id,
           substring({c}, start, 200) AS chunk
    FROM starts
    """


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def pii_redact(df: DataFrame) -> DataFrame:
    """Redact emails and long digit runs, with per-doc redaction counts.

    Email replacement runs FIRST (addresses contain digits); counts are
    computed on the original text so they report what was actually
    removed. One scan, no shuffle.
    """
    c = F.coalesce(F.col("text"), F.lit(""))
    red = F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), LONGNUM_RE, "<NUM>"
    )
    return df.select(
        "doc_id",
        red.alias("text_redacted"),
        F.regexp_count(c, F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(
            F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), F.lit(LONGNUM_RE)
        ).cast("int").alias("n_numbers"),
    )


def sql_pii_redact() -> str:
    c = "coalesce(text, '')"
    email = EMAIL_RE.replace("'", "''")
    num = LONGNUM_RE.replace("'", "''")
    return f"""
    SELECT doc_id,
           regexp_replace(regexp_replace({c}, '{email}', '<EMAIL>', 'g'),
                          '{num}', '<NUM>', 'g') AS text_redacted,
           len(regexp_extract_all({c}, '{email}'))::INT AS n_emails,
           len(regexp_extract_all(
               regexp_replace({c}, '{email}', '<EMAIL>', 'g'), '{num}'
           ))::INT AS n_numbers
    FROM documents
    """


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------

IDF_MICRO = 1_000_000  # idf quantization: integer micro-units


def tfidf_top_terms(df: DataFrame, *, k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    Plan shape: one explode → hash-aggregate to (doc, term, tf) → second
    hash-aggregate to (term, df) — both map-side-combined — plus a 1-row
    corpus-size aggregate joined in as a broadcast scalar (never a
    driver-side ``.count()`` baked into the plan). Smoothed idf
    ``ln((N+1)/(df+1))`` is quantized to integer micro-units before the
    tf multiply, so ranking compares exact integers and can never flip on
    a float ulp between engines. Ties break by term text.
    """
    c = F.coalesce(F.col("text"), F.lit(""))
    terms = df.select(
        F.col("doc_id"), F.explode(F.split(c, TOKEN_SEP)).alias("term")
    ).where(F.col("term") != "")
    # tf feeds both the document-frequency rollup and the scoring join;
    # persisting the collapsed (doc, term, tf) table keeps the tokenize
    # explode to ONE corpus scan (the remaining n_docs pass is count(1)
    # with an empty read schema — parquet footers only). Round-11 scan
    # audit: was three corpus scans.
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    idf = doc_freq.crossJoin(F.broadcast(n_docs)).select(
        "term",
        "df_t",
        F.round(
            F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df_t") + F.lit(1.0)))
            * IDF_MICRO
        ).cast("bigint").alias("idf_micro"),
    )
    scored = tf.join(idf, "term").select(
        "doc_id",
        "term",
        "tf",
        (F.col("tf") * F.col("idf_micro")).alias("score_micro"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_micro"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "score_micro")
    )


def sql_tfidf_top_terms() -> str:
    c = "coalesce(text, '')"
    return f"""
    WITH terms AS (
        SELECT doc_id, unnest(string_split({c}, '{TOKEN_SEP}')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM terms WHERE term <> '' GROUP BY 1, 2
    ),
    idf AS (
        SELECT term,
               CAST(round(ln((SELECT COUNT(*) + 1.0 FROM documents)
                             / (COUNT(*) + 1.0)) * {IDF_MICRO}) AS BIGINT)
                   AS idf_micro
        FROM tf GROUP BY term
    )
    SELECT tf.doc_id,
           (ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * idf.idf_micro DESC NULLS LAST,
                        tf.term ASC NULLS FIRST))::INT AS rank,
           tf.term,
           tf.tf,
           tf.tf * idf.idf_micro AS score_micro
    FROM tf JOIN idf USING (term)
    QUALIFY rank <= 3
    """


# ---------------------------------------------------------------------------
# token-budget sequence packing
# ---------------------------------------------------------------------------

PACK_BUDGET_TOKENS = 256


def pack_token_bins(df: DataFrame, *, budget: int = PACK_BUDGET_TOKENS) -> DataFrame:
    """(doc_id, source, n_tokens, bin_id): concat-and-split sequence
    packing — the batch-construction step between a tokenized corpus and
    training. Documents are laid end-to-end in deterministic (source,
    doc_id) order and cut into fixed-token-budget bins: a doc's bin is
    where its first token lands (``floor(exclusive_cumsum / budget)``),
    exactly the standard streaming packing trainers use so short documents
    share a context window instead of wasting padding.

    One window (partition by source, order by id) = one shuffle on source;
    the running sum is O(1) state per row. Skew = docs-per-source; at
    corpus scale partition the stream finer (source × shard of the id
    space) — the assignment stays deterministic because the cumsum order
    key is total.
    """
    from .text import tokens

    n_tok = F.size(tokens(F.col("text"))).cast("bigint")
    w = (
        Window.partitionBy("source")
        .orderBy(F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    return (
        df.select(
            F.col("doc_id"),
            F.col("source"),
            n_tok.alias("n_tokens"),
        )
        .withColumn("bin_id", F.floor(cum_excl / budget).cast("bigint"))
    )


def sql_pack_token_bins() -> str:
    from .text import sql_tokens

    return f"""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) / {PACK_BUDGET_TOKENS}) AS BIGINT) AS bin_id
    FROM t
    """


# ---------------------------------------------------------------------------
# corpus-health: duplication rate by source
# ---------------------------------------------------------------------------


def dedup_rate_by_source(df: DataFrame) -> DataFrame:
    """(source, n_docs, n_distinct, n_dups, dup_rate): the corpus-health
    report a data pipeline reads before deciding where to spend dedup
    budget — exact content-hash distinct per source. One map-side-combined
    aggregation; the shuffle carries (source, hash) partial states, never
    text. dup_rate is a ratio of exact BIGINTs, so the double division is
    bit-identical across engines."""
    h = hash60(F.col("text"))
    return (
        df.groupBy(F.col("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(h).alias("n_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            (F.col("n_docs") - F.col("n_distinct")).alias("n_dups"),
            (
                (F.col("n_docs") - F.col("n_distinct")).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
        )
    )


def sql_dedup_rate_by_source() -> str:
    return f"""
    WITH g AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT {sql_hash60('text')}) AS BIGINT)
                 AS n_distinct
        FROM documents
        GROUP BY 1
    )
    SELECT source, n_docs, n_distinct,
           n_docs - n_distinct AS n_dups,
           CAST(n_docs - n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE)
             AS dup_rate
    FROM g
    """


# ---------------------------------------------------------------------------
# quality-weighted sampling
# ---------------------------------------------------------------------------

QW_SALT = "qw:v1"
QW_BASE_RATE = 0.8
QW_BUCKETS = 1_000_000


def quality_weighted_sample(
    df: DataFrame, *, base_rate: float = QW_BASE_RATE
) -> DataFrame:
    """Deterministic importance sampling: keep each document with
    probability ``base_rate × quality_weight`` — the continuous-weight
    generalization of :func:`training_mix_sample`'s per-source rates
    (up-weight high-quality documents instead of whole sources).

    quality_weight here is the type-token ratio (distinct/total tokens,
    in (0, 1]) — a repetition penalty; swap any [0, 1] signal in without
    changing the acceptance machinery. Acceptance compares a salted
    id-hash uniform (fine-grained: 10^6 buckets, since the threshold is
    continuous) against the per-doc rate, so membership is stable under
    re-runs/growth/partitioning, monotone in ``base_rate``, and re-drawn
    by changing the salt. Pure projection + filter: no shuffle, fuses
    into the scan, and both engines evaluate identical int-ratio doubles
    — the differential is exact despite the 'randomness'."""
    from .text import tokens

    t = tokens(F.col("text"))
    weight = F.size(F.array_distinct(t)).cast("double") / F.size(t).cast("double")
    u = (
        hash60(F.concat(F.lit(QW_SALT), F.col("doc_id").cast("string"))) % QW_BUCKETS
    ).cast("double") / F.lit(float(QW_BUCKETS))
    return df.select(
        F.col("doc_id"),
        F.col("source"),
        weight.alias("quality_weight"),
        u.alias("u"),
    ).where(F.col("u") < base_rate * F.col("quality_weight")).drop("u")


def sql_quality_weighted_sample() -> str:
    from .text import sql_tokens

    toks = sql_tokens("text")
    return f"""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(list_distinct({toks})) AS DOUBLE)
                 / CAST(len({toks}) AS DOUBLE) AS quality_weight,
               CAST({sql_hash60(f"'{QW_SALT}' || CAST(doc_id AS VARCHAR)")}
                    % {QW_BUCKETS} AS DOUBLE) / {float(QW_BUCKETS)} AS u
        FROM documents
    )
    SELECT doc_id, source, quality_weight
    FROM t WHERE u < {QW_BASE_RATE} * quality_weight
    """


# exact-K weighted sampling (the fixed-budget sibling of the Bernoulli
# sampler above: "give me exactly K docs, quality-weighted")
WS_SALT = "wsample:v1"
WS_K = 100
WS_MICRO = 1_000_000  # sample-key quantization: integer micro-nats


def weighted_doc_sample(
    df: DataFrame, *, k: int = WS_K, salt: str = WS_SALT
) -> DataFrame:
    """Exactly-``k`` weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis exponential keys): each document draws priority
    key ``u^(1/w)`` — equivalently, ranks by ``ln(u)/w`` — and the top-k
    keys are the sample. Inclusion probability is proportional-to-weight
    without replacement, the estimator mixing pipelines want when the
    budget is a fixed document COUNT rather than a rate
    (:func:`quality_weighted_sample` is the Bernoulli/rate sibling;
    :func:`training_mix_sample` the per-source-rate one).

    The weight is the type-token ratio (repetition penalty, (0, 1]) —
    swap any positive signal in without touching the machinery. ``u`` is
    a salted id-hash uniform in (0, 1) (never 0: +1 shift before the
    divide), so membership is deterministic, re-drawn by changing the
    salt, and stable under partitioning/growth. Keys quantize to integer
    micro-nats before ranking (the :func:`doc_lm_score` trick) with
    doc_id as the total-order tie-break, so both engines pick the
    identical set. Top-k executes as TakeOrderedAndProject — a k-sized
    heap per partition then one k-sized merge, no global sort at any
    scale. Null-text documents never enter the draw.
    """
    from .text import tokens

    t = tokens(F.col("text"))
    weight = (
        F.size(F.array_distinct(t)).cast("double") / F.size(t).cast("double")
    )
    u = (
        (hash60(F.concat(F.lit(salt), F.col("doc_id").cast("string"))) % QW_BUCKETS)
        + 1
    ).cast("double") / F.lit(float(QW_BUCKETS + 1))
    key_micro = F.round(F.log(u) / weight * WS_MICRO).cast("bigint")
    return (
        df.filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id"),
            F.col("source"),
            weight.alias("quality_weight"),
            key_micro.alias("sample_key_micro"),
        )
        .orderBy(F.col("sample_key_micro").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def sql_weighted_doc_sample() -> str:
    """DuckDB twin of :func:`weighted_doc_sample` (same hash, same
    micro-nat quantization, same tie-break)."""
    from .text import sql_tokens

    toks = sql_tokens("text")
    h = sql_hash60(f"'{WS_SALT}' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(list_distinct({toks})) AS DOUBLE)
                 / CAST(len({toks}) AS DOUBLE) AS quality_weight,
               CAST(({h}) % {QW_BUCKETS} + 1 AS DOUBLE)
                 / {float(QW_BUCKETS + 1)} AS u
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, source, quality_weight,
           CAST(ROUND(ln(u) / quality_weight * {WS_MICRO}) AS BIGINT)
               AS sample_key_micro
    FROM t
    ORDER BY sample_key_micro DESC, doc_id ASC
    LIMIT {WS_K}
    """


# ---------------------------------------------------------------------------
# span-level duplication: hot n-grams (boilerplate detection)
# ---------------------------------------------------------------------------

HOT_NGRAM_MIN_DOCS = 2
HOT_NGRAM_TOP = 20


def hot_ngrams(
    df: DataFrame, *, min_docs: int = HOT_NGRAM_MIN_DOCS, top: int = HOT_NGRAM_TOP
) -> DataFrame:
    """(gram, n_docs, n_occurrences): the word n-grams repeated across the
    most documents — the corpus-wide boilerplate report (nav bars, cookie
    banners, license headers) a pipeline reads before deciding what to
    strip, and the exact heavy-hitter complement to the probabilistic
    MinHash/SimHash document-level fingerprints.

    Two-level aggregation keeps the shuffles narrow at 100 TB: the explode
    is collapsed to one (gram, doc) row map-side BEFORE the first exchange
    (within-document repeats never cross the wire), then the per-gram
    doc/occurrence counts aggregate rows already bounded by docs x distinct
    grams. The final ordered LIMIT is TakeOrderedAndProject - each
    partition surrenders its local top rows, never the full gram table.
    Deterministic under count ties via the gram-string tie-break."""
    from .text import gram_strings

    per_doc = (
        df.select(
            F.col("doc_id"),
            F.explode(gram_strings(F.col("text"))).alias("gram"),
        )
        .groupBy("gram", "doc_id")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    return (
        per_doc.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("occ").cast("bigint").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(
            F.col("n_docs").desc_nulls_last(),
            F.col("n_occurrences").desc_nulls_last(),
            F.col("gram").asc_nulls_first(),
        )
        .limit(top)
    )


def sql_hot_ngrams() -> str:
    from .text import sql_gram_strings_over_w, sql_tokens

    return f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens('text')} AS w FROM documents
    ),
    g AS (
        SELECT doc_id, unnest({sql_gram_strings_over_w()}) AS gram FROM toks
    ),
    pd AS (
        SELECT gram, doc_id, COUNT(*) AS occ FROM g GROUP BY 1, 2
    )
    SELECT gram,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(occ) AS BIGINT) AS n_occurrences
    FROM pd
    GROUP BY 1
    HAVING COUNT(*) >= {HOT_NGRAM_MIN_DOCS}
    ORDER BY n_docs DESC NULLS LAST,
             n_occurrences DESC NULLS LAST,
             gram ASC NULLS FIRST
    LIMIT {HOT_NGRAM_TOP}
    """


# ---------------------------------------------------------------------------
# per-language quality-percentile filter
# ---------------------------------------------------------------------------

QP_CUTOFF = 0.25  # drop the bottom quartile of each language


def quality_percentile_filter(df: DataFrame) -> DataFrame:
    """Documents above the per-language quality percentile: score = the
    type-token ratio (repetition penalty), rank = percent_rank WITHIN each
    language, keep everything at or above ``QP_CUTOFF``.

    Ranking per language instead of globally is the point: a single global
    threshold lets high-resource languages crowd out low-resource ones
    whose score distribution sits lower. One shuffle on lang + a sort
    within each partition; the (score, doc_id) total order makes
    cume_dist's rank/n a deterministic double on both engines. cume_dist
    rather than percent_rank so a single-document language keeps its doc
    (its only row is the maximum: cume_dist 1.0, where percent_rank would
    be 0.0 and die to the cutoff). At 100 TB a language is far larger than
    one partition - swap the exact window for approx_percentile per
    language (broadcast the cutoffs back) exactly as the HLL lanes swap
    exact distincts; the exact form stays for the oracle."""
    from .text import tokens

    t = tokens(F.col("text"))
    score = (
        F.size(F.array_distinct(t)).cast("double") / F.size(t).cast("double")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score").asc_nulls_first(), F.col("doc_id").asc_nulls_first()
    )
    return (
        df.select(
            F.col("doc_id"),
            F.col("lang"),
            score.alias("score"),
        )
        .withColumn("pct", F.cume_dist().over(w))
        .filter(F.col("pct") > QP_CUTOFF)
    )


def sql_quality_percentile_filter() -> str:
    from .text import sql_tokens

    toks = sql_tokens("text")
    return f"""
    WITH s AS (
        SELECT doc_id, lang,
               CAST(len(list_distinct({toks})) AS DOUBLE)
                 / CAST(len({toks}) AS DOUBLE) AS score
        FROM documents
    )
    SELECT doc_id, lang, score,
           cume_dist() OVER (
               PARTITION BY lang
               ORDER BY score ASC NULLS FIRST, doc_id ASC NULLS FIRST
           ) AS pct
    FROM s
    QUALIFY pct > {QP_CUTOFF}
    """


# ---------------------------------------------------------------------------
# vocabulary building: top tokens by corpus frequency
# ---------------------------------------------------------------------------

VOCAB_TOP = 32


def vocab_top_tokens(df: DataFrame) -> DataFrame:
    """(token, n_docs, n_occurrences, rank): the corpus frequency table a
    tokenizer trainer reads first — the *building* side of the vocab pair
    whose *inference* side is :func:`text.vocab_token_counts` (greedy
    longest-match against a fixed vocab).

    Same two-level aggregation as :func:`hot_ngrams` (map-side collapse to
    (token, doc), then per-token counts). The global top-``VOCAB_TOP`` is a
    ``Sort+Limit`` pair Spark plans as TakeOrderedAndProject — per-partition
    top-k then a k×partitions merge, so not even the vocabulary-sized
    aggregate funnels through one sort (the last unpartitioned window in
    the registry, removed in round 7); the rank is then recomputed inside
    the k-row result by a k×k broadcast count-ahead join. Rank ties break
    lexically; (n_occurrences, token) is unique so the rank is total."""
    from .text import tokens

    per_doc = (
        df.select(
            F.col("doc_id"),
            F.explode(tokens(F.col("text"))).alias("token"),
        )
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    counts = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("occ").cast("bigint").alias("n_occurrences"),
    )
    topk = counts.orderBy(
        F.col("n_occurrences").desc_nulls_last(), F.col("token").asc_nulls_first()
    ).limit(VOCAB_TOP)
    ahead = topk.select(
        F.col("token").alias("_t2"), F.col("n_occurrences").alias("_n2")
    )
    strictly_ahead = (F.col("_n2") > F.col("n_occurrences")) | (
        (F.col("_n2") == F.col("n_occurrences")) & (F.col("_t2") < F.col("token"))
    )
    return (
        topk.join(F.broadcast(ahead), strictly_ahead, "left")
        .groupBy("token", "n_docs", "n_occurrences")
        .agg((F.count("_t2") + 1).cast("int").alias("rank"))
    )


def sql_vocab_top_tokens() -> str:
    from .text import sql_tokens

    return f"""
    WITH t AS (
        SELECT doc_id, unnest({sql_tokens('text')}) AS token FROM documents
    ),
    pd AS (
        SELECT token, doc_id, COUNT(*) AS occ FROM t GROUP BY 1, 2
    ),
    c AS (
        SELECT token,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(occ) AS BIGINT) AS n_occurrences
        FROM pd GROUP BY 1
    )
    SELECT token, n_docs, n_occurrences,
           CAST(ROW_NUMBER() OVER (
               ORDER BY n_occurrences DESC NULLS LAST, token ASC NULLS FIRST
           ) AS INT) AS rank
    FROM c
    QUALIFY rank <= {VOCAB_TOP}
    """


# ---------------------------------------------------------------------------
# out-of-vocabulary rate: per-document token coverage against a corpus vocab
# ---------------------------------------------------------------------------

OOV_VOCAB_TOP = 256


def doc_oov_rate(df: DataFrame, *, top: int = OOV_VOCAB_TOP) -> DataFrame:
    """(doc_id, n_tokens, n_oov, oov_rate): the fraction of each
    document's token INSTANCES that fall outside the corpus's top-``top``
    vocabulary — the coverage/quality signal tokenizer and mixing
    pipelines read (a high-OOV document is noise, another script, or
    exactly the rare-domain text a mixture may want to upweight; either
    way it needs the flag).

    The vocabulary is derived in the same query (top-``top`` by total
    occurrences, lexical tie-break — the deterministic cut
    :func:`vocab_top_tokens` uses), so the report is self-contained and
    reproducible from the corpus alone. Shape: the vocab is a
    ``Sort+Limit`` (TakeOrderedAndProject) over the token aggregate and
    rides into the instance-level pass as a BROADCAST left join — the
    corpus's token stream shuffles once (per-doc count agg), never per
    vocab entry. Null-text documents have no tokens and no row.
    """
    from .text import tokens

    t = df.filter(F.col("text").isNotNull()).select(
        F.col("doc_id"),
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    counts = t.groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))
    vocab = (
        counts.orderBy(
            F.col("n_occurrences").desc_nulls_last(),
            F.col("token").asc_nulls_first(),
        )
        .limit(top)
        .select("token", F.lit(1).alias("_in_vocab"))
    )
    return (
        t.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            F.col("doc_id"),
            "n_tokens",
            "n_oov",
            (
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")
            ).alias("oov_rate"),
        )
    )


def sql_doc_oov_rate() -> str:
    from .text import sql_tokens

    return f"""
    WITH t AS (
        SELECT doc_id, unnest({sql_tokens('text')}) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    c AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM t GROUP BY 1
    ),
    vocab AS (
        SELECT token FROM c
        ORDER BY n_occurrences DESC NULLS LAST, token ASC NULLS FIRST
        LIMIT {OOV_VOCAB_TOP}
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS oov_rate
    FROM t LEFT JOIN vocab v USING (token)
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# boilerplate stripping: remove hot-n-gram spans from documents
# ---------------------------------------------------------------------------


def strip_boilerplate(
    df: DataFrame, *, min_docs: int = HOT_NGRAM_MIN_DOCS
) -> DataFrame:
    """(doc_id, text_clean, n_tokens, n_removed): documents with every
    token covered by a hot-n-gram occurrence removed — the scrub step the
    :func:`hot_ngrams` report feeds (C4-style boilerplate removal, span
    semantics: a token is dropped iff ANY hot gram occurrence covers it,
    so overlapping occurrences union rather than double-count).

    The hot-gram set is corpus-derived (one aggregate) and rides into the
    per-document pass as a single broadcast row — the same
    report-then-scrub split as eval_contamination/decontaminated_corpus,
    so the corpus itself never reshuffles. Token-position logic runs in
    bound-variable array expressions (functions.bind): per token, a
    membership scan over the doc's hot-gram START positions — starts are
    few, so the scan is effectively linear in document length."""
    from ..functions import bind
    from .text import SHINGLE_N, TOKEN_SEP, _grams_over, tokens

    n = SHINGLE_N
    hot = hot_ngrams(df, min_docs=min_docs).select("gram")
    hotset = hot.agg(F.collect_set("gram").alias("_hot"))

    def clean(t: Column, hotarr: Column) -> Column:
        # -> struct(text_clean, n_kept): the kept count comes from the
        # kept ARRAY's size, never by re-splitting text_clean — a doc
        # whose kept tokens are all empty strings ("" tokenizes to [""])
        # would re-split to the wrong count and diverge from the oracle,
        # which counts the kept list.
        grams = _grams_over(t, n)
        return bind(
            F.filter(
                F.transform(grams, lambda g, i: F.when(
                    F.array_contains(hotarr, g), i + 1
                )),
                lambda s: s.isNotNull(),
            ),
            lambda starts: bind(
                F.filter(
                    t,
                    lambda _tok, j0: F.size(
                        F.filter(
                            starts,
                            lambda i: (i <= j0 + 1) & (j0 + 1 < i + n),
                        )
                    )
                    == 0,
                ),
                lambda kept: F.struct(
                    F.concat_ws(TOKEN_SEP, kept).alias("text_clean"),
                    F.size(kept).alias("n_kept"),
                ),
            ),
        )

    out = df.crossJoin(F.broadcast(hotset)).select(
        F.col("doc_id"),
        bind(
            tokens(F.col("text")),
            lambda t: F.struct(
                F.size(t).alias("n_tokens"),
                clean(t, F.col("_hot")).alias("cleaned"),
            ),
        ).alias("_r"),
    )
    return out.select(
        "doc_id",
        F.col("_r.cleaned.text_clean").alias("text_clean"),
        F.col("_r.n_tokens").cast("bigint").alias("n_tokens"),
        (F.col("_r.n_tokens") - F.col("_r.cleaned.n_kept"))
        .cast("bigint")
        .alias("n_removed"),
    )


def sql_strip_boilerplate() -> str:
    from .text import SHINGLE_N, sql_gram_strings_over_w, sql_tokens

    n = SHINGLE_N
    hot_sql = sql_hot_ngrams()
    return f"""
    WITH hotrep AS ({hot_sql}),
    hotset AS (SELECT list(gram) AS hot FROM hotrep),
    docs AS (
        SELECT doc_id, {sql_tokens('text')} AS w FROM documents
    ),
    marked AS (
        SELECT doc_id, w,
               [i for i in range(1, greatest(len(w) - {n - 2}, 1))
                if list_contains(hotset.hot, {sql_gram_strings_over_w(n)}[i])]
                 AS starts
        FROM docs CROSS JOIN hotset
    )
    SELECT doc_id,
           array_to_string(
               [w[j] for j in range(1, len(w) + 1)
                if len([i for i in starts if i <= j AND j < i + {n}]) = 0],
               ' ') AS text_clean,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(w) - len([w[j] for j in range(1, len(w) + 1)
                if len([i for i in starts if i <= j AND j < i + {n}]) = 0])
                AS BIGINT) AS n_removed
    FROM marked
    """


# ---------------------------------------------------------------------------
# temperature-based mixture sampling (alpha-sampling across sources)
# ---------------------------------------------------------------------------

TEMP_ALPHA = 0.5  # alpha < 1 flattens the source distribution


def temperature_mix_sample(df: DataFrame, *, alpha: float = TEMP_ALPHA) -> DataFrame:
    """Temperature (alpha) sampling across sources: keep each source at a
    rate proportional to ``share^(alpha-1)`` so the SAMPLED distribution
    follows ``share^alpha`` — the standard multilingual/multi-source
    rebalancing (alpha < 1 up-samples small sources, alpha = 1 is
    pass-through). Rates are normalized by the LARGEST raw rate so none
    exceeds certainty — for alpha < 1 the raw rate share^(alpha-1) is
    DECREASING in share, so it is the smallest source that keeps rate 1
    and the largest that is down-sampled hardest.

    Unlike :func:`training_mix_sample` (hand-set per-source rates), the
    rates here are DERIVED from corpus counts in one aggregate and ride
    back as a broadcast join — re-running after ingest automatically
    rebalances. Membership stays a salted-hash pure function of the id, so
    a document's fate only changes when its source's rate crosses the
    hash threshold (monotone in rate, like every sampler here). All
    arithmetic is double pow/division of exact counts — identical in both
    engines, hash-checkable."""
    # counts and rated are each consumed twice (by their own scalar
    # reduction and by the row side of its crossJoin-back); persisting the
    # |sources|-row tables keeps Catalyst from re-inlining the whole count
    # pipeline per consumer — the executed plan scans the corpus once for
    # the counts and once for the sampling pass (round-11 scan audit: it
    # was five corpus scans before)
    counts = (
        df.groupBy(F.col("source").alias("_src"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .persist()
    )
    total = counts.agg(F.sum("_n").alias("_tot"))
    # rate_s = (n_s/total)^(alpha-1), normalized by the max over sources
    rated = counts.crossJoin(F.broadcast(total)).select(
        "_src",
        F.pow(
            F.col("_n").cast("double") / F.col("_tot"), F.lit(alpha - 1.0)
        ).alias("_raw"),
    )
    # rated's two consumers re-derive it from the persisted counts — a
    # |sources|-row recompute, cheaper than a second cache's job boundary
    mx = rated.agg(F.max("_raw").alias("_mx"))
    rates = rated.crossJoin(F.broadcast(mx)).select(
        "_src", (F.col("_raw") / F.col("_mx")).alias("keep_rate")
    )
    u = (
        hash60(F.concat(F.lit("temp:v1"), F.col("doc_id").cast("string")))
        % QW_BUCKETS
    ).cast("double") / F.lit(float(QW_BUCKETS))
    return (
        df.select(
            F.col("doc_id"),
            F.col("source"),
            u.alias("_u"),
        )
        .join(F.broadcast(rates), F.col("source") == F.col("_src"))
        .where(F.col("_u") < F.col("keep_rate"))
        .select("doc_id", "source", "keep_rate")
    )


def sql_temperature_mix_sample() -> str:
    h = sql_hash60("'temp:v1' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH counts AS (
        SELECT source AS _src, COUNT(*) AS _n FROM documents GROUP BY 1
    ),
    rated AS (
        SELECT _src,
               pow(CAST(_n AS DOUBLE) / (SELECT SUM(_n) FROM counts),
                   {TEMP_ALPHA - 1.0}) AS _raw
        FROM counts
    ),
    rates AS (
        SELECT _src, _raw / (SELECT MAX(_raw) FROM rated) AS keep_rate
        FROM rated
    )
    SELECT d.doc_id, d.source, r.keep_rate
    FROM documents d JOIN rates r ON d.source = r._src
    WHERE CAST(({h}) % {QW_BUCKETS} AS DOUBLE) / {float(QW_BUCKETS)}
          < r.keep_rate
    """


# ---------------------------------------------------------------------------
# bigram language-model scoring (perplexity-proxy quality filter)
# ---------------------------------------------------------------------------

LM_MICRO = 1_000_000  # log-prob quantization: integer micro-nats


def doc_lm_score(df: DataFrame, *, carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll_micro): each document scored under a
    bigram language model TRAINED ON THE CORPUS ITSELF — the
    perplexity-proxy quality filter (CCNet's trick with KenLM, here with
    the corpus as its own reference): fluent/typical documents score a low
    average negative log-likelihood, gibberish and off-distribution text
    score high. Add-one smoothing over the vocabulary; probabilities are
    P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V).

    Training is two map-side-combined count aggregations (unigrams,
    bigrams) over one tokenization pass; scoring re-joins each document's
    bigram occurrences to those counts (narrow shuffles on the gram
    strings — at 100 TB, hash the grams first and the shuffle carries
    8-byte keys). Log-probs quantize to integer micro-nats before any
    aggregation (the tfidf trick), so per-doc sums are order-independent
    integers and the differential stays exact despite ln(); the final
    average is one double division. Documents with < 2 tokens have no
    bigrams and no row."""
    from .text import gram_strings, tokens

    # uni is consumed twice (the V scalar and the smoothing join);
    # persisting the vocabulary-sized count table keeps both reads off one
    # tokenization scan (round-11 scan audit: 4 corpus scans → 3 — the two
    # bigram-stream passes, count-then-score, are the model's inherent
    # minimum since c(w1 w2) must be global before any doc can be scored)
    uni = (
        df.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
        .persist()
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    # carry_cols ride the scoring explode (doc-constant attributes like
    # lang), so composers (lm_score_bucket_mix) don't pay a fourth corpus
    # scan just to re-join them.
    big = df.select(
        F.col("doc_id"),
        *[F.col(cc) for cc in carry_cols],
        F.explode(gram_strings(F.col("text"), 2)).alias("g"),
    )
    bigc = big.groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    nll_micro = F.round(
        -F.log(
            (F.col("c2") + 1).cast("double")
            / (F.col("c1") + F.col("v")).cast("double")
        )
        * LM_MICRO
    ).cast("bigint")
    scored = (
        big.join(bigc, "g")
        .withColumn("w1", F.split_part(F.col("g"), F.lit(TOKEN_SEP), F.lit(1)))
        .join(uni, F.col("w1") == F.col("w"))
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", *carry_cols, nll_micro.alias("_nll"))
    )
    return scored.groupBy("doc_id", *carry_cols).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.sum("_nll").cast("double") / F.count(F.lit(1))).alias(
            "avg_nll_micro"
        ),
    )


def sql_doc_lm_score() -> str:
    from .text import sql_gram_strings_over_w, sql_tokens

    return f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens('text')} AS w FROM documents
    ),
    uni AS (
        SELECT t.tok AS w, COUNT(*) AS c1
        FROM (SELECT unnest(w) AS tok FROM toks) t
        GROUP BY 1
    ),
    vocab AS (SELECT COUNT(*) AS v FROM uni),
    big AS (
        SELECT doc_id, unnest({sql_gram_strings_over_w(2)}) AS g FROM toks
    ),
    bigc AS (SELECT g, COUNT(*) AS c2 FROM big GROUP BY 1),
    scored AS (
        SELECT big.doc_id,
               CAST(round(-ln(CAST(bigc.c2 + 1 AS DOUBLE)
                              / CAST(uni.c1 + vocab.v AS DOUBLE))
                          * {LM_MICRO}) AS BIGINT) AS _nll
        FROM big
        JOIN bigc USING (g)
        JOIN uni ON split_part(big.g, ' ', 1) = uni.w
        CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(_nll) AS DOUBLE) / COUNT(*) AS avg_nll_micro
    FROM scored
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# deterministic global shuffle (training-order randomization)
# ---------------------------------------------------------------------------


def corpus_shuffle(docs: DataFrame) -> DataFrame:
    """Deterministic global random permutation of a corpus, materialized as
    (shard, position-within-shard) — the training-order randomization step
    before examples are fed to a data loader.

    A total ``ORDER BY random()`` is neither reproducible nor scalable
    (single global sort, fresh answer per run). Instead each doc gets a
    seeded 60-bit content-independent hash key; ``shard = key % n_shards``
    spreads docs uniformly with NO total sort (hash-partition shuffle
    only), and a per-shard rank orders within shards. Reading shards in
    order replays one fixed permutation; changing the ``shuffle:42`` seed is a fresh
    epoch's permutation. Shard counts scale with the cluster, the per-
    shard sort stays partition-local, and the hash key doubles as the
    resume cursor (skip (shard, pos) pairs already consumed).
    """
    keyed = docs.select(
        "doc_id",
        hash60(F.concat(F.lit("shuffle:42:"), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    )
    w = Window.partitionBy("shard").orderBy(
        F.asc("shuffle_key"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("shard", (F.col("shuffle_key") % 16).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shuffle_key", "shard", "pos")
    )


def sql_corpus_shuffle() -> str:
    key = sql_hash60("'shuffle:42:' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH keyed AS (
        SELECT doc_id, {key} AS shuffle_key FROM documents
    )
    SELECT doc_id, shuffle_key,
           CAST(shuffle_key % 16 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY shuffle_key % 16
               ORDER BY shuffle_key ASC NULLS FIRST, doc_id ASC NULLS FIRST
           ) AS INT) AS pos
    FROM keyed
    """


# ---------------------------------------------------------------------------
# token-budget sampling (cap each source's contribution at a token budget)
# ---------------------------------------------------------------------------

BUDGET_TOKENS_PER_SOURCE = 800


def token_budget_sample(docs: DataFrame) -> DataFrame:
    """Cap each source's contribution at a token budget: docs are taken in
    seeded-hash order (an unbiased sample, not first-N file order) until
    the source's running token total passes ``BUDGET_TOKENS_PER_SOURCE``; the doc that
    crosses the line is kept so every source with data reaches its budget.

    This is the budgeted-mixture step a real pretraining recipe runs —
    "X billion tokens of source A, Y of B" — complementing
    ``training_mix_sample`` (rate-based, no hard cap) and
    ``pack_token_bins`` (shapes already-selected docs into sequences).

    One shuffle on source + a per-source ordered cumsum window; the order
    key is the same seeded 60-bit hash the shuffle/split family uses, so
    the selection is deterministic, replayable, and independent of file
    layout. Skew = docs-per-source (same bound every per-source window op
    here carries); the budget filter prunes the output, not the scan.
    """
    from .text import tokens

    # ONE token definition engine-wide: text.tokens()/TOKEN_SEP (the same
    # counter pack_token_bins budgets by) — a second hardcoded separator
    # here would let the two samplers disagree about what a token is.
    toks = F.size(tokens(F.col("text")))
    keyed = docs.select(
        "doc_id",
        "source",
        toks.alias("n_tokens"),
        hash60(
            F.concat(F.lit("budget:v1:"), F.col("doc_id").cast("string"))
        ).alias("_k"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.asc("_k"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = keyed.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return cum.filter(
        F.col("cum_tokens") - F.col("n_tokens") < BUDGET_TOKENS_PER_SOURCE
    ).select("doc_id", "source", "n_tokens", "cum_tokens")


def sql_token_budget_sample() -> str:
    from .text import sql_tokens

    key = sql_hash60("'budget:v1:' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH keyed AS (
        SELECT doc_id, source,
               CAST(len({sql_tokens('text')}) AS INT) AS n_tokens,
               {key} AS k
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY k ASC NULLS FIRST, doc_id ASC NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM keyed
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM cum
    WHERE cum_tokens - n_tokens < {BUDGET_TOKENS_PER_SOURCE}
    """


# ---------------------------------------------------------------------------
# inverted index: capped posting lists for the highest-df tokens
# ---------------------------------------------------------------------------

POSTING_TOP_TOKENS = 50
POSTING_CAP = 20


def token_posting_lists(
    documents: DataFrame,
    *,
    top_tokens: int = POSTING_TOP_TOKENS,
    cap: int = POSTING_CAP,
) -> DataFrame:
    """Inverted index over the corpus: for the ``top_tokens`` tokens by
    document frequency, the sorted posting list of the ``cap`` smallest
    doc_ids — the exact-match retrieval primitive behind "which documents
    contain X" (contamination lookups, targeted scrubs, keyword audits).

    Scale shape, in order of the three traps this avoids: (1) the postings
    source is ``array_distinct`` per document BEFORE exploding, so a token
    repeated 10⁴× in one doc costs one row, not 10⁴; (2) token selection is
    sort+LIMIT (TakeOrderedAndProject — per-partition top-k then a
    k-sized merge, never a global sort or an unpartitioned window), ties
    broken by token text so both engines pick the same set; (3) posting
    lists are capped BEFORE collect_list by a per-token row_number — an
    uncapped collect of a stop-word's postings at 100 TB is a one-executor
    OOM. ``df`` stays the TRUE document frequency (counted before the
    cap); ``sort_array`` makes the list order engine-independent, and the
    list ships as a comma-joined STRING — the driver's compare sorts on
    every output column, so result schemas must stay scalar-only.

    The tokenize+explode runs twice (df pass, postings pass) by design:
    the scan projects only (doc_id, text), and re-reading it is cheaper
    at corpus scale than materializing the exploded token frame, which is
    an order of magnitude larger than its source.
    """
    from .text import tokens

    tok = documents.select(
        "doc_id",
        F.explode(F.array_distinct(tokens("text"))).alias("token"),
    ).filter(F.col("token") != "")
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    top = (
        dfreq.orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(top_tokens)
    )
    w = Window.partitionBy("token").orderBy(F.col("doc_id").asc_nulls_first())
    capped = (
        tok.join(F.broadcast(top), "token")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
    )
    return capped.groupBy("token", "df").agg(
        F.array_join(
            F.sort_array(F.collect_list("doc_id")).cast("array<string>"), ","
        ).alias("postings")
    )


def sql_token_posting_lists() -> str:
    from .text import sql_tokens

    return f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, t.token
        FROM documents, unnest({sql_tokens('text')}) AS t(token)
        WHERE t.token <> ''
    ),
    dfreq AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df
        FROM tok GROUP BY 1
    ),
    top AS (
        SELECT token, df FROM dfreq
        ORDER BY df DESC, token ASC LIMIT {POSTING_TOP_TOKENS}
    ),
    capped AS (
        SELECT tok.token, top.df, tok.doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY tok.token
                   ORDER BY tok.doc_id ASC NULLS FIRST
               ) AS rn
        FROM tok JOIN top USING (token)
    )
    SELECT token, df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM capped WHERE rn <= {POSTING_CAP}
    GROUP BY token, df
    """


# ---------------------------------------------------------------------------
# corpus snapshot diff (refresh audit)
# ---------------------------------------------------------------------------


def corpus_snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """(status, n_docs): added / removed / changed / unchanged counts
    between two corpus snapshots, comparing 60-bit content hashes per
    document id — the audit line a corpus-refresh job emits so a mixing
    pipeline knows whether downstream statistics (vocab cuts, dedup
    indexes, mixture weights) need rebuilding, and the guard that catches
    an upstream loader silently truncating or rewriting documents.

    Shape: each side projects to (id, content hash) at the scan — the
    full-outer join carries 16 bytes/doc, never text — and both sides
    arrive hash-partitioned on the id, so at scale it is a co-partitioned
    sort-merge join followed by one map-side-combinable count. NULL text
    hashes as the empty string (a doc whose text nulls out between
    snapshots is `changed`, not silently `unchanged`).
    """
    h = lambda c: hash60(F.coalesce(F.col(c), F.lit("")))  # noqa: E731
    o = old.select(F.col("doc_id"), h("text").alias("_h_old"))
    n = new.select(F.col("doc_id"), h("text").alias("_h_new"))
    status = (
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old") != F.col("_h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        o.join(n, "doc_id", "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def sql_corpus_snapshot_diff(
    old_where: str, new_where: str, new_text: str = "text"
) -> str:
    """DuckDB twin of :func:`corpus_snapshot_diff` over two filtered
    views of ``documents`` (``old_where`` / ``new_where`` pick the snapshot
    rows; ``new_text`` lets the new side rewrite text, mirroring how the
    registered query synthesizes a changed cohort)."""
    h_old = sql_hash60("COALESCE(text, '')")
    h_new = sql_hash60(f"COALESCE({new_text}, '')")
    return f"""
    WITH o AS (
        SELECT doc_id, {h_old} AS h_old FROM documents WHERE {old_where}
    ),
    n AS (
        SELECT doc_id, {h_new} AS h_new FROM documents WHERE {new_where}
    )
    SELECT CASE WHEN h_old IS NULL THEN 'added'
                WHEN h_new IS NULL THEN 'removed'
                WHEN h_old != h_new THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM o FULL OUTER JOIN n USING (doc_id)
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters: sketch pass + exact verify
# ---------------------------------------------------------------------------

MG_CAPACITY = 127


def _mg_partition(capacity: int):
    """Batched Misra-Gries summary over one partition's token stream.

    Per Arrow batch: pandas ``value_counts`` merges at C speed (dict work
    is per DISTINCT token, never per row), then one vectorized trim when
    the summary overflows — subtract the ``over``-th-smallest counter
    value from every counter and drop the non-positives, which removes at
    least ``over`` entries in one step. The trim is the classic decrement
    generalized: delta is the over-th smallest, so at least k+1 counters
    sit at >= delta and the trim burns >= delta*(k+1) of the partition's
    mass — hence the sum of all deltas is <= n_p/(k+1), and any token
    with partition count > n_p/(k+1) still has a positive counter at the
    end. Emits the surviving candidates with their RESIDUAL counter
    values (``weight``) — the mergeable-summary form :func:`_mg_merge`
    consumes — plus one NULL-token row whose weight is the partition's
    total token count.
    """

    def run(batches):
        import numpy as np
        import pandas as pd

        counters: dict = {}
        total = 0
        for pdf in batches:
            total += int(len(pdf))
            for tok, cnt in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            over = len(counters) - capacity
            if over > 0:
                vals = np.fromiter(
                    counters.values(), dtype=np.int64, count=len(counters)
                )
                delta = int(np.partition(vals, over - 1)[over - 1])
                counters = {t: c - delta for t, c in counters.items() if c > delta}
        yield pd.DataFrame(
            {
                "token": list(counters.keys()) + [None],
                "weight": pd.array(
                    list(counters.values()) + [total], dtype="Int64"
                ),
            }
        )

    return run


def _mg_merge(capacity: int):
    """Merge Misra-Gries summaries into one capacity-bounded summary.

    Consumes (token, weight) summary rows — residual counters from
    :func:`_mg_partition` or from a previous merge level — and runs the
    SAME trim: counters add token-wise (weighted), and on overflow the
    ``over``-th-smallest value is subtracted from every counter. MG
    summaries are mergeable with no loss of guarantee (Agarwal et al.,
    "Mergeable Summaries", PODS'12): every trim at every level burns
    >= delta*(k+1) of the ORIGINAL stream's mass, so the sum of all
    deltas across partitions and merge levels stays <= n/(k+1), and any
    token with global count > n/(k+1) still holds a positive counter in
    the final summary. NULL-token rows carry stream totals; their
    weights add outside the counter dict and re-emit as one NULL row.
    """

    def run(batches):
        import numpy as np
        import pandas as pd

        counters: dict = {}
        total = 0
        for pdf in batches:
            isnull = pdf["token"].isna()
            if isnull.any():
                total += int(pdf.loc[isnull, "weight"].sum())
            for tok, w in (
                pdf.loc[~isnull].groupby("token")["weight"].sum().items()
            ):
                counters[tok] = counters.get(tok, 0) + int(w)
            over = len(counters) - capacity
            if over > 0:
                vals = np.fromiter(
                    counters.values(), dtype=np.int64, count=len(counters)
                )
                delta = int(np.partition(vals, over - 1)[over - 1])
                counters = {t: c - delta for t, c in counters.items() if c > delta}
        yield pd.DataFrame(
            {
                "token": list(counters.keys()) + [None],
                "weight": pd.array(
                    list(counters.values()) + [total], dtype="Int64"
                ),
            }
        )

    return run


_MG_SUMMARY_SCHEMA = "token string, weight long"


def mg_summary(df: DataFrame, *, capacity: int = MG_CAPACITY) -> DataFrame:
    """The corpus-wide Misra-Gries summary as a <= capacity+1 row frame.

    Tree shape: per-partition summaries (zero shuffle, O(capacity) state
    per task) -> optional 32-way intermediate merge when the scan is wide
    (keeps any single merger's input bounded at ~parts/32 summaries) ->
    one final merger. The driver-facing result is O(capacity) ROWS
    REGARDLESS OF INPUT PARTITIONING — at 10^5 scan tasks the old flat
    collect was partitions*(capacity+1) candidate strings on the driver;
    the merged summary stays <= capacity+1 (VERDICT r9 item 3).
    """
    from .text import tokens

    stream = df.select(F.explode(tokens(F.col("text"))).alias("token"))
    sketch = stream.mapInPandas(_mg_partition(capacity), _MG_SUMMARY_SCHEMA)
    if sketch.rdd.getNumPartitions() > 32:
        sketch = sketch.repartition(32, F.col("token")).mapInPandas(
            _mg_merge(capacity), _MG_SUMMARY_SCHEMA
        )
    return sketch.repartition(1).mapInPandas(
        _mg_merge(capacity), _MG_SUMMARY_SCHEMA
    )


def frequent_tokens_sketch(df: DataFrame, *, capacity: int = MG_CAPACITY) -> DataFrame:
    """(token, n_occ, share): every token whose corpus-wide occurrence
    share strictly exceeds 1/(capacity+1), with EXACT counts — found
    without ever shuffling the vocabulary.

    Pass 1 (sketch + tree merge): each partition runs the bounded-memory
    Misra-Gries summary (:func:`_mg_partition`, O(capacity) state per
    task, zero shuffle), and the per-partition summaries tree-merge into
    ONE capacity-bounded summary (:func:`mg_summary` — MG summaries are
    mergeable with the same n/(k+1) guarantee, so the merged survivor
    set is still a SUPERSET of every global heavy hitter). Only that
    summary — <= capacity+1 rows no matter how many scan tasks ran — is
    collected like a fitted model, the same k-sized-collect boundary the
    ANN fitters use.

    Pass 2 (verify, pure JVM): the candidate set broadcasts back over a
    second scan; only candidate occurrences reach the aggregate, so the
    shuffle carries <= partitions*|candidates| partial rows — never the
    vocabulary. The strict integer filter n_occ*(k+1) > n_total (operands
    widened to decimal before the product, house overflow rule) makes the
    output exact AND partitioning-invariant: false candidates — artifacts
    of where file splits fell — are counted and discarded; true heavy
    hitters are never missed. The differential against the brute-force
    oracle is therefore equality, not tolerance.

    At 100 TB this replaces the full-vocabulary groupBy for head-only
    decisions (which keys need salting, which grams are boilerplate):
    vocab_top_tokens shuffles every distinct token to rank them all; this
    shuffles a capacity-bounded candidate set.
    """
    from .text import tokens

    def stream():
        return df.select(F.explode(tokens(F.col("text"))).alias("token"))

    rows = mg_summary(
        df, capacity=capacity
    ).collect()  # O(capacity): <= capacity+1 rows at any partitioning
    n_total = sum(r.weight for r in rows if r.token is None)
    cands = [(r.token,) for r in rows if r.token is not None]
    spark = df.sparkSession
    if not cands or n_total == 0:
        return spark.createDataFrame(
            [], "token string, n_occ bigint, share double"
        )
    cand_df = spark.createDataFrame(cands, "token string").distinct()
    d19 = "decimal(19,0)"
    return (
        stream()
        .join(F.broadcast(cand_df), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(
            F.col("n_occ").cast(d19) * F.lit(capacity + 1).cast(d19)
            > F.lit(n_total).cast(d19)
        )
        .select(
            "token",
            "n_occ",
            (F.col("n_occ").cast("double") / F.lit(float(n_total))).alias(
                "share"
            ),
        )
    )


def sql_frequent_tokens_sketch() -> str:
    """DuckDB twin: the brute-force full groupBy with the same strict
    share threshold — equality with the sketch+verify path is the MG
    superset guarantee made testable."""
    from .text import sql_tokens

    return f"""
    WITH t AS (
        SELECT unnest({sql_tokens('text')}) AS token FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM t),
    c AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occ FROM t GROUP BY 1
    )
    SELECT token, n_occ,
           CAST(n_occ AS DOUBLE) / (SELECT n FROM tot) AS share
    FROM c
    WHERE CAST(n_occ AS HUGEINT) * {MG_CAPACITY + 1} > (SELECT n FROM tot)
    """


# ---------------------------------------------------------------------------
# bigram PMI: collocation mining for phrase/vocabulary building
# ---------------------------------------------------------------------------

PMI_MICRO = 1_000_000  # PMI quantization: integer micro-nats
PMI_MIN_PAIR = 5  # pairs rarer than this are PMI noise, not collocations
PMI_TOP_K = 50


def bigram_pmi(
    df: DataFrame, *, min_pair: int = PMI_MIN_PAIR, k: int = PMI_TOP_K
) -> DataFrame:
    """Top-``k`` adjacent-token collocations by pointwise mutual
    information — the statistical step behind phrase detection and
    wordpiece/BPE-style vocabulary growth: a pair that co-occurs far more
    than its parts' frequencies predict ("new york") is a merge/phrase
    candidate, where a merely common pair ("of the") is not. PMI =
    ln(P(w1 w2) / (P(w1)·P(w2))) with P from corpus counts; pairs below
    ``min_pair`` occurrences are dropped (rare-pair PMI is noise — one
    co-occurrence of two rare words maxes the score).

    Exactness: counts are exact bigints; PMI evaluates as ONE double
    expression ``ln((c2·n·n)/(nb·c1a·c1b))`` with an identical
    association tree on both engines (products in double: the operands
    exceed int64 at corpus scale, and IEEE double ops are deterministic),
    quantized to micro-nats once. Shape: one tokenization pass feeds two
    map-side-combined count aggregations; scoring joins bigram counts to
    the two unigram counts (narrow shuffles on the gram/token strings —
    at 100 TB hash them first and the shuffles carry 8-byte keys); the
    ordered result is TakeOrderedAndProject, never a global sort. Ties
    break on the pair text, so top-k is deterministic.
    """
    from .text import gram_strings, tokens

    # Persist the two count tables (vocabulary-sized — orders of magnitude
    # smaller than the corpus; the shingle_features discipline): uni is
    # joined twice (w1 and w2 sides) and both scalars aggregate off these
    # tables, so without the persist Catalyst re-inlined the explode
    # pipelines per consumer and the plan scanned the CORPUS four times
    # (caught in the round-11 PLANS.md audit). Now exactly two corpus
    # scans: one per explode.
    uni = (
        df.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
        .persist()
    )
    big = df.select(F.explode(gram_strings(F.col("text"), 2)).alias("g"))
    bigc = big.groupBy("g").agg(F.count(F.lit(1)).alias("c2")).persist()
    # both corpus scalars derive from the persisted aggregates by exact
    # bigint identity — every token occurrence is counted once in uni
    # (n = Σc1) and every adjacent pair once in bigc (nb = Σ per-doc
    # max(t−1, 0) = Σc2) — replacing what used to be a third full corpus
    # scan with two vocabulary-sized sums
    stats = F.broadcast(
        uni.agg(F.sum("c1").alias("n")).crossJoin(
            bigc.agg(F.sum("c2").alias("nb"))
        )
    )
    pairs = (
        bigc.filter(F.col("c2") >= min_pair)
        .withColumn("w1", F.split_part(F.col("g"), F.lit(TOKEN_SEP), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("g"), F.lit(TOKEN_SEP), F.lit(2)))
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1b"))
    pmi = F.round(
        F.log(
            F.col("c2").cast("double")
            * F.col("n")
            * F.col("n")
            / (
                F.col("nb").cast("double")
                * F.col("c1a")
                * F.col("c1b")
            )
        )
        * PMI_MICRO
    ).cast("bigint")
    return (
        pairs.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(stats)
        .select(
            "w1",
            "w2",
            F.col("c2").alias("n_pair"),
            pmi.alias("pmi_micro"),
        )
        .orderBy(
            F.desc("pmi_micro"), F.asc("w1"), F.asc("w2")
        )
        .limit(k)
    )


def sql_bigram_pmi() -> str:
    from .text import sql_gram_strings_over_w, sql_tokens

    return f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens('text')} AS w FROM documents
    ),
    uni AS (
        SELECT t.tok AS w, COUNT(*) AS c1
        FROM (SELECT unnest(w) AS tok FROM toks) t
        GROUP BY 1
    ),
    tot AS (
        SELECT SUM(len(w)) AS n,
               SUM(CASE WHEN len(w) >= 2 THEN len(w) - 1 ELSE 0 END) AS nb
        FROM toks
    ),
    big AS (
        SELECT unnest({sql_gram_strings_over_w(2)}) AS g FROM toks
    ),
    bigc AS (SELECT g, COUNT(*) AS c2 FROM big GROUP BY 1),
    pairs AS (
        SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2, c2
        FROM bigc WHERE c2 >= {PMI_MIN_PAIR}
    )
    SELECT p.w1, p.w2,
           CAST(p.c2 AS BIGINT) AS n_pair,
           CAST(ROUND(ln(CAST(p.c2 AS DOUBLE) * tot.n * tot.n
                         / (CAST(tot.nb AS DOUBLE) * a.c1 * b.c1))
                      * {PMI_MICRO}) AS BIGINT) AS pmi_micro
    FROM pairs p
    JOIN uni a ON p.w1 = a.w
    JOIN uni b ON p.w2 = b.w
    CROSS JOIN tot
    ORDER BY pmi_micro DESC NULLS LAST, w1 ASC NULLS FIRST, w2 ASC NULLS FIRST
    LIMIT {PMI_TOP_K}
    """


# ---------------------------------------------------------------------------
# sequence-length bucketing (batching/padding-efficiency report)
# ---------------------------------------------------------------------------


def length_bucket_stats(documents: DataFrame) -> DataFrame:
    """Power-of-two token-length buckets with padding-waste accounting —
    the report behind length-bucketed batch assembly: sequences padded to
    their bucket capacity waste ``capacity − n_tokens`` positions, and
    the per-bucket waste fraction tells a pipeline whether its bucket
    edges fit the corpus length distribution (group-by-length batching;
    the same arithmetic drives packing vs padding decisions next to
    :func:`pack_token_bins`).

    Bucket = floor(log2(n_tokens)) computed INTEGER-exact as
    ``length(bin(n)) − 1`` (no float log whose rounding could flip a doc
    at an exact power of two between engines); capacity = 2^(bucket+1),
    the next power of two every sequence in the bucket pads up to. One
    scan, one map-side-combined aggregate; at 100 TB the shuffle is
    ~60 bucket rows per partition.
    """
    from .text import tokens

    text = F.coalesce(F.col("text"), F.lit(""))
    n_tok = F.size(tokens(text))
    bucket = (F.length(F.bin(n_tok.cast("bigint"))) - F.lit(1)).cast("int")
    return (
        # split('') -> [''] counts 1 token, so blank docs are excluded by
        # trimmed length, not by n > 0 (same rule both engines)
        documents.where(F.length(F.trim(text)) > 0)
        .select(
            bucket.alias("bucket"),
            n_tok.cast("bigint").alias("_n"),
        )
        # shiftleft(Column, Column) isn't exposed in the Python API; the
        # SQL form takes the bucket column fine and stays integer-exact
        .withColumn("_cap", F.expr("shiftleft(cast(1 as bigint), bucket + 1)"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("sum_tokens"),
            (F.sum(F.col("_cap") - F.col("_n"))).alias("pad_waste_tokens"),
            (
                F.sum(F.col("_cap") - F.col("_n")).cast("double")
                / F.sum("_cap").cast("double")
            ).cast("decimal(18,4)").cast("double").alias("pad_waste_frac"),
        )
    )


def sql_length_bucket_stats() -> str:
    from .text import sql_tokens

    return f"""
    WITH toks AS (
        SELECT len({sql_tokens("COALESCE(text, '')")})::BIGINT AS n
        FROM documents
        WHERE length(trim(COALESCE(text, ''))) > 0
    ),
    b AS (
        SELECT n,
               CAST(length(bin(n)) - 1 AS INT) AS bucket,
               (CAST(1 AS BIGINT) << length(bin(n))) AS cap
        FROM toks
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS sum_tokens,
           CAST(SUM(cap - n) AS BIGINT) AS pad_waste_tokens,
           CAST(CAST(SUM(cap - n)::DOUBLE / SUM(cap)::DOUBLE
                    AS DECIMAL(18,4)) AS DOUBLE) AS pad_waste_frac
    FROM b GROUP BY 1
    """


# ---------------------------------------------------------------------------
# per-source dataset card (single-scan audit report)
# ---------------------------------------------------------------------------


def source_audit_report(documents: DataFrame) -> DataFrame:
    """Per-source dataset card in ONE corpus scan: volume (docs, chars),
    language spread, and the exact duplicate rate (1 − distinct content
    hashes / docs) — the per-ingest-source summary a data curator reads
    before deciding mixture weights, next to dedup_rate_by_source (which
    reports the dedup dimension alone).

    One groupBy on the source key; the two COUNT DISTINCTs expand the
    aggregate ×2 map-side but shuffle only (source, hash/lang) partials —
    never the text. At 100 TB the cost driver is the corpus scan itself,
    which every column here shares.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    return (
        documents.groupBy(F.col("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(text)).alias("n_chars_total"),
            F.count_distinct(F.col("lang")).alias("n_langs"),
            F.count_distinct(F.md5(text)).alias("n_distinct_texts"),
            (
                F.lit(1.0)
                - F.count_distinct(F.md5(text)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).cast("decimal(18,4)").cast("double").alias("dup_frac"),
        )
    )


def sql_source_audit_report() -> str:
    return """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(COALESCE(text, ''))) AS BIGINT)
               AS n_chars_total,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT md5(COALESCE(text, ''))) AS BIGINT)
               AS n_distinct_texts,
           CAST(CAST(1.0 - COUNT(DISTINCT md5(COALESCE(text, '')))::DOUBLE
                    / COUNT(*)::DOUBLE AS DECIMAL(18,4)) AS DOUBLE) AS dup_frac
    FROM documents GROUP BY 1
    """


# ---------------------------------------------------------------------------
# BM25 lexical retrieval (Okapi BM25, Lucene idf variant)
# ---------------------------------------------------------------------------

# k1 = 6/5 = 1.2 and b = 3/4 = 0.75 (the standard defaults) kept as exact
# rationals so the saturation term can be cleared to an integer-ratio form
# shared bit-for-bit by both engines (see bm25_topk).
BM25_K1_NUM, BM25_K1_DEN = 6, 5
BM25_B_NUM, BM25_B_DEN = 3, 4
BM25_QUERY_DOCS = 8  # self-retrieval query set: doc_id < 8
BM25_TOP_K = 5


def bm25_topk(
    documents: DataFrame, *, k: int = BM25_TOP_K, n_query_docs: int = BM25_QUERY_DOCS
) -> DataFrame:
    """Per-query BM25 top-``k`` documents — the lexical-retrieval twin of
    the embedding ANN tier (``similarity.cosine_topk``). The query set is
    the first ``n_query_docs`` documents' distinct tokens (self-retrieval:
    each query should rank itself #1, which the tests pin), the same
    dimension-sized-broadcast posture as ``similarity.self_queries``.
    Hard-negative mining, contamination triage, and RAG retrieval at
    100 TB all start from exactly this shape: tiny query set, one pass
    over the corpus statistics.

    Determinism across engines — every float op is either (a) an exact
    integer cleared form or (b) an IEEE op on identical doubles in
    identical order:

    - idf is the Lucene non-negative variant
      ``ln((N - df + 0.5)/(df + 0.5) + 1)``, micro-quantized to bigint
      (the ``tfidf_top_terms`` discipline) so downstream arithmetic is
      exact;
    - the saturation term ``tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))`` with
      ``avgdl = L/N`` is cleared of divisions by multiplying through by
      ``k1_den·b_den·L``: numerator ``44·tf·L``, denominator
      ``20·L·tf + 6·L + 18·dl·N`` — integer-valued doubles multiplied in
      a fixed association, so both engines produce bit-identical values;
    - each (query, doc, term) contribution is micro-quantized to bigint
      and SUMMED EXACTLY (integer sum — order-independent, unlike a
      double sum whose hash-agg combine order differs between engines).

    Plan shape: per-document (term, tf) pairs come from a SORT +
    RUN-LENGTH array expression (array_sort, run starts, run length =
    next start − start; O(len·log len) per document, all JVM-side) — the
    corpus NEVER shuffles for its own term statistics, unlike the naive
    explode→groupBy(doc, term) which moves every token occurrence through
    an exchange. The per-doc frame (doc_id, dl, pairs) is persisted and
    is the single corpus scan; document frequencies, corpus scalars
    (N, L), and the query-term dictionary all derive from it. The scoring
    join streams exploded tf rows against the BROADCAST query-term
    dictionary (query-terms × vocab hits only — a corpus row whose term
    no query contains never shuffles), with doc length already riding the
    row. Top-k is the two-stage rank (local heap per (query, partition),
    then the k·n_partitions survivors) — no single-reducer-per-query skew
    however few queries there are.

    No analogue in the reference (its pipeline has no retrieval); this is
    the SURVEY §7.1 step-6 extension surface, same family as
    token_posting_lists/tfidf_top_terms.
    """
    from ..functions import bind
    from .text import tokens

    c = F.coalesce(F.col("text"), F.lit(""))

    def run_length_pairs(st: Column, n: Column) -> Column:
        # st is sorted, so equal terms are adjacent: a run starts where
        # the previous element differs. element_at(st, pos) is 1-based =
        # the 0-based predecessor of index pos; F.get is 0-based and
        # null-safe past the end (the final run's length closes on n).
        starts = F.filter(
            F.transform(
                st, lambda x, i: F.struct(i.alias("pos"), x.alias("term"))
            ),
            lambda s: (s["pos"] == 0)
            | (F.element_at(st, s["pos"]) != s["term"]),
        )
        return bind(
            starts,
            lambda sts: F.transform(
                sts,
                lambda s, j: F.struct(
                    s["term"].alias("term"),
                    (F.coalesce(F.get(sts, j + 1)["pos"], n) - s["pos"])
                    .cast("bigint")
                    .alias("tf"),
                ),
            ),
        )

    base = (
        documents.select(
            F.col("doc_id"),
            bind(
                F.array_sort(F.filter(tokens(c), lambda x: x != "")),
                lambda st: bind(
                    F.size(st),
                    lambda n: F.struct(
                        n.cast("bigint").alias("dl"),
                        run_length_pairs(st, n).alias("pairs"),
                    ),
                ),
            ).alias("_s"),
        )
        .select("doc_id", F.col("_s.dl").alias("dl"), F.col("_s.pairs").alias("pairs"))
        .persist()
    )
    # N counts ALL documents (empty docs keep a base row with dl = 0 and
    # count toward avgdl's denominator); one agg over the cached frame.
    scal = F.broadcast(
        base.agg(
            F.sum("dl").alias("total_len"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    tf = base.select("doc_id", "dl", F.explode("pairs").alias("_p")).select(
        "doc_id",
        "dl",
        F.col("_p.term").alias("term"),
        F.col("_p.tf").alias("tf"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = tf.filter(F.col("doc_id") < n_query_docs).select(
        F.col("doc_id").alias("query_id"), "term"
    )
    # (query_id, term, idf_micro): query-term-sized — df rows survive the
    # broadcast semi-join with the query dictionary before the expensive
    # corpus-side join ever sees them.
    idf = (
        dfreq.join(F.broadcast(qterms), "term")
        .crossJoin(scal)
        .select(
            "query_id",
            "term",
            # the corpus scalars ride the (tiny) broadcast rows, so the
            # corpus-sized side never needs its own scalar crossJoin.
            "total_len",
            "n_docs",
            F.round(
                F.log(
                    (
                        F.col("n_docs").cast("double")
                        - F.col("df")
                        + F.lit(0.5)
                    )
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * F.lit(1_000_000.0)
            )
            .cast("bigint")
            .alias("idf_micro"),
        )
    )
    k1p1_num = BM25_K1_NUM + BM25_K1_DEN  # k1+1 = 11/5
    # cleared saturation: multiply num and den by k1_den·b_den·L = 20·L
    #   num = (k1+1)·k1_den·b_den·tf·L            = 44·tf·L
    #   den = 20·L·tf + k1_num·(b_den−b_num)·L + k1_num·b_num·dl·N
    #       = 20·L·tf + 6·L + 18·dl·N
    num_d = (
        F.lit(float(k1p1_num * BM25_B_DEN)) * F.col("tf")
    ) * F.col("total_len")
    den_d = (
        (F.lit(float(BM25_K1_DEN * BM25_B_DEN)) * F.col("total_len"))
        * F.col("tf")
        + F.lit(float(BM25_K1_NUM * (BM25_B_DEN - BM25_B_NUM)))
        * F.col("total_len")
        + (F.lit(float(BM25_K1_NUM * BM25_B_NUM)) * F.col("dl"))
        * F.col("n_docs")
    )
    # dl already rides every tf row (run-length form), so the scoring
    # pipeline is scan → broadcast-join → project → partial agg with NO
    # corpus-sized exchange before the (query, doc)-keyed combine.
    scored = (
        tf.join(F.broadcast(idf), "term")
        .select(
            "query_id",
            F.col("doc_id").alias("vec_id"),
            F.round(
                (F.col("idf_micro").cast("double") * num_d) / den_d
            )
            .cast("bigint")
            .alias("term_micro"),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.sum("term_micro").alias("cos"))
    )
    from .similarity import _topk_two_stage

    out = _topk_two_stage(scored, k)
    return out.select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("cos").alias("score_micro"),
        "rank",
    )


def sql_bm25_topk() -> str:
    from .text import sql_tokens

    k1p1_b_den = float((BM25_K1_NUM + BM25_K1_DEN) * BM25_B_DEN)  # 44
    k1d_bd = float(BM25_K1_DEN * BM25_B_DEN)  # 20
    k1n_bgap = float(BM25_K1_NUM * (BM25_B_DEN - BM25_B_NUM))  # 6
    k1n_bn = float(BM25_K1_NUM * BM25_B_NUM)  # 18
    return f"""
    WITH tok AS (
        SELECT doc_id AS doc_id, t.term
        FROM documents,
             unnest({sql_tokens("COALESCE(text, '')")}) AS t(term)
        WHERE t.term <> ''
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2
    ),
    dl AS (
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
    ),
    scal AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
               (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS total_len
    ),
    dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    qterms AS (
        SELECT DISTINCT doc_id AS query_id, term
        FROM tf WHERE doc_id < {BM25_QUERY_DOCS}
    ),
    idf AS (
        SELECT q.query_id, q.term,
               CAST(round(ln((CAST(s.n_docs AS DOUBLE) - d.df + 0.5)
                             / (d.df + 0.5) + 1.0) * 1000000.0) AS BIGINT)
                   AS idf_micro
        FROM qterms q
        JOIN dfreq d USING (term)
        CROSS JOIN scal s
    ),
    scored AS (
        SELECT i.query_id, t.doc_id,
               CAST(SUM(CAST(round(
                   (CAST(i.idf_micro AS DOUBLE)
                    * (({k1p1_b_den} * t.tf) * s.total_len))
                   / (({k1d_bd} * s.total_len) * t.tf
                      + {k1n_bgap} * s.total_len
                      + ({k1n_bn} * d.dl) * s.n_docs)
               ) AS BIGINT)) AS BIGINT) AS score_micro
        FROM tf t
        JOIN idf i USING (term)
        JOIN dl d ON t.doc_id = d.doc_id
        CROSS JOIN scal s
        GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score_micro, CAST(rank AS INT) AS rank
    FROM (
        SELECT query_id, doc_id, score_micro,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY score_micro DESC NULLS LAST,
                            doc_id ASC NULLS FIRST
               ) AS rank
        FROM scored
    )
    WHERE rank <= {BM25_TOP_K}
    """


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucket mix (head / middle / tail per language)
# ---------------------------------------------------------------------------


def lm_score_bucket_mix(documents: DataFrame) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al. 2020): score every
    document under the corpus bigram LM (:func:`doc_lm_score`), then cut
    each LANGUAGE into exact head/middle/tail tertiles by score — head =
    most-fluent third, the slice CCNet keeps by default; tail = the
    gibberish end. Output (doc_id, lang, avg_nll_micro, bucket).

    Tertiles are RANK-based, not value-based: rank within language by
    (score, doc_id) — a total order, so both engines agree on every
    boundary doc even when scores tie — and the boundary test is the
    pure-integer comparison ``3·(rank−1) < n`` / ``< 2n`` in BOTH twins
    (no division at all, so no float ever meets a boundary; ADVICE r12
    retired the earlier double-division form whose exactness claim held
    only up to 2^53). No float percentile appears anywhere.

    Scale: the LM scoring is doc_lm_score's plan (micro-nat integer sums)
    with ``lang`` riding the scoring explode as a carry column — no
    fourth corpus scan to re-join a doc-constant attribute; the cut adds
    ONE rank window partitioned by language. Per-language rank is a
    per-language sort at 100 TB — the honest exact form; the
    production-at-scale variant swaps the window for one
    approx_percentile pass + broadcast threshold cuts, exactly the
    ``user_rfm_segments_approx`` sketch pattern (same tie caveats).
    Documents with < 2 tokens have no LM score and no row, matching
    doc_lm_score.
    """
    scores = doc_lm_score(documents, carry_cols=("lang",))
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_nll_micro").asc_nulls_first(), F.col("doc_id").asc_nulls_first()
    )
    wn = Window.partitionBy("lang")
    ranked = scores.withColumn("_r", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wn)
    )
    three_rm1 = F.lit(3).cast("bigint") * (F.col("_r") - F.lit(1))
    bucket = (
        F.when(three_rm1 < F.col("_n"), F.lit("head"))
        .when(three_rm1 < F.lit(2).cast("bigint") * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ranked.select(
        "doc_id", "lang", "avg_nll_micro", bucket.alias("bucket")
    )


def sql_lm_score_bucket_mix() -> str:
    lm = sql_doc_lm_score()
    return f"""
    WITH lm AS ({lm}),
    ranked AS (
        SELECT lm.doc_id, d.lang AS lang, lm.avg_nll_micro,
               ROW_NUMBER() OVER (
                   PARTITION BY d.lang
                   ORDER BY lm.avg_nll_micro ASC NULLS FIRST,
                            lm.doc_id ASC NULLS FIRST
               ) AS _r,
               COUNT(*) OVER (PARTITION BY d.lang) AS _n
        FROM lm JOIN documents d ON lm.doc_id = d.doc_id
    )
    SELECT doc_id, lang, avg_nll_micro,
           CASE WHEN 3 * (_r - 1) < _n THEN 'head'
                WHEN 3 * (_r - 1) < 2 * _n THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
    """


# ---------------------------------------------------------------------------
# Zipf rank-frequency slope (corpus-health regression)
# ---------------------------------------------------------------------------

#: Zipf fit region: the classic head of the rank-frequency curve. Bounded
#: so the OLS state is a fixed small set of exact sums however large the
#: vocabulary grows.
ZIPF_TOP_RANKS = 1000


def vocab_zipf_slope(documents: DataFrame) -> DataFrame:
    """One-row corpus-health report: the OLS slope of ln(frequency) on
    ln(rank) over the top-``ZIPF_TOP_RANKS`` tokens — natural language sits
    near the Zipf line (slope ≈ −1); template/boilerplate-dominated or
    synthetic corpora bend it, and a drifting slope between snapshots is
    an early corruption signal no per-document filter sees.

    Exactness: ln(rank) and ln(count) are micro-quantized to bigints (the
    idf discipline), the five OLS sums (n, Σx, Σy, Σxy, Σx²) accumulate
    as exact integers — Σxy/Σx² through DECIMAL(38,0), whose products
    exceed bigint at web-scale counts — and the closed form
    ``(nΣxy − ΣxΣy) / (nΣx² − Σx²)`` computes numerator and denominator
    as exact decimals cast once to double for the final division, so both
    engines emit the identical double. Rank ties break by token text.

    Scale: one tokenize → one map-side-combined count agg → top-k by
    (count, token) via sort+LIMIT (TakeOrderedAndProject, the
    token_posting_lists discipline) → ranks by the k×k broadcast
    count-ahead join (the ``vocab_top_tokens`` pattern — the registry has
    banned unpartitioned windows since round 7) → one 5-sum aggregate
    over ≤ ``ZIPF_TOP_RANKS`` rows. The regression state is O(1).
    """
    from .text import tokens

    c = F.coalesce(F.col("text"), F.lit(""))
    # the ≤ top_ranks-row result feeds BOTH sides of the count-ahead rank
    # join; persisted so the tokenize+agg pipeline isn't re-inlined per
    # side (the round-11 persist discipline — unpersisted this scanned
    # documents twice).
    counts = (
        documents.select(F.explode(tokens(c)).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(ZIPF_TOP_RANKS)
        .persist()
    )
    ahead = counts.select(
        F.col("token").alias("_t2"), F.col("cnt").alias("_c2")
    )
    strictly_ahead = (F.col("_c2") > F.col("cnt")) | (
        (F.col("_c2") == F.col("cnt")) & (F.col("_t2") < F.col("token"))
    )
    ranked = (
        counts.join(F.broadcast(ahead), strictly_ahead, "left")
        .groupBy("token", "cnt")
        .agg((F.count("_t2") + 1).cast("bigint").alias("rank"))
    )
    xy = ranked.select(
        F.round(F.log(F.col("rank").cast("double")) * F.lit(1e6))
        .cast("bigint")
        .alias("x"),
        F.round(F.log(F.col("cnt").cast("double")) * F.lit(1e6))
        .cast("bigint")
        .alias("y"),
    )
    d38 = "decimal(38,0)"
    sums = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x").cast(d38) * F.col("y").cast(d38))).alias("sxy"),
        F.sum((F.col("x").cast(d38) * F.col("x").cast(d38))).alias("sxx"),
    )
    n = F.col("n").cast(d38)
    num = n * F.col("sxy") - F.col("sx").cast(d38) * F.col("sy").cast(d38)
    den = n * F.col("sxx") - F.col("sx").cast(d38) * F.col("sx").cast(d38)
    return sums.select(
        F.col("n").alias("n_ranks"),
        (num.cast("double") / den.cast("double")).alias("zipf_slope"),
    )


def sql_vocab_zipf_slope() -> str:
    from .text import sql_tokens

    return f"""
    WITH counts AS (
        SELECT t.token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents,
             unnest({sql_tokens("COALESCE(text, '')")}) AS t(token)
        WHERE t.token <> ''
        GROUP BY 1
        ORDER BY cnt DESC, token ASC
        LIMIT {ZIPF_TOP_RANKS}
    ),
    xy AS (
        SELECT CAST(round(ln(CAST(ROW_NUMBER() OVER (
                   ORDER BY cnt DESC, token ASC) AS DOUBLE)) * 1000000.0)
                   AS BIGINT) AS x,
               CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT)
                   AS y
        FROM counts
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS sxy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                   AS sxx
        FROM xy
    )
    SELECT n AS n_ranks,
           CAST(CAST(n AS DECIMAL(38,0)) * sxy
                - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
                AS DOUBLE)
           / CAST(CAST(n AS DECIMAL(38,0)) * sxx
                  - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
                  AS DOUBLE) AS zipf_slope
    FROM sums
    """


# ---------------------------------------------------------------------------
# per-source dedup-rate trend over ingest days (temporal dataset card)
# ---------------------------------------------------------------------------

#: synthetic ingest-day count for the registered query: the testdata's
#: documents carry no ingest date, so the registered lane derives a
#: deterministic day ``doc_id % 7`` — the same honest-fixture posture as
#: the eval/train predicate splits. A production corpus passes its real
#: ingest-date column instead; the operator is day-source-agnostic.
TREND_DAYS = 7


def source_dedup_trend(documents: DataFrame) -> DataFrame:
    """(source, ingest_day, n_docs, n_dup, dup_frac): per-source exact-
    duplicate rate per ingest day AGAINST EVERYTHING INGESTED BEFORE —
    the temporal twin of :func:`source_audit_report`. A doc counts as a
    duplicate unless it is the FIRST occurrence of its content hash in
    (day, doc_id) order, so day d's rate is measured against the
    accreted index of days < d plus earlier arrivals within d — exactly
    the number the daily ingest CLI's dedup stage would report, and the
    trend a curator watches to catch a source going stale (re-crawls
    rising) before it poisons mixture weights.

    Scale shape: one corpus scan; first-occurrence attribution is a
    row_number window partitioned by the CONTENT HASH (key-partitioned —
    never a global window), i.e. one hash shuffle carrying (hash, day,
    source, id); then one map-side-combined (source, day) aggregate.
    dup_frac is one double division of exact counts.
    """
    day = (F.col("doc_id") % F.lit(TREND_DAYS)).cast("int")
    text = F.coalesce(F.col("text"), F.lit(""))
    w = Window.partitionBy("_h").orderBy(
        F.col("ingest_day").asc(), F.col("doc_id").asc()
    )
    ranked = documents.select(
        F.col("doc_id"),
        F.col("source"),
        day.alias("ingest_day"),
        F.md5(text).alias("_h"),
    ).withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("source", "ingest_day")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("_rn") > 1).cast("bigint")).alias("n_dup"),
        )
        .select(
            "source",
            "ingest_day",
            "n_docs",
            "n_dup",
            (F.col("n_dup").cast("double") / F.col("n_docs").cast("double"))
            .alias("dup_frac"),
        )
    )


def sql_source_dedup_trend() -> str:
    return f"""
    WITH ranked AS (
        SELECT source,
               CAST(doc_id % {TREND_DAYS} AS INT) AS ingest_day,
               ROW_NUMBER() OVER (
                   PARTITION BY md5(COALESCE(text, ''))
                   ORDER BY doc_id % {TREND_DAYS} ASC, doc_id ASC
               ) AS rn
        FROM documents
    )
    SELECT source, ingest_day,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS dup_frac
    FROM ranked
    GROUP BY 1, 2
    """
