"""Text-analysis operators for LLM-data-pipeline workloads over `documents`.

Everything here is built-in-expression only (JVM-side, whole-stage codegen):
tokenization via ``split``, shingling via ``transform``/``sequence``, hashing
via md5-hex→bigint (:func:`kafkastreamingetl_spark.functions.hash60`), SimHash
via nested ``aggregate`` folds. No Python UDFs — at 100 TB the per-row
JVM↔Python boundary would dominate; these expressions scan-and-project in one
codegen stage with no shuffle at all (aggregate variants shuffle once on the
group keys).

Each operator has a ``sql_*`` twin emitting the equivalent DuckDB expression
so the oracle harness checks the exact same computation (hash parity is
bit-for-bit — see functions.hash60).

The reference has no text operators (it is a Kafka ETL demo); these implement
the north-star extension surface from BASELINE.json / SURVEY.md §7.1 step 6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import array_lit, bind, dsum, ensure_parallelism, hash60, sql_dsum, sql_hash60

# Documents tokenize on single spaces (testdata `documents.text` is
# single-space-separated lowercase ASCII; verified in TESTDATA probes). A
# general corpus would split on ``\s+`` — kept literal so the DuckDB twin
# (string_split) is exactly equivalent.
TOKEN_SEP = " "

# Tiny function-word profile for the language-guess heuristic. Deliberately
# minimal: a real lang-id model is out of scope (no external models in this
# container); the operator demonstrates the *shape* — per-doc token-overlap
# scoring against per-language profiles, all in built-in expressions.
EN_STOPWORDS = ("a", "the", "of", "and", "to", "in", "is", "it")

SHINGLE_N = 3  # word n-gram width shared by SimHash + MinHash pipelines

SIMHASH_BITS = 60  # matches hash60's width


def tokens(col: str | Column) -> Column:
    """``split`` on the token separator → array<string> (order-preserving)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, TOKEN_SEP)


def sql_tokens(expr: str) -> str:
    return f"string_split({expr}, '{TOKEN_SEP}')"


# Let-binding (functions.bind): for the gram builders an unbound reference
# meant ``split(text)`` re-ran per ``element_at`` — ~3 re-tokenizations per
# gram, quadratic in document length (measured 2.2× on the sf0.1 hot-gram
# report, compounding under the 12-minhash pipeline).
_bind = bind


def _grams_over(t: Column, n: int) -> Column:
    """Positional n-gram strings over a BOUND token-array variable."""
    idx = F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            TOKEN_SEP, *[F.element_at(t, i + j) for j in range(n)]
        ),
    )


def gram_strings(col: str | Column, n: int = SHINGLE_N) -> Column:
    """Positional word ``n``-gram strings — NOT distinct, NOT hashed.

    The raw-span sibling of :func:`shingle_hashes` for consumers that need
    occurrence counts or human-readable grams (boilerplate detection).
    Short documents (< n tokens) yield an empty array (same descending-
    ``sequence`` guard). The tokenization is let-bound (:func:`_bind`) so
    the document splits once, not once per gram element."""
    return _bind(tokens(col), lambda t: _grams_over(t, n))


def sql_gram_strings_over_w(n: int = SHINGLE_N) -> str:
    """DuckDB twin of :func:`gram_strings` over a tokens column named ``w``."""
    gram = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    return f"[({gram}) for i in range(1, greatest(len(w) - {n - 2}, 1))]"


def shingle_hashes(col: str | Column, n: int = SHINGLE_N) -> Column:
    """Distinct 60-bit hashes of word ``n``-grams — the document's feature set.

    ``transform(sequence(1, size-n+1))`` builds the shingles positionally
    (1-based ``element_at``); short documents (< n tokens) yield an empty
    set (guarded: Spark's ``sequence(1, 0)`` would *descend*). Distinct is
    taken on the *hash* values: min/intersect/union consumers are all
    set-semantics, so ordering differences between engines are irrelevant.
    The tokenization is let-bound (:func:`_bind`) so the document splits
    once, not once per gram element.
    """
    grams = _bind(tokens(col), lambda t: _grams_over(t, n))
    return F.array_distinct(F.transform(grams, hash60))


def sql_shingle_hashes_over_w(n: int = SHINGLE_N) -> str:
    """DuckDB twin of :func:`shingle_hashes`, over a tokens column named ``w``.

    Callers must provide ``w`` (e.g. via a CTE ``SELECT string_split(text,
    ' ') AS w``); DuckDB ``range`` has exclusive end and never descends, so
    the short-document case degrades to an empty list without a guard.
    """
    gram = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    return (
        f"list_distinct([{sql_hash60(f'({gram})')} "
        f"for i in range(1, greatest(len(w) - {n - 2}, 1))])"
    )


# ---------------------------------------------------------------------------
# per-document quality metrics
# ---------------------------------------------------------------------------


def doc_quality(df: DataFrame) -> DataFrame:
    """Per-document quality metrics: counts, ratios, a language guess.

    Pure projection — no shuffle; at 100 TB this is a single scan that
    Catalyst fuses with the parquet read (column pruning keeps only the
    consumed columns). All ratios are single double divisions of exact
    integer counts, so they are bit-identical across engines. NULL text
    is scored as the empty document (coalesce — the same P5 null-fill
    posture as rolling_hash/language_id), not as all-NULL metrics that
    silently fall out of downstream ratio filters.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    t = tokens(text)
    n_tok = F.size(t)
    n_distinct = F.size(F.array_distinct(t))
    n_stop = F.size(F.filter(t, lambda x: x.isin(*EN_STOPWORDS)))
    return df.select(
        "doc_id",
        F.length(text).alias("n_chars"),
        n_tok.cast("bigint").alias("n_tokens"),
        n_distinct.cast("bigint").alias("n_distinct_tokens"),
        (n_distinct.cast("double") / n_tok).alias("type_token_ratio"),
        (n_stop.cast("double") / n_tok).alias("stopword_ratio"),
        # mean token length: chars minus the separators, over token count
        ((F.length(text) - (n_tok - F.lit(1))).cast("double") / n_tok).alias(
            "avg_token_len"
        ),
        F.when(n_stop > 0, F.lit("en")).otherwise(F.lit("unknown")).alias("lang_guess"),
    )


def sql_doc_quality() -> str:
    stop = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    return f"""
    WITH toks AS (
        SELECT doc_id,
               COALESCE(text, '') AS text,
               {sql_tokens("COALESCE(text, '')")} AS w
        FROM documents
    )
    SELECT doc_id,
           length(text) AS n_chars,
           len(w)::BIGINT AS n_tokens,
           len(list_distinct(w))::BIGINT AS n_distinct_tokens,
           len(list_distinct(w))::DOUBLE / len(w) AS type_token_ratio,
           len(list_filter(w, x -> x IN ({stop})))::DOUBLE / len(w)
               AS stopword_ratio,
           (length(text) - (len(w) - 1))::DOUBLE / len(w) AS avg_token_len,
           CASE WHEN len(list_filter(w, x -> x IN ({stop}))) > 0
                THEN 'en' ELSE 'unknown' END AS lang_guess
    FROM toks
    """


# ---------------------------------------------------------------------------
# corpus-level token statistics
# ---------------------------------------------------------------------------


def doc_token_stats(df: DataFrame) -> DataFrame:
    """Per-(lang, source) corpus stats: docs, tokens, chars, mean doc length.

    One hash-shuffle on the (low-cardinality) group keys; token counting
    happens map-side inside the partial aggregate, so the exchange carries
    only pre-aggregated rows — the same plan shape at any scale.
    """
    n_tok = F.size(tokens("text")).cast("bigint")
    return df.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).alias("total_tokens"),
        F.sum(F.length("text").cast("bigint")).alias("total_chars"),
        dsum(n_tok.cast("double"), "sum_doc_tokens"),
        F.max(n_tok).alias("max_doc_tokens"),
    )


def sql_doc_token_stats() -> str:
    w = sql_tokens("text")
    return f"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           SUM(len({w})::BIGINT)::BIGINT AS total_tokens,
           SUM(length(text)::BIGINT)::BIGINT AS total_chars,
           {sql_dsum(f'len({w})::DOUBLE')} AS sum_doc_tokens,
           MAX(len({w})::BIGINT) AS max_doc_tokens
    FROM documents
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# BPE-ish regex tokenization
# ---------------------------------------------------------------------------

# Letter runs / digit runs / single other-symbols — the pre-tokenization
# split every BPE-family tokenizer applies before merges (GPT-2's pattern,
# simplified to this corpus's lowercase-ASCII domain). The character class
# is deliberately regex-dialect-neutral: identical semantics in Java regex
# (Spark) and RE2 (DuckDB).
BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def regex_token_stats(df: DataFrame) -> DataFrame:
    """Per-doc token counts under the BPE-ish regex split — the
    token-budget accounting pass of a training-data pipeline (whitespace
    counting over-merges 'foo,bar' into one token; a BPE pre-tokenizer
    does not). Pure projection: ``regexp_extract_all`` + higher-order
    filters, one scan, no shuffle, no Python.
    """
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_RE), F.lit(0))
    alpha = F.filter(toks, lambda x: x.rlike("^[a-z]+$"))
    num = F.filter(toks, lambda x: x.rlike("^[0-9]+$"))
    return df.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_re_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_re_tokens"),
        F.size(alpha).cast("bigint").alias("n_alpha_tokens"),
        F.size(num).cast("bigint").alias("n_num_tokens"),
    )


def sql_regex_token_stats() -> str:
    toks = f"regexp_extract_all(text, '{BPE_TOKEN_RE}')"
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents)
    SELECT doc_id,
           len(toks)::BIGINT AS n_re_tokens,
           len(list_distinct(toks))::BIGINT AS n_distinct_re_tokens,
           len(list_filter(toks, x -> regexp_full_match(x, '[a-z]+')))::BIGINT
               AS n_alpha_tokens,
           len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+')))::BIGINT
               AS n_num_tokens
    FROM t
    """


# ---------------------------------------------------------------------------
# SimHash document fingerprint
# ---------------------------------------------------------------------------


def simhash(col: str | Column) -> Column:
    """60-bit SimHash fingerprint over the shingle-hash feature set.

    Classic Charikar construction: for each bit position, sum +1/-1 votes
    from every feature hash, keep the bit where the vote is positive. The
    bit test uses pure modular arithmetic (``x % 2p >= p`` ⇔ bit set) —
    exact in bigint, no float shifts, identical in DuckDB.

    Near-duplicate texts differ in few shingles, so their fingerprints are
    close in Hamming distance; pairing by fingerprint bands is the scalable
    grouping (no all-pairs comparison) — see
    ``operators.dedup.simhash_candidate_pairs``.

    The shingle pipeline is let-bound (:func:`functions.bind`): the fold
    references its input once per bit position, and an unbound reference
    inside the 60-iteration outer lambda re-runs the whole tokenize + md5
    pipeline per bit — measured 4.1× slower at sf0.1 (5000 docs: 1.36 s vs
    0.33 s for the full doc_fingerprint projection).
    """
    return _bind(shingle_hashes(col), simhash_from_hashes)


def simhash_from_hashes(hs: Column) -> Column:
    """The SimHash fold over an already-computed shingle-hash array column —
    the reuse point for pipelines that share one persisted feature set
    across MinHash and SimHash stages (dedup.shingle_features).

    The per-feature bit test is a mask compare (``x & p != 0``), equivalent
    to the spec's modular form ``x % 2p >= p`` for the non-negative 60-bit
    :func:`functions.hash60` domain but one AND instead of a 64-bit multiply
    + modulo in the innermost loop (60 bits × |hs| per row) — measured ~25%
    faster at sf0.1 with bit-identical output. The DuckDB oracle twin keeps
    the modular form as the independent spec."""
    pows = array_lit([1 << b for b in range(SIMHASH_BITS)], "bigint")
    return F.aggregate(
        pows,
        F.lit(0).cast("bigint"),
        lambda acc, p: acc
        + F.when(
            F.aggregate(
                hs,
                F.lit(0).cast("bigint"),
                lambda votes, x: votes
                + F.when(x.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)),
            )
            > 0,
            p,
        ).otherwise(F.lit(0)),
    )


def sql_simhash_over_hs() -> str:
    """DuckDB twin of :func:`simhash`, over a shingle-hash list column ``hs``."""
    pows = ", ".join(str(1 << b) for b in range(SIMHASH_BITS))
    return (
        f"COALESCE(list_sum([CASE WHEN "
        f"list_sum([CASE WHEN x % (p * 2) >= p THEN 1 ELSE -1 END for x in hs])"
        f" > 0 THEN p ELSE 0 END for p in [{pows}]::BIGINT[]]), 0)::BIGINT"
    )


def doc_fingerprint(df: DataFrame) -> DataFrame:
    """(doc_id, simhash, content_hash): per-doc fingerprints in one scan.

    The SimHash fold is the most expression-heavy operator in the engine
    (60 bit-votes × shingle count per row); ``ensure_parallelism`` spreads
    it across cores when the scan is a single small file.
    """
    return ensure_parallelism(df).select(
        "doc_id",
        simhash("text").alias("simhash"),
        hash60(F.col("text")).alias("content_hash"),
    )


def sql_doc_fingerprint() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, text AS text, {sql_tokens('text')} AS w
        FROM documents
    ),
    feats AS (
        SELECT doc_id, text, {sql_shingle_hashes_over_w()} AS hs FROM toks
    )
    SELECT doc_id,
           {sql_simhash_over_hs()} AS simhash,
           {sql_hash60('text')} AS content_hash
    FROM feats
    """


# ---------------------------------------------------------------------------
# polynomial rolling hash (order-sensitive fingerprint)
# ---------------------------------------------------------------------------

# h_i = (h_{i-1} * B + token_hash_i) mod P — the Rabin-Karp accumulator over
# the token sequence. Unlike SimHash/MinHash (set semantics: reordering
# tokens leaves them unchanged), the rolling hash fingerprints the document
# AS A SEQUENCE, so it detects exact-order duplication (e.g. boilerplate
# prefixes) the set-based fingerprints cannot. Arithmetic stays below 2^39
# (acc < P ≈ 2^31, B = 131, token hash reduced mod 2^31), so the fold is
# exact signed-64-bit on every engine — no overflow wrap to diverge on.
ROLL_B = 131
ROLL_P = 2_147_483_647  # 2^31 - 1 (prime)
ROLL_M = 2_147_483_648  # 2^31: token-hash reduction before the fold


def rolling_hash(col: str | Column) -> Column:
    """Order-sensitive document fingerprint via a Rabin-Karp fold over the
    per-token md5-derived hashes (cross-engine exact — functions.hash60)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(F.coalesce(c, F.lit("")))
    return F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, w: (acc * ROLL_B + hash60(w) % ROLL_M) % ROLL_P,
    )


def doc_rolling_hash(df: DataFrame) -> DataFrame:
    """Per-document rolling-hash fingerprint + token count (the count
    disambiguates the empty document from a real zero-hash collision)."""
    c = F.coalesce(F.col("text"), F.lit(""))
    return ensure_parallelism(df).select(
        "doc_id",
        rolling_hash("text").alias("rolling_hash"),
        F.size(tokens(c)).alias("n_tokens"),
    )


def sql_doc_rolling_hash() -> str:
    c = "coalesce(text, '')"
    token_hashes = (
        f"[{sql_hash60('x')} % {ROLL_M} for x in string_split({c}, '{TOKEN_SEP}')]"
    )
    return f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(0::BIGINT, {token_hashes}),
               (acc, x) -> (acc * {ROLL_B} + x) % {ROLL_P}
           ) AS rolling_hash,
           len(string_split({c}, '{TOKEN_SEP}'))::INT AS n_tokens
    FROM documents
    """


# ---------------------------------------------------------------------------
# n-gram language identification
# ---------------------------------------------------------------------------

# Character-bigram profiles per language (public-knowledge frequency tables:
# the most characteristic bigrams of each language's orthography). A real
# lang-id model carries ~1k weighted n-grams; five per language demonstrate
# the operator shape — per-profile occurrence counting folded to an integer
# score, argmax with a fixed tie order — without an external model file.
# Dict order IS the deterministic tie-break priority.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("th", "he", "an", "in", "er"),
    "de": ("ch", "ei", "ie", "un", "au"),
    "es": ("os", "la", "el", "ue", "ci"),
    "fr": ("le", "ou", "qu", "ai", "on"),
    "zh": ("zh", "sh", "ng", "xi", "ia"),
}


def _occurrences(c: Column, gram: str) -> Column:
    """Non-overlapping occurrence count of ``gram`` via the replace-length
    trick: (len(s) - len(replace(s, g, ''))) / len(g). Exact integer (the
    difference is always a multiple of len(g)); both engines scan
    left-to-right non-overlapping, so counts are identical."""
    return (
        (F.length(c) - F.length(F.replace(c, F.lit(gram), F.lit(""))))
        / F.lit(len(gram))
    ).cast("bigint")


def _sql_occurrences(expr: str, gram: str) -> str:
    return (
        f"((length({expr}) - length(replace({expr}, '{gram}', '')))"
        f" // {len(gram)})::BIGINT"
    )


def language_id(df: DataFrame) -> DataFrame:
    """Per-document n-gram language ID: integer profile scores + argmax.

    Pure projection (no shuffle, no Python): each profile score is a sum of
    ``replace``-based bigram counts, fused into the scan by whole-stage
    codegen. At 100 TB this adds ~25 string scans per row to the read
    stage and nothing else. The synthetic corpus is English word-salad
    under every ``lang`` label, so the *prediction* is not expected to
    recover the label; the operator contract (deterministic scores +
    argmax) is what the oracle checks.
    """
    c = F.coalesce(F.col("text"), F.lit(""))
    scores = {
        lang: sum(
            (_occurrences(c, g) for g in grams), start=F.lit(0).cast("bigint")
        ).alias(f"score_{lang}")
        for lang, grams in LANG_PROFILES.items()
    }
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_PROFILES])
    pred = F.lit("und")
    # build the CASE back-to-front so earlier dict entries win ties
    for lang in reversed(LANG_PROFILES):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return ensure_parallelism(df).select("doc_id", *scores.values()).select(
        "*", pred.alias("lang_pred")
    )


def sql_language_id() -> str:
    c = "coalesce(text, '')"
    score_exprs = ",\n           ".join(
        " + ".join(_sql_occurrences(c, g) for g in grams) + f" AS score_{lang}"
        for lang, grams in LANG_PROFILES.items()
    )
    langs = list(LANG_PROFILES)
    best = f"greatest({', '.join('score_' + l for l in langs)})"
    whens = "\n                ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in langs
    )
    return f"""
    WITH scored AS (
        SELECT doc_id,
           {score_exprs}
        FROM documents
    )
    SELECT *,
           CASE {whens}
                ELSE 'und' END AS lang_pred
    FROM scored
    """


# ---------------------------------------------------------------------------
# Vocab-driven token counts (greedy longest-match over a merged vocab)
# ---------------------------------------------------------------------------

# A fixed mini-vocab standing in for a real merged BPE vocabulary: pieces
# with a leading space (word-boundary merges, GPT-2 style), bare pieces for
# document starts, and subword fragments. Greedy longest-prefix-match over
# this table IS the inference step of every BPE-family tokenizer after
# training; the regex pass above is only its pre-tokenizer. Training
# pipelines budget corpora by THESE counts, not whitespace counts
# (VERDICT r3 next-round #5).
TOKEN_VOCAB: tuple[str, ...] = (
    " the", " a", " table", " value", " data", " query", " stream",
    " window", " batch", " spark", " customer", " join", " row", " scan",
    " hash", " sort", " filter", " group", " order", " column", " vector",
    " line", " part", " small", " big", " slow", " fast", " key", " agg",
    " merge", "the", "table", "value", "data", "query", "stream", "window",
    "batch", "spark", "key", "row", "er", "ow", "al", "in", "st",
)

# Recursion-depth bound for the SQL twin (one recursive step per emitted
# token): only the first N chars of each document are tokenized. 160 covers
# the testdata's typical doc while keeping the recursive CTE shallow.
VOCAB_PREFIX_CHARS = 160


def vocab_token_counts(df: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_unk): greedy longest-match tokenization of the
    first ``VOCAB_PREFIX_CHARS`` chars against the vocab; a position matching no
    piece consumes one char as an <unk> token (counted in both columns).

    This is the documented slow-path exception: iterative longest-prefix
    matching has no built-in-expression form, so it runs as an
    Arrow-batched ``mapInPandas`` stage (never row-at-a-time) over an
    input pruned to (id, first-N-chars). The vocab rides the closure —
    broadcast-small by construction. Python cost is O(prefix ×
    |vocab|) per doc with this linear scan; swap the piece loop for a trie
    at real vocab sizes (50k pieces) — the Spark-side plumbing (schema,
    pruning, batching) is unchanged.

    The DuckDB twin replays the identical greedy walk as a recursive CTE
    (one step per token), so the differential proves the tokenizer loop,
    not just the plumbing.
    """
    import pandas as pd

    pieces = sorted(set(TOKEN_VOCAB), key=len, reverse=True)

    def tokenize_batches(batches):
        for pdf in batches:
            n_tok: list[int] = []
            n_unk: list[int] = []
            for t in pdf["_prefix"]:
                i, nt, nu = 0, 0, 0
                while i < len(t):
                    for p in pieces:
                        if t.startswith(p, i):
                            i += len(p)
                            break
                    else:
                        i += 1
                        nu += 1
                    nt += 1
                n_tok.append(nt)
                n_unk.append(nu)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_tokens": n_tok, "n_unk": n_unk}
            )

    pruned = ensure_parallelism(df).select(
        F.col("doc_id"),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, VOCAB_PREFIX_CHARS).alias(
            "_prefix"
        ),
    )
    # the id field's type follows the INPUT column (a hardcoded `long`
    # would crash Arrow conversion for string ids)
    id_type = pruned.schema["doc_id"].dataType.simpleString()
    return pruned.mapInPandas(
        tokenize_batches,
        schema=f"doc_id {id_type}, n_tokens long, n_unk long",
    )


def sql_vocab_token_counts() -> str:
    """DuckDB twin of :func:`vocab_token_counts`: the same greedy walk as a
    recursive CTE — each step consumes the longest matching piece (or one
    <unk> char) and the recursion ends when every document is exhausted."""
    pieces_sql = ", ".join("'" + p.replace("'", "''") + "'" for p in sorted(set(TOKEN_VOCAB)))
    return f"""
    WITH RECURSIVE vocab(piece) AS (
        SELECT unnest([{pieces_sql}])
    ),
    base AS (
        SELECT doc_id,
               substr(coalesce(text, ''), 1, {VOCAB_PREFIX_CHARS}) AS rem
        FROM documents
    ),
    walk(doc_id, rem, n_tokens, n_unk) AS (
        SELECT doc_id, rem, 0::BIGINT, 0::BIGINT FROM base
        UNION ALL
        SELECT doc_id, substr(rem, len + 1), n_tokens + 1,
               n_unk + CASE WHEN matched THEN 0 ELSE 1 END
        FROM (
            SELECT s.doc_id, s.rem, s.n_tokens, s.n_unk,
                   COALESCE(MAX(length(v.piece)), 1) AS len,
                   COUNT(v.piece) > 0 AS matched
            FROM walk s LEFT JOIN vocab v ON starts_with(s.rem, v.piece)
            WHERE s.rem <> ''
            GROUP BY 1, 2, 3, 4
        ) g
    )
    SELECT doc_id, n_tokens, n_unk FROM walk WHERE rem = ''
    """


# ---------------------------------------------------------------------------
# within-document repetition (Gopher-style repetition-removal signals)
# ---------------------------------------------------------------------------
# Token-based analogues of the Gopher rules (character-fraction thresholds in
# the paper; this corpus is whitespace-token text, so token fractions carry
# the same signal): a document dominated by one repeated n-gram is generated
# /boilerplate junk regardless of its other quality scores.

REP_TOP_BIGRAM_MAX = 0.20
REP_DUP_BIGRAM_MAX = 0.60
REP_MIN_DISTINCT = 0.20


def doc_repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document repetition profile: distinct-token fraction, most-
    frequent-token fraction, most-frequent-bigram fraction, and the
    fraction of bigram instances that are duplicates (occur >1 time in
    the doc) — plus the keep decision under the Gopher-analogue
    thresholds above.

    Shape: ONE scan — tokens and bigrams ride the same explode as tagged
    (kind, gram) items (the document splits once, grams derive from the
    bound token array), then a map-side-combined (doc, kind, gram) count
    and a single per-doc conditional aggregation. Separate token/bigram
    pipelines joined on doc_id would read and tokenize the corpus twice
    (no cross-branch CSE). Within-doc repeats collapse in the first
    (partial) aggregation, so the shuffle carries per-doc DISTINCT grams,
    not occurrences — the same discipline as hot_ngrams. Short docs (< 2
    tokens) contribute no bigram items: coalesce to zero fractions.
    """
    from ..functions import bind

    docs = ensure_parallelism(docs)
    items = bind(
        tokens("text"),
        lambda t: F.concat(
            F.transform(t, lambda x: F.struct(F.lit(0).alias("kind"), x.alias("g"))),
            F.transform(
                _grams_over(t, 2),
                lambda x: F.struct(F.lit(1).alias("kind"), x.alias("g")),
            ),
        ),
    )
    exploded = docs.select("doc_id", F.explode(items).alias("i")).select(
        "doc_id", F.col("i.kind").alias("kind"), F.col("i.g").alias("g")
    )
    gc = exploded.groupBy("doc_id", "kind", "g").count()
    tok = F.col("kind") == 0
    big = F.col("kind") == 1
    agg = gc.groupBy("doc_id").agg(
        F.sum(F.when(tok, F.col("count")).otherwise(0)).alias("n_tokens"),
        F.count(F.when(tok, F.lit(1))).alias("_n_distinct"),
        F.max(F.when(tok, F.col("count"))).alias("_top_tok"),
        F.coalesce(
            F.sum(F.when(big, F.col("count"))), F.lit(0)
        ).alias("_n_bigrams"),
        F.coalesce(F.max(F.when(big, F.col("count"))), F.lit(0)).alias(
            "_top_big"
        ),
        F.coalesce(
            F.sum(F.when(big & (F.col("count") > 1), F.col("count"))),
            F.lit(0),
        ).alias("_dup_big"),
    )
    nb = F.col("_n_bigrams")
    frac = lambda num: F.when(  # noqa: E731
        nb > 0, num.cast("double") / nb
    ).otherwise(F.lit(0.0))
    out = agg.select(
        "doc_id",
        "n_tokens",
        (F.col("_n_distinct").cast("double") / F.col("n_tokens")).alias(
            "distinct_token_frac"
        ),
        (F.col("_top_tok").cast("double") / F.col("n_tokens")).alias(
            "top_token_frac"
        ),
        frac(F.col("_top_big")).alias("top_bigram_frac"),
        frac(F.col("_dup_big")).alias("dup_bigram_frac"),
    )
    return out.withColumn(
        "keep",
        (F.col("top_bigram_frac") <= REP_TOP_BIGRAM_MAX)
        & (F.col("dup_bigram_frac") <= REP_DUP_BIGRAM_MAX)
        & (F.col("distinct_token_frac") >= REP_MIN_DISTINCT),
    )


def sql_doc_repetition_stats() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens('text')} AS w FROM documents
    ),
    tok AS (SELECT doc_id, unnest(w) AS t FROM toks),
    tc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    ta AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(MAX(c) AS BIGINT) AS top_tok
        FROM tc GROUP BY 1
    ),
    big AS (
        SELECT doc_id, unnest({sql_gram_strings_over_w(2)}) AS g FROM toks
    ),
    bc AS (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY 1, 2),
    ba AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(MAX(c) AS BIGINT) AS top_big,
               CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                   AS dup_big
        FROM bc GROUP BY 1
    ),
    j AS (
        SELECT ta.doc_id, ta.n_tokens, ta.n_distinct, ta.top_tok,
               COALESCE(ba.n_bigrams, 0) AS n_bigrams,
               COALESCE(ba.top_big, 0) AS top_big,
               COALESCE(ba.dup_big, 0) AS dup_big
        FROM ta LEFT JOIN ba USING (doc_id)
    ),
    f AS (
        SELECT doc_id, n_tokens,
               CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_token_frac,
               CAST(top_tok AS DOUBLE) / n_tokens AS top_token_frac,
               CASE WHEN n_bigrams > 0
                    THEN CAST(top_big AS DOUBLE) / n_bigrams
                    ELSE 0.0 END AS top_bigram_frac,
               CASE WHEN n_bigrams > 0
                    THEN CAST(dup_big AS DOUBLE) / n_bigrams
                    ELSE 0.0 END AS dup_bigram_frac
        FROM j
    )
    SELECT *,
           (top_bigram_frac <= {REP_TOP_BIGRAM_MAX}
            AND dup_bigram_frac <= {REP_DUP_BIGRAM_MAX}
            AND distinct_token_frac >= {REP_MIN_DISTINCT}) AS keep
    FROM f
    """


# ---------------------------------------------------------------------------
# character-distribution entropy: gibberish / encoding-noise detector
# ---------------------------------------------------------------------------

ENT_MICRO = 1_000_000  # log quantization: integer micro-nats


def doc_char_entropy(df: DataFrame) -> DataFrame:
    """Per-document character-distribution entropy in micro-nats — the
    CCNet-style gibberish signal: natural language sits in a narrow
    entropy band (~2.5-3.5 nats for English char distributions), while
    base64 blobs, minified code, and key-mash noise score high and
    repeated-character padding scores near zero. Output:
    ``(doc_id, n_chars, n_distinct_chars, entropy_micro)`` where
    ``entropy_micro = sum over chars of c * round(-ln(c/L) * 1e6) / L``.

    Exactness: each character class's negative log-probability quantizes
    to integer micro-nats ONCE (the :func:`~.corpus.doc_lm_score` trick),
    so the per-doc accumulation is a sum of exact bigint products in any
    order and the differential stays bit-identical despite ln(); the
    final /L is one double division. Shape: characters explode via
    ``regexp_extract_all(., '.')`` (expression-only, linear in corpus
    bytes), one (doc, char) count aggregation, then doc length arrives by
    a doc-partitioned window sum over the (small) class counts rather
    than a self-join — the explode pipeline is evaluated ONCE (a join
    back onto the counts would make Catalyst inline and re-run it for
    the length branch).
    """
    from pyspark.sql import Window

    chars = df.select(
        F.col("doc_id"),
        F.explode(
            # (?s) makes '.' match EVERY character on both engines: Java's
            # '.' excludes \r, U+0085, U+2028, U+2029 while DuckDB's RE2 '.'
            # excludes only \n — a crawl corpus with \r would silently skew
            # n_chars/entropy against the oracle without the DOTALL flag
            # (ADVICE r10).
            F.expr("regexp_extract_all(text, '(?s).', 0)")
        ).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("doc_id")
    with_len = counts.select(
        "doc_id",
        "c",
        F.sum("c").over(w).alias("len"),
        F.count(F.lit(1)).over(w).alias("n_distinct_chars"),
    )
    mnll = F.round(
        -F.log(F.col("c").cast("double") / F.col("len")) * ENT_MICRO
    ).cast("bigint")
    return (
        with_len.select(
            "doc_id", "len", "n_distinct_chars", (F.col("c") * mnll).alias("_e")
        )
        .groupBy("doc_id")
        .agg(
            F.max("len").alias("n_chars"),
            F.max("n_distinct_chars").alias("n_distinct_chars"),
            (F.sum("_e").cast("double") / F.max("len")).alias(
                "entropy_micro"
            ),
        )
    )


def sql_doc_char_entropy() -> str:
    return f"""
    WITH chars AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch
        FROM documents
    ),
    counts AS (
        SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2
    ),
    lens AS (
        SELECT doc_id, SUM(c) AS len, COUNT(*) AS n_distinct_chars
        FROM counts GROUP BY 1
    )
    SELECT counts.doc_id,
           CAST(MAX(lens.len) AS BIGINT) AS n_chars,
           CAST(MAX(lens.n_distinct_chars) AS BIGINT) AS n_distinct_chars,
           CAST(SUM(c * CAST(ROUND(-ln(CAST(c AS DOUBLE) / lens.len)
                                   * {ENT_MICRO}) AS BIGINT)) AS DOUBLE)
               / MAX(lens.len) AS entropy_micro
    FROM counts JOIN lens ON counts.doc_id = lens.doc_id
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, published repetition/format filters)
# ---------------------------------------------------------------------------

# The published Gopher rule thresholds (Rae et al. 2021, table A1). Module
# constants so the Spark expressions, the DuckDB twin, and the tests all
# read one definition.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_STOP_HITS = 2

# Gopher's stop-word containment rule uses this fixed 8-word list (distinct
# from EN_STOPWORDS, which feeds the lang-guess heuristic).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _count_occurrences(text: Column, needle: str) -> Column:
    """Exact occurrence count of a literal substring via replace-diff —
    built-in-only (no regex), identical semantics in both engines."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("bigint")


def _sql_count_occurrences(expr: str, needle_sql: str, needle_len: int) -> str:
    return (
        f"CAST((length({expr}) - length(replace({expr}, {needle_sql}, '')))"
        f" / {needle_len} AS BIGINT)"
    )


def gopher_quality_flags(df: DataFrame) -> DataFrame:
    """Per-document Gopher rule metrics + the keep/drop verdict.

    The published format filters (word-count bounds, mean-word-length
    bounds, symbol-to-word ratio, bullet-line and ellipsis-line fractions,
    stop-word containment) as one pure projection — no shuffle, fused with
    the parquet scan, same posture as :func:`doc_quality` (which reports
    generic stats; this lane applies a SPECIFIC published rule set and
    emits the decision a pipeline would filter on).

    Every ratio is a double division of exact integer counts in the same
    association on both engines. Substring counts are replace-diffs (no
    regex dialect risk); line metrics split on ``\\n``; the stop-word hit
    count is distinct-containment (``array_intersect`` size), order-free.
    NULL text scores as the empty document (P5 posture) and fails the
    word-count rule, so ``keep`` is FALSE — never silently passes.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    words = F.filter(tokens(text), lambda x: x != "")
    n_words = F.size(words).cast("bigint")
    n_words1 = F.greatest(n_words, F.lit(1).cast("bigint"))
    word_chars = F.aggregate(
        F.transform(words, lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    mean_word_len = word_chars.cast("double") / n_words1
    n_hash = _count_occurrences(text, "#")
    n_ellipsis = _count_occurrences(text, "...") + _count_occurrences(text, "…")
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / n_words1
    lines = F.split(text, "\n")
    n_lines1 = F.greatest(F.size(lines), F.lit(1)).cast("bigint")
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ")
            | l.startswith("* ")
            | l.startswith("•"),
        )
    ).cast("bigint")
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    ).cast("bigint")
    bullet_frac = bullet_lines.cast("double") / n_lines1
    ellipsis_frac = ellipsis_lines.cast("double") / n_lines1
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    ).cast("bigint")
    keep = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_word_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_word_len <= GOPHER_MAX_MEAN_WORD_LEN)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (bullet_frac <= GOPHER_MAX_BULLET_FRAC)
        & (ellipsis_frac <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        stop_hits.alias("n_stop_hits"),
        keep.alias("keep"),
    )


def sql_gopher_quality_flags() -> str:
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    t = "COALESCE(text, '')"
    n_hash = _sql_count_occurrences("text", "'#'", 1)
    n_dots = _sql_count_occurrences("text", "'...'", 3)
    n_uell = _sql_count_occurrences("text", "chr(8230)", 1)
    return f"""
    WITH base AS (
        SELECT doc_id, {t} AS text,
               list_filter({sql_tokens(t)}, x -> x <> '') AS w,
               string_split({t}, chr(10)) AS lines
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               GREATEST(CAST(len(w) AS BIGINT), 1) AS n_words1,
               CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
                    AS BIGINT) AS word_chars,
               {n_hash} + {n_dots} + {n_uell} AS n_symbols,
               GREATEST(CAST(len(lines) AS BIGINT), 1) AS n_lines1,
               CAST(len(list_filter(lines,
                    l -> starts_with(l, '- ') OR starts_with(l, '* ')
                         OR starts_with(l, chr(8226)))) AS BIGINT)
                   AS bullet_lines,
               CAST(len(list_filter(lines,
                    l -> ends_with(l, '...') OR ends_with(l, chr(8230))))
                    AS BIGINT) AS ellipsis_lines,
               CAST(len(list_intersect(list_distinct(w), [{stops}]))
                    AS BIGINT) AS n_stop_hits
        FROM base
    )
    SELECT doc_id,
           n_words,
           CAST(word_chars AS DOUBLE) / n_words1 AS mean_word_len,
           CAST(n_symbols AS DOUBLE) / n_words1 AS symbol_ratio,
           CAST(bullet_lines AS DOUBLE) / n_lines1 AS bullet_line_frac,
           CAST(ellipsis_lines AS DOUBLE) / n_lines1 AS ellipsis_line_frac,
           n_stop_hits,
           (n_words >= {GOPHER_MIN_WORDS}
            AND n_words <= {GOPHER_MAX_WORDS}
            AND CAST(word_chars AS DOUBLE) / n_words1
                    >= {GOPHER_MIN_MEAN_WORD_LEN}
            AND CAST(word_chars AS DOUBLE) / n_words1
                    <= {GOPHER_MAX_MEAN_WORD_LEN}
            AND CAST(n_symbols AS DOUBLE) / n_words1
                    <= {GOPHER_MAX_SYMBOL_RATIO}
            AND CAST(bullet_lines AS DOUBLE) / n_lines1
                    <= {GOPHER_MAX_BULLET_FRAC}
            AND CAST(ellipsis_lines AS DOUBLE) / n_lines1
                    <= {GOPHER_MAX_ELLIPSIS_FRAC}
            AND n_stop_hits >= {GOPHER_MIN_STOP_HITS}) AS keep
    FROM m
    """


# ---------------------------------------------------------------------------
# Encoding-anomaly detection (mojibake / replacement chars / control bytes)
# ---------------------------------------------------------------------------

# Suspect when anomalies exceed 1 per 1000 chars, or ANY replacement char
# is present (U+FFFD is unambiguous decode damage).
ENCODING_ANOMALY_RATIO = 0.001


def doc_encoding_anomalies(df: DataFrame) -> DataFrame:
    """Per-document encoding-damage report: replacement characters
    (U+FFFD), classic UTF-8-decoded-as-Latin-1 mojibake markers
    (``Ã``, ``â€``), C0 control characters (other than tab/newline/CR),
    and the non-printable ratio — the decode-QC gate a web-scale corpus
    runs before any text operator trusts the bytes.

    Pure projection, one scan. The replacement-char count is a
    replace-diff (dialect-free); the mojibake count is a non-overlapping
    regexp count of the actual UTF-8-as-Latin-1 PAIR patterns — ``Ã``
    followed by a continuation code point in U+0080–U+00BF (``Ã©``,
    ``Ã¡``, ``Ã±`` …), plus the literal ``â€`` prefix of mangled smart
    punctuation — so a bare ``Ã`` before an ASCII letter does NOT count:
    legitimate Portuguese/French uppercase (``NÃO``, ``SÃO``, ``JOÃO``)
    is never flagged (ADVICE r12). The control-char count is a
    regexp_replace length diff over a character class RE2 and the JVM
    regex engine parse identically. Counting is over code points on both
    engines for BMP characters, which all markers are. NULL text scores
    as the empty document (zero anomalies, not-suspect): absent text is
    a completeness problem, not decode damage.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    n_chars = F.length(text).cast("bigint")
    n_repl = _count_occurrences(text, "�")
    n_moji = F.regexp_count(
        text, F.lit("Ã[\\x{80}-\\x{BF}]")
    ).cast("bigint") + _count_occurrences(text, "â€")
    ctl = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"
    n_ctl = (
        F.length(text) - F.length(F.regexp_replace(text, ctl, ""))
    ).cast("bigint")
    n_anom = n_repl + n_moji + n_ctl
    ratio = n_anom.cast("double") / F.greatest(n_chars, F.lit(1).cast("bigint"))
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_repl.alias("n_replacement"),
        n_moji.alias("n_mojibake"),
        n_ctl.alias("n_control"),
        ratio.alias("anomaly_ratio"),
        ((n_repl > 0) | (ratio > ENCODING_ANOMALY_RATIO)).alias("suspect"),
    )


def sql_doc_encoding_anomalies() -> str:
    t = "COALESCE(text, '')"
    n_repl = _sql_count_occurrences("text", "chr(65533)", 1)
    n_moji = (
        r"CAST(len(regexp_extract_all(text,"
        r" chr(195) || '[\x{80}-\x{BF}]')) AS BIGINT)"
        " + "
        + _sql_count_occurrences("text", "(chr(226) || chr(8364))", 2)
    )
    ctl = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"
    return f"""
    WITH base AS (
        SELECT doc_id, {t} AS text FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               {n_repl} AS n_replacement,
               {n_moji} AS n_mojibake,
               CAST(length(text)
                    - length(regexp_replace(text, '{ctl}', '', 'g'))
                    AS BIGINT) AS n_control
        FROM base
    )
    SELECT doc_id, n_chars, n_replacement, n_mojibake, n_control,
           CAST(n_replacement + n_mojibake + n_control AS DOUBLE)
               / GREATEST(n_chars, 1) AS anomaly_ratio,
           (n_replacement > 0
            OR CAST(n_replacement + n_mojibake + n_control AS DOUBLE)
               / GREATEST(n_chars, 1) > {ENCODING_ANOMALY_RATIO}) AS suspect
    FROM m
    """


# ---------------------------------------------------------------------------
# within-document line dedup (CCNet-style repeated-line scrub)
# ---------------------------------------------------------------------------


def doc_dedup_lines(df: DataFrame) -> DataFrame:
    """(doc_id, n_lines, n_removed, text_clean): each document with every
    repeated line dropped, keeping the FIRST occurrence in order — the
    within-document half of CCNet's line-level dedup (nav menus, footers,
    and share buttons repeat inside a page long before they repeat across
    pages; scrubbing them needs no corpus state at all).

    Pure projection: the kept filter tests each line against the prefix
    before it (``slice`` + membership), O(lines²) per document in line
    COUNT (not characters) — lines per document are bounded small, and
    the whole operator stays inside one codegen stage with zero shuffles
    at any corpus size. The lines array is let-bound (functions.bind)
    so the split runs once, not once per element. NULL text is the empty
    document (P5): one empty line, nothing removed.
    """
    from ..functions import bind

    text = F.coalesce(F.col("text"), F.lit(""))
    out = bind(
        F.split(text, "\n"),
        lambda lines: bind(
            F.filter(
                lines,
                lambda l, i: F.size(
                    F.filter(F.slice(lines, 1, i), lambda p: p == l)
                )
                == 0,
            ),
            lambda kept: F.struct(
                F.size(lines).cast("bigint").alias("n_lines"),
                (F.size(lines) - F.size(kept)).cast("bigint").alias("n_removed"),
                F.array_join(kept, "\n").alias("text_clean"),
            ),
        ),
    )
    return df.select(
        "doc_id",
        out["n_lines"].alias("n_lines"),
        out["n_removed"].alias("n_removed"),
        out["text_clean"].alias("text_clean"),
    )


def sql_doc_dedup_lines() -> str:
    return """
    WITH base AS (
        SELECT doc_id,
               string_split(COALESCE(text, ''), chr(10)) AS lines
        FROM documents
    ),
    kept AS (
        SELECT doc_id, lines,
               list_filter(lines, (l, i) ->
                   len(list_filter(lines[1:i-1], p -> p = l)) = 0) AS k
        FROM base
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(lines) - len(k) AS BIGINT) AS n_removed,
           array_to_string(k, chr(10)) AS text_clean
    FROM kept
    """


# ---------------------------------------------------------------------------
# hashed-feature linear quality classifier (fastText-style inference)
# ---------------------------------------------------------------------------

#: feature-hash bucket count. fastText ships 2M; 256 keeps the literal
#: weight table readable here — the plan shape (one array literal folded
#: in one pass, the rp_topk discipline) is identical at any width.
QCLF_BUCKETS = 256

#: per-bucket weights in milli-units, derived deterministically from the
#: bucket index (md5 — the repo's seeded-randomness discipline; a real
#: deployment substitutes trained weights, same plumbing). Range ±1000.
QCLF_WEIGHTS_MILLI = tuple(
    int(__import__("hashlib").md5(f"qclf{b}".encode()).hexdigest()[:8], 16)
    % 2001
    - 1000
    for b in range(QCLF_BUCKETS)
)


def quality_classifier_score(df: DataFrame) -> DataFrame:
    """fastText-style hashed-linear quality-classifier INFERENCE: token →
    feature-hash bucket (``hash60 % buckets``) → weight lookup in the
    broadcast-literal table → exact integer sum → logistic score — the
    published quality-filter family the Gopher rule set doesn't cover
    (fastText wiki-vs-CommonCrawl classifiers à la GPT-3/LLaMA data
    curation), reduced to its serving form.

    Exactness: the score accumulates as a BIGINT sum of milli-unit
    weights folded in array order (no float meets an aggregation); the
    logistic ``1/(1+e^{-z})`` with ``z = score/(1000·n)`` is computed on
    identical doubles in both engines and micro-quantized ON the scalar
    (the zipf-slope ln discipline). The keep decision compares the
    integer sum's sign — never the float.

    Scale: pure projection fused with the scan — the weight table is a
    one-literal array (bucket lookup = ``element_at``), no shuffle, no
    UDF; 2M buckets would ride a broadcast join against a weights table
    instead, same single-scan shape.
    """
    # "int" keeps the element type the old per-element F.lit(int) form
    # produced, so downstream sum/schema types are unchanged
    w_lit = array_lit([int(w) for w in QCLF_WEIGHTS_MILLI], "int")
    text = F.coalesce(F.col("text"), F.lit(""))
    score = bind(
        tokens(text),
        lambda t: F.struct(
            F.size(t).cast("bigint").alias("n"),
            F.aggregate(
                t,
                F.lit(0).cast("bigint"),
                lambda acc, tok: acc
                + F.element_at(
                    w_lit, (hash60(tok) % QCLF_BUCKETS).cast("int") + 1
                ).cast("bigint"),
            ).alias("s"),
        ),
    )
    return df.select(
        F.col("doc_id"),
        score["n"].alias("n_tokens"),
        score["s"].alias("score_milli"),
        F.round(
            F.lit(1e6)
            / (
                F.lit(1.0)
                + F.exp(
                    -(
                        score["s"].cast("double")
                        / (F.lit(1000.0) * score["n"].cast("double"))
                    )
                )
            )
        )
        .cast("bigint")
        .alias("prob_micro"),
        (score["s"] >= 0).alias("keep"),
    )


def sql_quality_classifier_score() -> str:
    weights = ", ".join(str(int(w)) for w in QCLF_WEIGHTS_MILLI)
    h = sql_hash60("tok")
    return f"""
    WITH base AS (
        SELECT doc_id,
               {sql_tokens("COALESCE(text, '')")} AS w
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(list_reduce(
                   list_prepend(0::BIGINT,
                       [([{weights}])[({h}) % {QCLF_BUCKETS} + 1]::BIGINT
                        for tok in w]),
                   (a, b) -> a + b) AS BIGINT) AS score_milli
        FROM base
    )
    SELECT doc_id, n_tokens, score_milli,
           CAST(round(1e6 / (1.0 + exp(-(score_milli::DOUBLE
                / (1000.0 * n_tokens::DOUBLE))))) AS BIGINT) AS prob_micro,
           score_milli >= 0 AS keep
    FROM scored
    """
