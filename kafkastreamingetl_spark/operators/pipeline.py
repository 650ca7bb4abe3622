"""The composed training-data pipeline: quality → dedup → label → sample.

One declarative plan chaining the engine's LLM-data operators — the
north-star composition (SURVEY.md §7.1 step 6; no analogue in the
reference, whose pipeline ends at the daily rollup):

    documents
      → inline quality metrics + filter      (text.doc_quality semantics)
      → near-dup cluster removal             (dedup.neardup_dedup semantics)
      → join embeddings for labels           (J1-family equi-join)
      → per-label top-k stratified sample    (W1-family rank)

Composition notes for 100 TB:
- quality metrics are computed INLINE on the main projection — composing
  ``doc_quality(df).join(df)`` instead would scan `documents` twice;
- the near-dup loser set reuses the persisted shingle features
  (dedup.shingle_features memo), so the cluster branch adds no second
  text-hashing pass, and the anti-join's right side is only the
  non-survivors (duplicate-fraction-sized → AQE broadcasts it);
- the embeddings join carries (doc_id, label) only — vectors are pruned
  out before the join, so the exchange never moves 256-byte arrays;
- the final rank partitions by `label` (bounded cardinality). At extreme
  scale a two-stage top-k (similarity._topk_two_stage shape) would drop
  the single-partition-per-label ceiling; with 10 labels × k rows kept,
  row_number per label is the right plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import NEARDUP_MIN_JACCARD, neardup_clusters, neardup_dedup
from .text import sql_tokens, tokens

# Quality gate defaults, chosen against the testdata distributions so the
# filter is exercised (drops the short/repetitive tail) without emptying
# the corpus: n_tokens p10 ≈ 21, type_token_ratio p10 ≈ 0.32.
MIN_TOKENS = 20
MIN_TYPE_TOKEN_RATIO = 0.30


def training_set_sample(documents: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Per-label top-10 quality-ranked, deduplicated sample.

    Returns (doc_id, label, n_tokens, quality_score, sample_rank) where
    quality_score is the type-token ratio (exact double division — the
    rank ordering is bit-stable across engines) and sample_rank is the
    deterministic within-label position (score DESC, doc_id ASC).
    """
    t = tokens("text")
    n_tok = F.size(t)
    ttr = F.size(F.array_distinct(t)).cast("double") / n_tok
    qual = documents.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        ttr.alias("quality_score"),
    ).filter((F.col("n_tokens") >= MIN_TOKENS) & (F.col("quality_score") >= MIN_TYPE_TOKEN_RATIO))

    losers = (
        neardup_clusters(documents, min_jaccard=NEARDUP_MIN_JACCARD)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    deduped = qual.join(losers, "doc_id", "left_anti")

    labels = embeddings.select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    labeled = deduped.join(labels, "doc_id")

    w = Window.partitionBy("label").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        labeled.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 10)
        .select("doc_id", "label", "n_tokens", "quality_score", "sample_rank")
    )


def sql_training_set_sample() -> str:
    from .dedup import _sql_components_ctes

    w = sql_tokens("text")
    return f"""
    WITH RECURSIVE {_sql_components_ctes('documents', "text", NEARDUP_MIN_JACCARD)},
    qual AS (
        SELECT doc_id,
               len({w})::BIGINT AS n_tokens,
               len(list_distinct({w}))::DOUBLE / len({w}) AS quality_score
        FROM documents
        WHERE n_tokens >= {MIN_TOKENS} AND quality_score >= {MIN_TYPE_TOKEN_RATIO}
    ),
    deduped AS (
        SELECT q.* FROM qual q
        ANTI JOIN (
            SELECT node FROM clusters WHERE node <> cluster_id
        ) l ON q.doc_id = l.node
    )
    SELECT d.doc_id, e.label, d.n_tokens, d.quality_score,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY e.label
               ORDER BY d.quality_score DESC NULLS LAST, d.doc_id ASC NULLS FIRST
           ) AS INT) AS sample_rank
    FROM deduped d
    JOIN embeddings e ON d.doc_id = e.vec_id
    QUALIFY sample_rank <= 10
    """


def run_corpus_refresh(
    documents: DataFrame, embeddings: DataFrame, output_path: str
) -> dict[str, int]:
    """The operational north-star job, end-to-end: deduplicated corpus →
    quality-ranked per-label sample → salted train/test split → partitioned
    parquet lake + quality gate. The LLM-pipeline analogue of the
    reference's daily batch (X2, operators/rollup.run_daily_batch): one
    callable a scheduler invokes per refresh.

    Layout: ``{output_path}/corpus`` (deduplicated docs, one file tier) and
    ``{output_path}/training_set`` hive-partitioned by ``split`` so
    trainers read ``split=train`` with partition pruning and never see
    held-out rows. Returns row counts per output for the scheduler's QC
    (fails the run when the training set collapses below
    one row — the guard the warn-only reference check lacks).

    Cost shape: the corpus dedup and the sample's cluster branch share the
    memoized shingle features + resolved cluster labels, so text is hashed
    once per refresh. Split membership is DERIVED as a column on the
    sample (corpus.split_bucket_col) — joining back against
    train_test_split's projection would re-execute the whole sample plan
    for the join's right side. The training-set write is an explicit
    STATIC overwrite: this is a full-recompute job, and under the
    session's dynamic default a refresh yielding rows for only one split
    value would leave the other split's stale partition from the previous
    refresh on disk — silently mixing runs.
    """
    from .corpus import split_bucket_col

    corpus = neardup_dedup(documents)
    corpus.write.mode("overwrite").parquet(f"{output_path}/corpus")

    sample = training_set_sample(documents, embeddings)
    training = sample.withColumn(
        "split",
        F.when(split_bucket_col() < 80, F.lit("train")).otherwise(F.lit("test")),
    )
    (
        training.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("split")
        .parquet(f"{output_path}/training_set")
    )

    spark = documents.sparkSession

    def _count(path: str) -> int:
        # an EMPTY partitioned write leaves only _SUCCESS; reading that
        # back raises UNABLE_TO_INFER_SCHEMA — which is exactly the 0-row
        # case the quality gate below exists to catch, so it must count
        # as zero, not crash the scheduler with a schema error
        from pyspark.sql.utils import AnalysisException

        try:
            return spark.read.parquet(path).count()
        except AnalysisException:
            return 0

    counts = {
        "corpus": _count(f"{output_path}/corpus"),
        "training_set": _count(f"{output_path}/training_set"),
    }
    if counts["training_set"] < 1:
        raise ValueError(
            f"corpus refresh produced {counts['training_set']} training rows"
            " (< 1)"
        )
    return counts
