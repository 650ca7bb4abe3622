"""Data-governance sweeps: user opt-out / takedown impact auditing.

A training-data pipeline at 100 TB lives under deletion obligations —
user opt-outs, DMCA takedowns, GDPR erasure. Before (and after) the
destructive delete runs, operators need the blast radius: how many rows
in each fact table belong to the opted-out keys. The reference has no
such surface (its demo drops no data, reference spark/app.py:79 only
dedups); this is the engine extension a production deployment needs
next to partition expiry and tombstone GC (operators/maintenance.py).

Design for scale:
- the opt-out key set is DIMENSION-sized (a complaint list, not a fact
  table) → broadcast it; every fact table is scanned exactly ONCE with
  a map-side conditional count (left broadcast join + sum), never a
  separate count per predicate and never a shuffle of the fact table;
- the audit is read-only: the destructive leg stays with the retention
  machinery (expire_partitions' dry-run→--delete discipline) so a
  mis-specified key list costs a report, not data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def takedown_impact(
    tables: dict[str, tuple[DataFrame, str]],
    optout_keys: DataFrame,
) -> DataFrame:
    """Blast-radius audit: per table, total rows and rows owned by an
    opted-out key.

    ``tables`` maps table name → (DataFrame, key column); ``optout_keys``
    is a one-column DataFrame of keys to erase. Each table contributes
    one output row ``(table_name, rows_total, rows_affected)`` computed
    in a single scan: the broadcast left join marks affected rows and one
    map-side-combined aggregate counts both totals — at 100 TB this is N
    table scans for N tables, zero fact shuffles, and a 1-row-per-table
    result.
    """
    key_col = optout_keys.columns[0]
    # persist: the key set is dimension-sized but consumed once PER TABLE —
    # unpersisted, Catalyst re-inlines its derivation (often a scan of the
    # very dimension table being audited) into every branch of the union
    # (the round-11 scan-audit failure mode, pinned by test_scan_counts)
    marks = F.broadcast(
        optout_keys.select(F.col(key_col).alias("_takedown_key"))
        .distinct()
        .persist()
    )
    audits = []
    for name, (df, key) in tables.items():
        audited = df.join(
            marks, F.col(key) == F.col("_takedown_key"), "left"
        ).agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("rows_total"),
            F.count("_takedown_key").alias("rows_affected"),
        )
        audits.append(audited)
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out


def sql_takedown_impact(
    tables: dict[str, str], optout_sql: str
) -> str:
    """Oracle twin: one UNION ALL branch per table, the opt-out set as a
    semi-join subquery (same answer, different algorithm)."""
    branches = []
    for name, key in tables.items():
        branches.append(
            f"""
    SELECT '{name}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS rows_total,
           CAST(COUNT(CASE WHEN {key} IN ({optout_sql}) THEN 1 END) AS BIGINT)
               AS rows_affected
    FROM {name}"""
        )
    return " UNION ALL ".join(branches)


# ---------------------------------------------------------------------------
# Quasi-identifier k-anonymity risk report
# ---------------------------------------------------------------------------

#: a quasi-identifier cell with fewer members than this is re-identifying
KANON_K = 5


def kanon_risk_report(documents: "DataFrame", *, k: int = KANON_K) -> "DataFrame":
    """Per-cell k-anonymity census over the corpus's quasi-identifier
    tuple (lang, source, power-of-two length bucket): cells with fewer
    than ``k`` documents are re-identification risks — a released corpus
    slice whose metadata isolates a handful of documents leaks authorship
    even after :func:`~..operators.corpus.redact_pii` scrubs the text.
    The report is the pre-release gate's input: suppress or generalize
    the at-risk cells (the standard k-anonymity playbook), then release.

    One scan, one map-side-combined aggregate to cell-count-sized output;
    the length bucket is the integer-exact ``length(bin(n)) − 1`` (the
    ``length_bucket_stats`` rule — no float log at power-of-two edges).
    NULL lang/source group as their own cells (NULL is itself a
    quasi-identifier value and can be the rarest one).
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    bucket = (
        F.length(F.bin(F.length(text).cast("bigint"))) - F.lit(1)
    ).cast("int")
    return (
        documents.select(
            F.col("lang"),
            F.col("source"),
            bucket.alias("len_bucket"),
        )
        .groupBy("lang", "source", "len_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "lang",
            "source",
            "len_bucket",
            "n_docs",
            (F.col("n_docs") < k).alias("at_risk"),
        )
    )


def sql_kanon_risk_report() -> str:
    return f"""
    SELECT lang, source, len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           COUNT(*) < {KANON_K} AS at_risk
    FROM (
        SELECT lang, source,
               CAST(length(bin((length(COALESCE(text, '')))::BIGINT))
                    - 1 AS INT) AS len_bucket
        FROM documents
    )
    GROUP BY 1, 2, 3
    """
