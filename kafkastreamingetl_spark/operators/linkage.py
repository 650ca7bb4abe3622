"""Record linkage: blocked fuzzy matching between entity tables.

Extension surface (no analogue in the reference, whose joins are exact
equi-joins): entity resolution at scale is always block-then-verify —
an equality join on a cheap blocking key bounds the candidate set, an
edit-distance verify runs only inside blocks. The all-pairs alternative
is |A|x|B| and never survives 100 TB; with a well-chosen blocking key the
candidate count is ~|A| x (block size), and the whole plan is one
hash shuffle per side plus a per-block Levenshtein.

Levenshtein is a built-in JVM expression in Spark and a built-in in
DuckDB, so the verify stage stays codegen-eligible on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def blocked_name_match(
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    right_key: str,
    left_name: str,
    right_name: str,
) -> DataFrame:
    """Match entities whose name *suffix digits* are within one edit,
    blocking on suffix mod 100.

    Blocking contract: the key must be insensitive to the edits the verify
    stage tolerates — here the block key is the numeric suffix modulo
    100, so candidate pairs always share a block and no true
    match at distance 0 escapes; single-edit matches that change the
    residue are deliberately traded away (recall/cost dial, documented at
    the query site).
    """
    # Names without digits (or with >18, past bigint) have no numeric
    # suffix to block on: they are EXCLUDED from this matcher, explicitly
    # and on BOTH engines — without the filter Spark's cast('' AS BIGINT)
    # yields NULL (row silently unmatched) while DuckDB's raises, so the
    # same input would diverge instead of comparing.
    digits = lambda c: F.regexp_replace(F.col(c), "[^0-9]", "")  # noqa: E731
    ok = lambda d: F.length(d).between(1, 18)  # noqa: E731
    l = left.select(
        F.col(left_key),
        F.col(left_name),
        digits(left_name).alias("l_digits"),
    ).filter(ok(F.col("l_digits"))).withColumn(
        "_blk", F.col("l_digits").cast("bigint") % 100
    )
    r = right.select(
        F.col(right_key),
        F.col(right_name),
        digits(right_name).alias("r_digits"),
    ).filter(ok(F.col("r_digits"))).withColumn(
        "_blk", F.col("r_digits").cast("bigint") % 100
    )
    cand = l.join(r, "_blk")
    return (
        cand.withColumn(
            "edit_dist", F.levenshtein(F.col("l_digits"), F.col("r_digits"))
        )
        .filter(F.col("edit_dist") <= 1)
        .select(left_key, right_key, left_name, right_name, "edit_dist")
    )


def sql_blocked_name_match() -> str:
    return """
    WITH ld AS (
        SELECT c_custkey, c_name,
               regexp_replace(c_name, '[^0-9]', '', 'g') AS l_digits
        FROM customer
    ),
    l AS (
        SELECT *, CAST(l_digits AS BIGINT) % 100 AS blk
        FROM ld WHERE length(l_digits) BETWEEN 1 AND 18
    ),
    rd AS (
        SELECT s_suppkey, s_name,
               regexp_replace(s_name, '[^0-9]', '', 'g') AS r_digits
        FROM supplier
    ),
    r AS (
        SELECT *, CAST(r_digits AS BIGINT) % 100 AS blk
        FROM rd WHERE length(r_digits) BETWEEN 1 AND 18
    )
    SELECT l.c_custkey, r.s_suppkey, l.c_name, r.s_name,
           CAST(levenshtein(l.l_digits, r.r_digits) AS INT) AS edit_dist
    FROM l JOIN r ON l.blk = r.blk
    WHERE levenshtein(l.l_digits, r.r_digits) <= 1
    """
