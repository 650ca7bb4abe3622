"""Dimension enrichment joins.

Re-expresses the reference's two-join enrichment (reference
spark/app.py:128-137): a broadcast left equi-join on a small dim (J1) and a
shuffle left equi-join (J2). The engine broadcasts every dim-sized side
explicitly and leaves Catalyst/AQE free to pick the strategy for large-large
joins — at 1000 executors, shuffling the fact table to meet a 5-row dim
(which the reference demonstrates deliberately, spark/app.py:25-26,137) is
the single most expensive avoidable operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_events(
    events: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """The reference's enrichment stage on the testdata star schema.

    events(user_id) ⋈ customer(c_custkey) [J2 analogue: unhinted — customer
    grows with scale factor (150k rows/sf), so the broadcast decision belongs
    to AQE's runtime size estimate, not a hard-coded hint that would OOM
    executors at 100 TB] ⋈ nation(n_nationkey) [J1 analogue, reference
    spark/app.py:136: nation is a fixed 25-row dim — always broadcast].
    Left joins preserve unmatched facts, as in the reference.
    """
    cust = customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").alias("nationkey"),
    )
    nat = nation.select(
        F.col("n_nationkey").alias("nationkey"), F.col("n_name").alias("nation_name")
    )
    return events.join(cust, "user_id", "left").join(
        F.broadcast(nat), "nationkey", "left"
    )
