"""Round-15 driver-cost optimizations: one-round-trip array literals,
memoized catalog handles, the memoized parallelism probe, and the packed
hyperplane signatures — each pinned against the behavior it must preserve.
"""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from kafkastreamingetl_spark import catalog
from kafkastreamingetl_spark.functions import (
    _PAR_PROBE_MEMO,
    array_lit,
    ensure_parallelism,
)

SF = "/root/testdata/sf0.001"


def test_array_lit_matches_elementwise_lit(spark):
    """array_lit must produce the exact values AND element types the old
    per-element F.lit construction produced (schema stability)."""
    df = spark.range(1)
    nested = [[1.5, -2.0, 3e-7], [0.1, float(2**53), -0.0]]
    flat_b = [1 << 59, -5, 0]
    flat_i = [7, -1000, 2**31 - 1]
    got = df.select(
        array_lit(nested, "double").alias("d"),
        array_lit(flat_b, "bigint").alias("b"),
        array_lit(flat_i, "int").alias("i"),
    )
    types = {f.name: f.dataType.simpleString() for f in got.schema.fields}
    assert types == {
        "d": "array<array<double>>",
        "b": "array<bigint>",
        "i": "array<int>",
    }
    row = got.first()
    # bit-exact doubles (incl. -0.0), exact ints
    for want_row, got_row in zip(nested, row.d):
        for w, g in zip(want_row, got_row):
            assert struct.pack("d", w) == struct.pack("d", g)
    assert row.b == flat_b
    assert row.i == flat_i


def test_bucket_signature_matches_per_plane_fold(spark):
    """The packed one-literal signature must be bit-identical to the
    original per-plane zip_with/aggregate fold, for every fixed table."""
    from kafkastreamingetl_spark.operators.similarity import (
        ANN_TABLES,
        bucket_signature,
    )

    emb = catalog.load_table(spark, SF, "embeddings")

    def old_sgn(vec, plane):
        prods = F.zip_with(
            vec,
            F.array(*[F.lit(p) for p in plane]),
            lambda x, y: x.cast("double") * y,
        )
        s = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        return F.when(s > 0, F.lit("1")).otherwise(F.lit("0"))

    for planes in ANN_TABLES:
        old = F.concat(*[old_sgn(F.col("embedding"), p) for p in planes])
        n_diff = (
            emb.select(
                (old == bucket_signature(F.col("embedding"), planes)).alias("eq")
            )
            .filter(~F.col("eq"))
            .count()
        )
        assert n_diff == 0


def test_load_table_memoizes_handle_and_refresh_busts(spark):
    a = catalog.load_table(spark, SF, "orders")
    b = catalog.load_table(spark, SF, "orders")
    assert a is b  # same lazy plan object, no re-listing
    c = catalog.load_table(spark, SF, "orders", refresh=True)
    assert c is not a
    # and the refreshed handle replaces the memo entry
    assert catalog.load_table(spark, SF, "orders") is c
    # distinct tables / dirs never collide
    assert catalog.load_table(spark, SF, "lineitem") is not c


def test_load_table_memo_is_a_plan_not_a_result(spark):
    """The memoized handle must recompute from parquet on every action —
    equal results, fresh execution (no persisted blocks)."""
    df = catalog.load_table(spark, SF, "orders")
    n1 = df.count()
    n2 = catalog.load_table(spark, SF, "orders").count()
    assert n1 == n2 > 0
    sl = df.storageLevel
    assert not (sl.useMemory or sl.useDisk)


def test_ensure_parallelism_memoized_probe_still_repartitions(spark):
    df = spark.range(0, 100).coalesce(1)
    out1 = ensure_parallelism(df)
    assert out1.rdd.getNumPartitions() > 1
    # second call on the same logical plan hits the memo (same decision)
    key_hits = len(_PAR_PROBE_MEMO)
    out2 = ensure_parallelism(df)
    assert len(_PAR_PROBE_MEMO) == key_hits  # no new probe entry
    assert out2.rdd.getNumPartitions() == out1.rdd.getNumPartitions()
    # an already-wide frame passes through untouched
    wide = spark.range(0, 1000, 1, 64)
    assert ensure_parallelism(wide) is wide
