"""Columnar lake formats: the ORC round-trip and additive parquet schema
evolution.

Round-trip claim: write the dirty synthetic events out as ORC, read back
with Spark's native reader, and get exactly the same rows.
"""

from __future__ import annotations

import pytest

from kafkastreamingetl_spark.sources import EVENT_SCHEMA, synthetic_events_batch


@pytest.fixture(scope="module")
def events(spark):
    return synthetic_events_batch(spark, 1_000, seed=31)


def _sorted_rows(df):
    cols = [f.name for f in EVENT_SCHEMA.fields]
    return sorted(
        (tuple(r) for r in df.select(*cols).collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def test_orc_roundtrip(spark, events, tmp_path):
    """ORC is a first-class columnar alternative Spark supports natively —
    same reader/writer contract as parquet, no adapter needed."""
    path = str(tmp_path / "events_orc")
    events.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert _sorted_rows(back) == _sorted_rows(events)


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema drift across daily drops: a later write adds a column;
    mergeSchema=true unions the schemas (missing values null), and the
    default read still works on the stable prefix — the contract that
    lets a 100 TB lake evolve without rewriting history."""
    lake = str(tmp_path / "lake")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(
        f"{lake}/day=2024-01-01"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.parquet(f"{lake}/day=2024-01-02")

    merged = spark.read.option("mergeSchema", "true").parquet(lake)
    assert set(merged.columns) == {"id", "v", "score", "day"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5
    assert merged.count() == 2
