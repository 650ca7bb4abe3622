"""Custom Python DataSource (Spark 4 API): registration, partition-count
invariance, determinism, planted dirtiness, and composability with the
cleaning operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafkastreamingetl_spark.datasource import (
    SYNTH_SCHEMA,
    register_synthetic_source,
)


def _read(spark, **opts):
    register_synthetic_source(spark)
    r = spark.read.format("synthetic_events")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_reads_requested_rows_with_schema(spark):
    df = _read(spark, rows=300, partitions=5)
    assert df.count() == 300
    assert df.schema == spark.createDataFrame([], SYNTH_SCHEMA).schema
    # the source parallelizes: one task per requested split
    assert df.rdd.getNumPartitions() == 5


def test_content_invariant_under_partitioning_and_seeded(spark):
    a = sorted(map(tuple, _read(spark, rows=200, partitions=2).collect()))
    b = sorted(map(tuple, _read(spark, rows=200, partitions=7).collect()))
    assert a == b  # rows are a pure function of (seed, index)
    c = sorted(map(tuple, _read(spark, rows=200, seed=99).collect()))
    assert a != c  # the seed re-draws the dataset


def test_planted_dirtiness_present(spark):
    df = _read(spark, rows=500)
    assert df.filter(F.col("event_type").isNull()).count() > 0
    assert df.filter(F.col("value").isNull()).count() > 0
    # duplicate ids exist (every 97th row repeats its predecessor's id)
    assert df.count() > df.select("event_id").distinct().count()


def test_composes_with_cleaning_operator(spark):
    from kafkastreamingetl_spark.operators.cleaning import clean_events

    cleaned = clean_events(_read(spark, rows=400))
    assert cleaned.filter(F.col("event_type_norm").isNull()).count() == 0
    ids = cleaned.select("event_id")
    assert ids.count() == ids.distinct().count()


def test_streaming_reader_resumes_from_checkpoint(spark, tmp_path):
    """readStream over the custom source: each checkpointed availableNow
    run drains the next batch_rows slice, successive runs resume from the
    committed offset (never re-emitting), the union of runs equals the
    batch read of the full range, and a run past max_rows emits nothing."""
    register_synthetic_source(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run():
        stream = (
            spark.readStream.format("synthetic_events")
            .option("batch_rows", 50)
            .option("max_rows", 150)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return sorted(map(tuple, spark.read.parquet(out).collect()))

    totals = [len(run()) for _ in range(3)]
    assert totals == [50, 100, 150]  # each run drains the next slice once
    got = run()  # 4th run: offsets exhausted, nothing new
    assert len(got) == 150
    want = sorted(map(tuple, _read(spark, rows=150).collect()))
    assert got == want


# ---------------------------------------------------------------------------
# writer half of the connector API (jsonl_dir sink)
# ---------------------------------------------------------------------------


def test_jsonl_sink_two_phase_commit(spark, tmp_path):
    """Tasks stage .tmp files; only the driver commit publishes finals +
    _MANIFEST, whose counts match disk and the frame written."""
    import json
    import os

    from kafkastreamingetl_spark.datasource import (
        register_jsonl_sink,
        register_synthetic_source,
    )

    register_jsonl_sink(spark)
    register_synthetic_source(spark)
    d = str(tmp_path / "sink")
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 300)
        .option("partitions", 3)
        .load()
    )
    df.write.format("jsonl_dir").option("path", d).mode("append").save()

    names = sorted(os.listdir(d))
    assert "_MANIFEST" in names
    finals = [n for n in names if n.endswith(".jsonl")]
    assert len(finals) == 3
    assert not [n for n in names if n.endswith(".tmp")]
    manifest = json.load(open(os.path.join(d, "_MANIFEST")))
    assert manifest["n_rows"] == 300
    assert sorted(manifest["files"]) == finals
    assert spark.read.json(os.path.join(d, "*.jsonl")).count() == 300


def test_jsonl_sink_overwrite_replaces_published_files(spark, tmp_path):
    import json
    import os

    from kafkastreamingetl_spark.datasource import (
        register_jsonl_sink,
        register_synthetic_source,
    )

    register_jsonl_sink(spark)
    register_synthetic_source(spark)
    d = str(tmp_path / "sink_ow")
    src = spark.read.format("synthetic_events").option("rows", 200).load()
    src.write.format("jsonl_dir").option("path", d).mode("append").save()
    src.limit(50).coalesce(1).write.format("jsonl_dir").option(
        "path", d
    ).mode("overwrite").save()
    manifest = json.load(open(os.path.join(d, "_MANIFEST")))
    assert manifest["n_rows"] == 50
    assert spark.read.json(os.path.join(d, "*.jsonl")).count() == 50


def test_jsonl_sink_failed_write_publishes_nothing(spark, tmp_path):
    """A task failure mid-write must leave no published .jsonl and no
    manifest — readers keyed on the manifest never observe the run."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from kafkastreamingetl_spark.datasource import register_jsonl_sink

    register_jsonl_sink(spark)
    d = str(tmp_path / "sink_fail")
    bad = spark.range(100).select(
        F.when(F.col("id") == 57, F.expr("raise_error('planted failure')"))
        .otherwise(F.col("id").cast("string"))
        .alias("v")
    )
    with pytest.raises(Exception, match="planted failure"):
        bad.write.format("jsonl_dir").option("path", d).mode("append").save()
    published = [
        n
        for n in (os.listdir(d) if os.path.isdir(d) else [])
        if n.endswith(".jsonl") or n == "_MANIFEST"
    ]
    assert published == []


def test_jsonl_sink_empty_frame_commits_empty_manifest(spark, tmp_path):
    """Zero write tasks (an empty frame plans no partitions) is a valid
    commit: directory created driver-side, n_rows=0 manifest published."""
    import json
    import os

    from kafkastreamingetl_spark.datasource import register_jsonl_sink

    register_jsonl_sink(spark)
    d = str(tmp_path / "sink_empty")
    spark.createDataFrame([], "v string").write.format("jsonl_dir").option(
        "path", d
    ).mode("overwrite").save()
    manifest = json.load(open(os.path.join(d, "_MANIFEST")))
    # whether the planner runs 0 tasks or 1 empty task, the published
    # generation is 0 rows and the manifest exists (commit makedirs +
    # writes it driver-side, never relying on a task having run)
    assert manifest["n_rows"] == 0
    assert all(v == 0 for v in manifest["files"].values())


def test_jsonl_sink_corrupt_manifest_fails_append_commit(spark, tmp_path):
    """A corrupt _MANIFEST must fail an append commit loudly: publishing a
    fresh manifest over it would hide every previously committed file from
    manifest-keyed readers (silent data loss). Only a MISSING manifest
    (first generation) falls through to the empty default — re-proven here
    after the corrupt run by writing to a fresh dir."""
    import json
    import os

    from kafkastreamingetl_spark.datasource import register_jsonl_sink

    register_jsonl_sink(spark)
    d = str(tmp_path / "sink_corrupt")
    os.makedirs(d)
    with open(os.path.join(d, "_MANIFEST"), "w") as f:
        f.write("{not json")
    df = spark.createDataFrame([("a",)], "v string")
    try:
        df.write.format("jsonl_dir").option("path", d).mode("append").save()
        raise AssertionError("append over a corrupt _MANIFEST must fail")
    except Exception as e:  # surfaces as a captured AnalysisException
        assert "refusing to publish" in str(e)
    # the corrupt manifest is left untouched (no destructive overwrite)
    assert open(os.path.join(d, "_MANIFEST")).read() == "{not json"

    # first generation (no manifest at all) still commits fine
    d2 = str(tmp_path / "sink_fresh")
    df.write.format("jsonl_dir").option("path", d2).mode("append").save()
    assert json.load(open(os.path.join(d2, "_MANIFEST")))["n_rows"] == 1
