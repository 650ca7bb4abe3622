"""All-time streaming dedup via the persisted hash index: duplicates are
dropped across micro-batches (and across separate runs) with ZERO executor
state, and a replayed batch converges instead of double-writing or
self-suppressing — the unbounded-dedup semantics of the reference's
whole-stream dropDuplicates without its unbounded state.
"""

from __future__ import annotations

import pytest

from kafkastreamingetl_spark.streaming import alltime_dedup_sink, run_available_now


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _run(spark, src, out, index, ckpt):
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = alltime_dedup_sink(stream, out, index, ckpt, available_now=True)
    run_available_now([q])


def _texts(spark, out):
    return sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(out).collect()
    )


@pytest.fixture()
def paths(tmp_path):
    return tuple(
        str(tmp_path / p) for p in ("src", "out", "index", "ckpt")
    )


def test_dedup_across_batches_and_runs(spark, paths):
    src, out, index, ckpt = paths
    _docs(spark, [(1, "alpha"), (2, "beta"), (3, "alpha")]).write.parquet(src)
    _run(spark, src, out, index, ckpt)
    assert _texts(spark, out) == [(1, "alpha"), (2, "beta")]

    # second wave, SAME checkpoint: new file arrives with one duplicate of
    # a batch-1 survivor and one genuinely new doc
    _docs(spark, [(10, "beta"), (11, "gamma")]).write.mode("append").parquet(src)
    _run(spark, src, out, index, ckpt)
    assert _texts(spark, out) == [(1, "alpha"), (2, "beta"), (11, "gamma")]


def test_replayed_batch_converges(spark, paths):
    """Simulated micro-batch retry: re-running the same input with a fresh
    checkpoint replays batch 0 over an index that already contains batch
    0's own rows. The batch_id discipline must neither append twice (the
    output partition is overwritten) nor self-suppress into an empty
    partition via its own earlier index rows (the anti-join excludes
    batch_id >= current)."""
    src, out, index, ckpt = paths
    _docs(spark, [(1, "alpha"), (2, "beta")]).write.parquet(src)
    _run(spark, src, out, index, ckpt)
    first = _texts(spark, out)
    n_index = spark.read.parquet(index).count()

    _run(spark, src, out, index, ckpt + "_replay")
    assert _texts(spark, out) == first
    # the replay overwrites its index partition, never appends a copy
    assert spark.read.parquet(index).count() == n_index
