"""Streaming near-dup flagging via the persisted band index: exact repeats
and within-batch copies are flagged across micro-batches with zero executor
state, unique docs pass clean, and a replayed batch converges — the LSH
complement to the all-time exact-dedup sink.
"""

from __future__ import annotations

import pytest

from kafkastreamingetl_spark.streaming import neardup_flag_sink, run_available_now

TEXT_A = "the quick brown fox jumps over the lazy dog today"
TEXT_B = "completely different content about spark shuffles and joins here"
TEXT_C = "unrelated third document mentioning parquet row groups and scans"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _run(spark, src, out, index, ckpt):
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = neardup_flag_sink(stream, out, index, ckpt, available_now=True)
    run_available_now([q])


def _report(spark, out):
    return {
        r.doc_id: (r.n_index_bands, r.n_batch_partners, r.is_neardup)
        for r in spark.read.parquet(out).collect()
    }


@pytest.fixture()
def paths(tmp_path):
    return tuple(str(tmp_path / p) for p in ("src", "out", "index", "ckpt"))


def test_flags_across_batches_and_within_batch(spark, paths):
    src, out, index, ckpt = paths
    # batch 1: doc 2 copies doc 1 (within-batch), doc 3 unique
    _docs(spark, [(1, TEXT_A), (2, TEXT_A), (3, TEXT_B)]).write.parquet(src)
    _run(spark, src, out, index, ckpt)
    rep = _report(spark, out)
    assert rep[1] == (0, 0, False)  # lower id wins: not flagged
    assert rep[2][1] >= 1 and rep[2][2]  # flagged by within-batch partner
    assert rep[3] == (0, 0, False)

    # batch 2: doc 10 copies a batch-1 doc (index hit), doc 11 unique
    _docs(spark, [(10, TEXT_B), (11, TEXT_C)]).write.mode("append").parquet(src)
    _run(spark, src, out, index, ckpt)
    rep = _report(spark, out)
    assert rep[10][0] >= 1 and rep[10][2]  # flagged via the persisted index
    assert rep[11] == (0, 0, False)
    # batch-1 rows unchanged in the report lake
    assert rep[1][2] is False and rep[2][2] is True


def test_replayed_batch_converges(spark, paths):
    """Replaying batch 0 over an index already holding batch 0's own
    signatures must not self-flag (the probe excludes batch_id >= current)
    and must overwrite, not duplicate, its report partition."""
    src, out, index, ckpt = paths
    _docs(spark, [(1, TEXT_A), (2, TEXT_B)]).write.parquet(src)
    _run(spark, src, out, index, ckpt)
    first = _report(spark, out)
    assert first == {1: (0, 0, False), 2: (0, 0, False)}
    n_index = spark.read.parquet(index).count()

    _run(spark, src, out, index, ckpt + "_replay")
    assert _report(spark, out) == first
    assert spark.read.parquet(out).count() == 2
    # the replay overwrites its index partition, never appends a copy
    assert spark.read.parquet(index).count() == n_index
