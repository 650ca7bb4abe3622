"""Streaming twin of the daily near-dup ingest loop: per micro-batch dedup
against the persisted index, survivor append-back, corpus write — the
foreachBatch form of the `neardup-ingest` batch CLI (VERDICT r11 item 5).
Differential: two "days" through the stream (checkpoint-restart between
them) produce the same corpus the batch CLI produces from the same two
batches; a replayed batch self-heals via partition-scoped overwrite.
"""

from __future__ import annotations

import json

import pytest

from kafkastreamingetl_spark.jobs import main as jobs_main
from kafkastreamingetl_spark.streaming import neardup_ingest_sink, run_available_now

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
FRESH1 = "one two three four five six seven eight nine ten eleven"
FRESH2 = "north south east west up down left right hub spoke rim"
NEAR1 = "one two three four five six seven eight nine ten twelve"  # ~FRESH1


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _run(spark, src, corpus, index, ckpt):
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = neardup_ingest_sink(stream, corpus, index, ckpt, available_now=True)
    run_available_now([q])


def _corpus_ids(spark, corpus):
    return {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}


@pytest.fixture()
def paths(tmp_path):
    return tuple(str(tmp_path / p) for p in ("src", "corpus", "index", "ckpt"))


def test_two_day_stream_matches_batch_cli(spark, paths, tmp_path, capsys):
    """Day 1 bootstraps (within-batch dedup), checkpoint restart, day 2
    dedups against day 1's accepted corpus — and the final corpus equals
    the batch CLI's over the same two batches (same functions per batch,
    so equality is by construction; this test pins it)."""
    src, corpus, index, ckpt = paths
    day1 = [(1, BASE), (2, BASE), (3, FRESH1)]  # 2 near-dups 1
    day2 = [(10, NEAR1), (11, FRESH2)]  # 10 near-dups day-1 survivor 3

    # streaming lane: one availableNow run per day, SAME checkpoint —
    # the restart is the point (reference T6 semantics on the LLM lane)
    _docs(spark, day1).write.parquet(src)
    _run(spark, src, corpus, index, ckpt)
    assert _corpus_ids(spark, corpus) == {1, 3}

    _docs(spark, day2).write.mode("append").parquet(src)
    _run(spark, src, corpus, index, ckpt)
    assert _corpus_ids(spark, corpus) == {1, 3, 11}
    # day-2 survivors landed under their own batch partition: the restart
    # processed ONLY the new file, it did not reprocess day 1
    parts = {
        (r.batch_id, r.doc_id)
        for r in spark.read.parquet(corpus).select("batch_id", "doc_id").collect()
    }
    day2_batches = {b for b, d in parts if d == 11}
    day1_batches = {b for b, d in parts if d in (1, 3)}
    assert day2_batches.isdisjoint(day1_batches)

    # batch lane: the CLI over the same two day-batches
    b1, b2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    _docs(spark, day1).write.parquet(b1)
    _docs(spark, day2).write.parquet(b2)
    cli_index, cli_out = str(tmp_path / "cli_index"), str(tmp_path / "cli_out")
    for b, day in ((b1, "2026-08-15"), (b2, "2026-08-16")):
        rc = jobs_main(
            ["neardup-ingest", "--index", cli_index, "--batch", b, "--out", cli_out,
             "--day", day]
        )
        assert rc == 0
    capsys.readouterr()
    assert _corpus_ids(spark, cli_out) == _corpus_ids(spark, corpus)

    # index state matches too (same survivors → same signature rows)
    stream_sigs = spark.read.parquet(index + "/sigs")
    cli_sigs = spark.read.parquet(cli_index + "/sigs")
    assert stream_sigs.count() == cli_sigs.count()
    assert {r.doc_id for r in stream_sigs.select("doc_id").distinct().collect()} == {
        r.doc_id for r in cli_sigs.select("doc_id").distinct().collect()
    }


def test_replayed_batch_self_heals(spark, paths):
    """A replay of batch 0 over an index already holding batch 0's own
    signatures must not self-suppress (probe excludes batch_id >= current;
    bootstrap decided by rows-below-current, not path existence) and must
    overwrite, not double-append, its corpus/index partitions."""
    src, corpus, index, ckpt = paths
    _docs(spark, [(1, BASE), (2, BASE), (3, FRESH1)]).write.parquet(src)
    _run(spark, src, corpus, index, ckpt)
    assert _corpus_ids(spark, corpus) == {1, 3}
    n_sigs = spark.read.parquet(index + "/sigs").count()

    # fresh checkpoint over the same source = the same rows re-delivered
    # as batch 0, against an index that already holds batch 0's output
    _run(spark, src, corpus, index, ckpt + "_replay")
    assert _corpus_ids(spark, corpus) == {1, 3}
    assert spark.read.parquet(corpus).count() == 2
    assert spark.read.parquet(index + "/sigs").count() == n_sigs


def test_unique_docs_pass_and_near_dups_drop_across_three_batches(spark, paths):
    """Continuity: batch 3's near-dup of a batch-1 survivor is dropped via
    signatures appended in batch 1 — the index accretes across the whole
    stream, not just adjacent batches."""
    src, corpus, index, ckpt = paths
    _docs(spark, [(1, FRESH1)]).write.parquet(src)
    _run(spark, src, corpus, index, ckpt)
    _docs(spark, [(2, FRESH2)]).write.mode("append").parquet(src)
    _run(spark, src, corpus, index, ckpt)
    _docs(spark, [(3, NEAR1), (4, BASE)]).write.mode("append").parquet(src)
    _run(spark, src, corpus, index, ckpt)
    assert _corpus_ids(spark, corpus) == {1, 2, 4}
