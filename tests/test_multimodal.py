"""Multimodal plumbing: binary payload column, Arrow-batched feature
extraction, resize and frame sampling, null payloads."""

from __future__ import annotations

import hashlib

from kafkastreamingetl_spark.operators.multimodal import (
    _fake_decode,
    extract_features,
    resize_payloads,
    sample_frames,
    with_binary_payload,
)


def test_extract_features_binary_path(spark):
    rows = [(1, "hello world"), (2, "café bytes")]  # non-ASCII exercised
    df = with_binary_payload(spark.createDataFrame(rows, ["doc_id", "text"]))
    assert dict(df.dtypes)["payload"] == "binary"
    got = {r.doc_id: r for r in extract_features(df).collect()}
    for doc_id, text in rows:
        raw = text.encode("utf-8")
        digest = hashlib.md5(raw).hexdigest()
        r = got[doc_id]
        assert r.n_bytes == len(raw)  # bytes, not chars (café: 10 vs 9)
        assert r.content_md5 == digest
        assert (r.fake_width, r.fake_height) == _fake_decode(digest)


def test_resize_is_one_to_one_and_bounded(spark):
    rows = [(1, "x" * 100), (2, "short")]
    df = with_binary_payload(spark.createDataFrame(rows, ["doc_id", "text"]))
    got = {r.doc_id: r for r in resize_payloads(df, target_bytes=64).collect()}
    assert len(got) == 2  # 1:1 contract
    assert got[1].n_bytes_in == 100 and got[1].n_bytes_out == 64
    assert bytes(got[1].payload_resized) == b"x" * 64
    assert got[2].n_bytes_out == 5  # shorter than target: untouched
    assert bytes(got[2].payload_resized) == b"short"


def test_frame_sampling_stride_and_indices(spark):
    # 100 bytes -> 4 frames of 32 (last partial); stride 2 keeps idx 0, 2
    df = with_binary_payload(
        spark.createDataFrame([(1, "ab" * 50)], ["doc_id", "text"])
    )
    got = sorted(
        sample_frames(df, frame_bytes=32, stride=2).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in got] == [0, 2]
    assert all(r.n_frames_total == 4 for r in got)
    assert len(bytes(got[0].frame_bytes)) == 32
    assert len(bytes(got[1].frame_bytes)) == 32
    assert bytes(got[1].frame_bytes) == ("ab" * 50).encode()[64:96]


def test_null_payload_propagates_not_crashes(spark):
    """A null binary cell must propagate as null features / null resize
    output and contribute zero frames — bytes(None) in the worker would
    otherwise fail the whole task."""
    df = spark.createDataFrame(
        [(1, b"hello world"), (2, None)], "doc_id long, payload binary"
    )
    feats = {r.doc_id: r for r in extract_features(df).collect()}
    assert feats[1].content_md5 is not None
    assert feats[2].content_md5 is None and feats[2].n_bytes is None

    rs = {r.doc_id: r for r in resize_payloads(df).collect()}
    assert rs[1].payload_resized is not None
    assert rs[2].payload_resized is None and rs[2].n_bytes_in is None

    frames = sample_frames(df).collect()
    assert all(r.doc_id == 1 for r in frames)
    assert len(frames) > 0


def test_arrow_lane_accepts_non_bigint_ids(spark):
    """An int32 id column must not break the Arrow-batched feature lane:
    _slim casts ids to bigint JVM-side so the lane sees the declared
    schema."""
    docs = spark.createDataFrame(
        [(1, "abc"), (2, "def")], "doc_id int, text string"
    )
    rows = extract_features(with_binary_payload(docs)).collect()
    assert {r.doc_id for r in rows} == {1, 2}
    assert all(r.n_bytes == 3 for r in rows)
