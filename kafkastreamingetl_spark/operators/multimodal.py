"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

Design for media at 100 TB: image/audio/video bytes ride as an opaque
``binary`` column next to typed metadata columns; per-item work
(feature-extract, resize, frame-sample) runs as Arrow-batched Python over
``mapInPandas`` — the sanctioned Python path, since media codecs are not
expressible as Catalyst expressions. The Spark-side contract (schema,
batch iteration, column pruning before the Python stage) is real and tested.

Scale notes:
- the ``mapInPandas`` input is projected to exactly (id, payload) before the
  Python boundary, so Arrow transfers no unrelated columns;
- feature extraction is per-row independent → embarrassingly parallel, no
  shuffle at any width;
- real deployments swap ``_fake_decode`` for PIL/ffmpeg calls inside the
  same batch loop; the plan shape does not change.

No analogue in the reference (Kafka JSON events only); north-star extension
surface (BASELINE.json).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import ensure_parallelism

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, content_md5 string, fake_width int, fake_height int"
)


def _fake_decode(digest_hex: str) -> tuple[int, int]:
    """Deterministic stand-in for decoded media dimensions.

    Derived from the payload hash so tests and oracles can predict it:
    width = 1 + (first 8 hex digits as int) mod 1920, height analogous on
    the next 8 digits.
    """
    w = 1 + int(digest_hex[:8], 16) % 1920
    h = 1 + int(digest_hex[8:16], 16) % 1080
    return w, h


def with_binary_payload(df: DataFrame) -> DataFrame:
    """Materialize an opaque binary column (UTF-8 bytes of a string column).

    Stand-in producer: the testdata has no real media, so documents' text
    doubles as the payload. Real pipelines read media bytes from parquet
    ``binary`` columns or ``spark.read.format("binaryFile")``.
    """
    return df.withColumn("payload", F.encode(F.col("text"), "utf-8"))


def _slim(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """The shared (id, payload) prologue of every multimodal stage: prune
    to the two consumed columns BEFORE the Arrow boundary (a 100 TB row
    must not ship its siblings into Python) and widen under-partitioned
    scans. One definition — the projection/parallelism contract is not
    copy-pasted per stage."""
    return ensure_parallelism(df).select(
        # bigint here, not at the Arrow boundary: FEATURE_SCHEMA declares
        # doc_id bigint, and the lanes pass the column through as read, so
        # an int32 id would otherwise rely on Arrow's coercion
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.col(payload_col).alias("payload"),
    )


def _opt_bytes(p) -> bytes | None:
    """NULL-safe payload access: a null binary cell reaches the worker as
    None, and ``bytes(None)`` raises — null payloads must propagate as
    null outputs (the engines' shared NULL-in/NULL-out contract), not
    fail the task."""
    return None if p is None else bytes(p)


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched per-item feature extraction over a binary column.

    Output: (doc_id, n_bytes, content_md5, fake_width, fake_height);
    null payloads yield null features.
    """
    slim = _slim(df, "doc_id", "payload")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raws = [_opt_bytes(p) for p in pdf["payload"]]
            digests = [
                None if r is None else hashlib.md5(r).hexdigest() for r in raws
            ]
            dims = [(None, None) if d is None else _fake_decode(d) for d in digests]
            n_bytes = [None if r is None else len(r) for r in raws]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes,
                    "content_md5": digests,
                    "fake_width": [w for w, _ in dims],
                    "fake_height": [h for _, h in dims],
                }
            )

    return slim.mapInPandas(extract, schema=FEATURE_SCHEMA)


def sql_extract_features() -> str:
    """DuckDB twin of encode→extract_features over an ASCII source column."""
    h = "md5(text)"
    return f"""
    SELECT doc_id,
           length(text)::BIGINT AS n_bytes,
           {h} AS content_md5,
           (1 + ('0x' || substr({h}, 1, 8))::BIGINT % 1920)::INT AS fake_width,
           (1 + ('0x' || substr({h}, 9, 8))::BIGINT % 1080)::INT AS fake_height
    FROM documents
    """


# ---------------------------------------------------------------------------
# resize: per-item payload transformation (binary in -> binary out)
# ---------------------------------------------------------------------------

RESIZE_TARGET_BYTES = 64


def resize_payloads(
    df: DataFrame, *, target_bytes: int = RESIZE_TARGET_BYTES
) -> DataFrame:
    """The resize/downsample plumbing: binary in → smaller binary out, 1:1.

    The transformation is a deterministic byte-truncation stand-in (no
    image libs here — a real deployment calls PIL's ``Image.resize`` on
    the decoded pixels inside the same batch loop; the Arrow batch shape,
    output schema, and 1:1 row contract are what this operator pins down).
    """
    slim = _slim(df, "doc_id", "payload")

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [_opt_bytes(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload_resized": [
                        None if p is None else p[:target_bytes]
                        for p in payloads
                    ],
                    "n_bytes_in": [
                        None if p is None else len(p) for p in payloads
                    ],
                    "n_bytes_out": [
                        None if p is None else min(len(p), target_bytes)
                        for p in payloads
                    ],
                }
            )

    return slim.mapInPandas(
        resize,
        schema=(
            "doc_id bigint, payload_resized binary, "
            "n_bytes_in bigint, n_bytes_out bigint"
        ),
    )


def sql_resize_payloads() -> str:
    return f"""
    SELECT doc_id,
           base64(encode(substr(text, 1, {RESIZE_TARGET_BYTES})))
               AS payload_b64,
           length(text)::BIGINT AS n_bytes_in,
           least(length(text), {RESIZE_TARGET_BYTES})::BIGINT AS n_bytes_out
    FROM documents
    """


# ---------------------------------------------------------------------------
# frame sampling: one payload -> N frame rows (the 1->N batch shape)
# ---------------------------------------------------------------------------

FRAME_BYTES = 32
FRAME_STRIDE = 4  # keep every 4th frame


def sample_frames(
    df: DataFrame, *, frame_bytes: int = FRAME_BYTES, stride: int = FRAME_STRIDE
) -> DataFrame:
    """Video-style frame sampling: each payload explodes into every
    ``stride``-th fixed-width chunk — the 1→N ``mapInPandas`` shape
    (output rows ≠ input rows), which ``pandas_udf`` cannot express.
    Chunking stands in for ffmpeg keyframe extraction; frame_idx keeps the
    original frame position so downstream work can reconstruct timing.
    """
    slim = _slim(df, "doc_id", "payload")

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, blobs, totals = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                raw = _opt_bytes(p)
                if raw is None:
                    continue  # 1->N shape: a null payload has no frames
                n_frames = (len(raw) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, stride):
                    ids.append(doc_id)
                    idxs.append(i)
                    blobs.append(raw[i * frame_bytes : (i + 1) * frame_bytes])
                    totals.append(n_frames)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "frame_bytes": blobs,
                    "n_frames_total": totals,
                }
            )

    return slim.mapInPandas(
        frames,
        schema=(
            "doc_id bigint, frame_idx int, frame_bytes binary, n_frames_total int"
        ),
    )


def sql_sample_frames() -> str:
    n_frames = f"((length(text) + {FRAME_BYTES - 1}) // {FRAME_BYTES})"
    return f"""
    WITH exploded AS (
        SELECT doc_id, text AS src,
               {n_frames}::INT AS n_frames_total,
               unnest(range(0, {n_frames})) AS frame_idx
        FROM documents
    )
    SELECT doc_id,
           frame_idx::INT AS frame_idx,
           base64(encode(substr(src, frame_idx::INT * {FRAME_BYTES} + 1,
                                {FRAME_BYTES}))) AS frame_b64,
           n_frames_total
    FROM exploded
    WHERE frame_idx % {FRAME_STRIDE} = 0
    """
