"""Seeded input generation for the benchmark.

Everything the engine reads during a run is written here from ``--seed``:
the star-schema tables the registry lanes scan (same schemas and value
shapes as the engine's test tables) and the event files the streaming
workloads replay. The same seed gives byte-identical tables, and the stream
files always arrive in event-time order.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "en", "de", "es", "fr", "zh")
EMBED_DIM = 64
N_LABELS = 10

#: event time of the first generated event (the lanes' run-date query
#: slices 2024-01-15, inside the 30-day span)
EPOCH = datetime(2024, 1, 1)
EPOCH_US = int((EPOCH - datetime(1970, 1, 1)).total_seconds()) * 1_000_000

#: share of each stream file that repeats rows of the same file
DUP_RATE = 0.05
#: modification time of the first stream file; later files follow 1 s apart
FIRST_MTIME = 1_700_000_000.0


def _ts_us(micros: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(micros.astype("int64"), type=pa.timestamp("us", tz=tz))


def event_columns(
    rng: np.random.Generator, n: int, ts: pa.Array, first_id: int, n_users: int
) -> dict[str, pa.Array]:
    """The event schema (``sources.EVENT_SCHEMA``) for ``n`` events at the
    given, already ordered, event times."""
    value = np.round(rng.gamma(2.0, 30.0, n), 2)
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype="int64")),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_users, n, dtype="int64")),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write region, nation, customer, events, documents and embeddings at
    scale ``sf`` (sf=0.1: 15k customers, 100k events, 5k documents, 2k
    vectors). Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_vecs = int(20_000 * sf)
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype="int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events)) + EPOCH_US
    put("events", event_columns(rng, n_events, _ts_us(ts), 0, max(n_cust // 10, 1)))

    texts = []
    for _ in range(n_docs):
        k = int(rng.integers(10, 90))
        texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    # 5 % near-duplicates: another document's text with a marker appended
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })

    labels = rng.integers(0, N_LABELS, n_vecs)
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    vecs = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype="int64")),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    })
    return rows


def write_stream_files(
    out_dir: str,
    seed: int,
    *,
    n_files: int,
    events_per_file: int,
    file_span_s: float,
    n_users: int,
    start_us: int = EPOCH_US,
) -> list[str]:
    """One parquet file per micro-batch, in event-time order.

    File ``i`` holds ``events_per_file`` rows whose event times lie in
    ``[start + i*span, start + (i+1)*span)``, sorted, so no file reaches
    behind the previous one's watermark. A ``DUP_RATE`` share of each file
    are exact copies of rows of the same file (same id and time), which a
    watermarked dedup must drop and a batch ``dropDuplicates`` drops too.
    Modification times strictly increase with ``i`` (one second apart) so a
    file source with ``maxFilesPerTrigger=1`` replays them in this order.
    Returns the file paths in replay order.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    span_us = int(file_span_s * 1_000_000)
    n_dup = int(events_per_file * DUP_RATE)
    n_new = events_per_file - n_dup
    paths = []
    for i in range(n_files):
        lo = start_us + i * span_us
        ts = np.sort(rng.integers(lo, lo + span_us, n_new))
        t = pa.table(event_columns(rng, n_new, _ts_us(ts, "UTC"), i * n_new, n_users))
        dup_idx = np.sort(rng.choice(n_new, n_dup, replace=False))
        t = pa.concat_tables([t, t.take(pa.array(dup_idx))])
        order = np.argsort(t.column("ts").cast(pa.int64()).to_numpy(), kind="stable")
        t = t.take(pa.array(order))
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (FIRST_MTIME + i, FIRST_MTIME + i))
        paths.append(path)
    return paths

