"""Custom Python data source (the Spark 4 DataSource API): the connector
surface for systems Spark has no built-in reader for.

The reference ingests from Kafka; in environments without a broker its
synthetic generator (sources.py S9) stands in. This module packages that
generator as a REGISTERED SOURCE — ``spark.read.format("synthetic_events")``
— demonstrating the extension point a real deployment uses to mount
first-party systems (feature stores, internal queues, proprietary formats)
as tables:

- partition planning: ``partitions()`` splits the row range into
  ``partitions`` independent splits — Spark schedules one task per split,
  so the source scales out like any file scan;
- determinism: every field is a pure function of (seed, row index) via
  md5, so the SAME rows come back regardless of partition count or
  executor placement — replay-safe, test-stable;
- dirtiness: the generator plants the reference pipeline's mess (null
  types, null values, duplicate ids) at fixed row positions so cleaning
  operators have something to clean.

The per-row Python cost confines this to landing/testing duty — exactly
like the CSV/JSONL landing sources, convert once to parquet and query
that.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from .functions import py_hash60
from .sources import EVENT_TYPES

SYNTH_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events")`` with options:

    - ``rows`` (default 1000): total rows
    - ``partitions`` (default 8): split count (content-invariant)
    - ``seed`` (default 7): re-draws the whole dataset
    """

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return SYNTH_SCHEMA

    def reader(self, schema) -> "SyntheticEventsReader":
        return SyntheticEventsReader(self.options)

    def simpleStreamReader(self, schema) -> "SyntheticEventsStreamReader":
        return SyntheticEventsStreamReader(self.options)


def _gen_rows(seed: int, start: int, end: int):
    base = datetime(2024, 1, 1)
    for i in range(start, end):
        # planted dirtiness at fixed positions (reference spark/app.py
        # cleans exactly these): every 97th row repeats the previous
        # event_id; every 13th has a null type; every 11th a null value
        event_id = i - 1 if (i % 97 == 0 and i > 0) else i
        ts = base + timedelta(seconds=int(py_hash60(f"{seed}:{i}:ts") % 2_592_000))
        user_id = int(py_hash60(f"{seed}:{i}:u") % 500)
        event_type = (
            None
            if i % 13 == 0
            else EVENT_TYPES[py_hash60(f"{seed}:{i}:t") % len(EVENT_TYPES)]
        )
        value = (
            None
            if i % 11 == 0
            else round((py_hash60(f"{seed}:{i}:v") % 100_000) / 100.0, 2)
        )
        props = "{}" if i % 3 == 0 else f'{{"k": {py_hash60(f"{seed}:{i}:k") % 100}}}'
        yield (event_id, ts, user_id, event_type, value, props)


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.n_parts = max(1, int(options.get("partitions", 8)))
        self.seed = int(options.get("seed", 7))

    def partitions(self):
        if self.rows <= 0:
            # zero-row budget = a valid empty scan, not range(0, 0, 0)
            return [_RangePartition(0, 0)]
        step = -(-self.rows // self.n_parts)  # ceil
        return [
            _RangePartition(s, min(s + step, self.rows))
            for s in range(0, self.rows, step)
        ]

    def read(self, partition: _RangePartition):
        yield from _gen_rows(self.seed, partition.start, partition.end)


def register_synthetic_source(spark) -> None:
    """Idempotently register the source with a session (re-registration
    replaces the prior entry — safe to call per consumer)."""
    spark.dataSource.register(SyntheticEventsDataSource)


# ---------------------------------------------------------------------------
# streaming reader: the same source under readStream
# ---------------------------------------------------------------------------


class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    """Micro-batched streaming form of the generator: offsets are plain
    row indices, each trigger serves the next ``batch_rows`` slice, and
    ``readBetweenOffsets`` regenerates any committed range bit-identically
    (rows are (seed, index)-pure) — which is exactly the replayability
    contract exactly-once recovery needs from a source. ``max_rows``
    bounds the stream so availableNow/test runs terminate."""

    def __init__(self, options):
        self.batch_rows = int(options.get("batch_rows", 100))
        self.max_rows = int(options.get("max_rows", 1000))
        self.seed = int(options.get("seed", 7))

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def _rows(self, start: int, end: int) -> list:
        # materialized: the engine caches prefetched batches for replay and
        # copies the iterator — a lazy generator cannot be copied/pickled
        return list(_gen_rows(self.seed, start, end))

    def read(self, start: dict):
        s = int(start["offset"])
        e = min(s + self.batch_rows, self.max_rows)
        return iter(self._rows(s, e)), {"offset": e}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(int(start["offset"]), int(end["offset"])))


# ---------------------------------------------------------------------------
# writer: the connector API's WRITE contract (two-phase commit)
# ---------------------------------------------------------------------------


class _FileCommit(WriterCommitMessage):
    """Per-task commit message: which temp file this task staged and how
    many rows it holds. Must be picklable — it travels executor → driver."""

    def __init__(self, tmp_name: str, n_rows: int):
        self.tmp_name = tmp_name
        self.n_rows = n_rows


class JsonLinesSinkDataSource(DataSource):
    """``df.write.format("jsonl_dir").option("path", DIR).save()`` — a
    writable custom source demonstrating the OTHER half of the Spark 4
    connector API (the reader half is ``synthetic_events`` above): what a
    deployment implements to mount an internal system as a SINK.

    The write is two-phase, the part of the contract that matters at 1000
    executors: every task stages its partition as an invisible
    ``*.jsonl.tmp`` under the target and reports a commit message; only
    the DRIVER's ``commit()`` renames staged files into place and writes a
    ``_MANIFEST`` (file list + row counts), so readers keyed on the
    manifest never observe a half-written dataset, and ``abort()`` removes
    stragglers after any task failure. Rename-based publish assumes a
    same-directory atomic rename (local FS, HDFS; on S3-like stores the
    real implementation uploads + completes multipart instead)."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_dir"

    def schema(self) -> str:
        # writer-only source: schema comes from the frame being written
        return "value string"

    def writer(self, schema, overwrite: bool) -> "JsonLinesWriter":
        return JsonLinesWriter(self.options, overwrite)


class JsonLinesWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        path = options.get("path")
        if not path:
            raise ValueError("jsonl_dir writer requires option('path', ...)")
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator) -> _FileCommit:
        """Executor side: stage this partition as one temp file."""
        import json as _json
        import os as _os
        import uuid as _uuid

        _os.makedirs(self.path, exist_ok=True)
        tmp_name = f"part-{_uuid.uuid4().hex}.jsonl.tmp"
        n = 0
        with open(_os.path.join(self.path, tmp_name), "w") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _FileCommit(tmp_name, n)

    def commit(self, messages) -> None:
        """Driver side: publish the new generation with the manifest swap
        as the single visibility point. Ordering is the contract:

        1. rename every staged ``.tmp`` to its final name (uuid names —
           never colliding with the previous generation's files);
        2. write the new manifest to ``_MANIFEST.tmp`` and RENAME it over
           ``_MANIFEST`` (atomic on POSIX) — a reader keyed on the
           manifest sees either the complete old generation or the
           complete new one, never a mixture or a truncated manifest;
        3. only then, under overwrite, delete the previous generation's
           files (anything published but absent from the new manifest).
           A long-running reader that pinned the OLD manifest just before
           the swap can still lose files under it — rename-based stores
           cannot close that window; real implementations retain N
           generations and vacuum later.

        Zero write tasks (an empty frame plans no partitions) is a valid
        commit: the directory is created here and an n_rows=0 manifest
        published."""
        import json as _json
        import os as _os

        _os.makedirs(self.path, exist_ok=True)
        manifest = {"files": {}, "n_rows": 0}
        if not self.overwrite:
            # append: the new generation = previous manifest + this run.
            # Only a MISSING manifest (first generation) may fall through
            # to the empty default — a corrupt/unreadable one must fail
            # the commit, or the fresh manifest we'd publish would hide
            # every previously committed file from manifest-keyed readers
            # (silent data loss in a sink whose contract is manifest-keyed
            # atomic visibility).
            try:
                with open(_os.path.join(self.path, "_MANIFEST")) as f:
                    manifest = _json.load(f)
            except FileNotFoundError:
                pass
            except (OSError, ValueError) as e:
                raise RuntimeError(
                    f"append commit to {self.path!r}: existing _MANIFEST "
                    f"is unreadable ({type(e).__name__}: {e}); refusing to "
                    "publish a manifest that would orphan the previous "
                    "generation"
                ) from e
        for m in messages:
            final = m.tmp_name[: -len(".tmp")]
            _os.rename(
                _os.path.join(self.path, m.tmp_name),
                _os.path.join(self.path, final),
            )
            manifest["files"][final] = m.n_rows
            manifest["n_rows"] += m.n_rows
        tmp_manifest = _os.path.join(self.path, "_MANIFEST.tmp")
        with open(tmp_manifest, "w") as f:
            _json.dump(manifest, f, sort_keys=True)
        _os.replace(tmp_manifest, _os.path.join(self.path, "_MANIFEST"))
        if self.overwrite:
            for name in _os.listdir(self.path):
                if name.endswith(".jsonl") and name not in manifest["files"]:
                    _os.remove(_os.path.join(self.path, name))

    def abort(self, messages) -> None:
        """Driver side: a task failed somewhere — remove every staged file
        this run managed to report (tmp stragglers from unreported tasks
        are invisible to readers either way: they keep the .tmp suffix)."""
        import os as _os

        for m in messages:
            if m is None:
                continue
            try:
                _os.remove(_os.path.join(self.path, m.tmp_name))
            except FileNotFoundError:
                pass


def register_jsonl_sink(spark) -> None:
    """Idempotently register the sink with a session."""
    spark.dataSource.register(JsonLinesSinkDataSource)
