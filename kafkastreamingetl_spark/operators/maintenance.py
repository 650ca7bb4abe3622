"""Lake maintenance: small-file compaction for streaming sink output.

Micro-batch parquet sinks (streaming.write_parquet_stream, the upsert sink)
produce one-or-more files PER TRIGGER per partition — at a 30 s trigger
that is ~2,880 files/partition/day, and at 100 TB the resulting
metadata/open-file overhead dominates scan setup long before data volume
does. Compaction is the standard follow-on: periodically rewrite each hive
partition's many small files into few large ones, without changing a row.

Design:
- per-partition rewrite via dynamic partition overwrite (only listed
  partitions are replaced; concurrent writers to OTHER partitions are
  untouched);
- target file count derived from actual partition bytes / target file
  size — never a fixed global number (a fixed ``repartition(n)`` would
  under-split hot days and over-split quiet ones);
- ``maxRecordsPerFile`` as the safety net against row-size skew;
- the rewrite is read → coalesce-shaped → write of the SAME rows: no
  dedup, no reorder semantics — compaction must be a no-op on content
  (asserted row-identical in tests/test_maintenance.py).

At real scale this runs as a scheduled batch job per recent partition
(compact yesterday once it stops receiving late data — the watermark
horizon tells you when).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024  # one HDFS-ish block per file


def partition_file_stats(
    spark: SparkSession, path: str, partition_col: str
) -> DataFrame:
    """Per-partition (value, n_files, total_bytes) from the file listing —
    the signal that decides WHICH partitions are worth compacting. Listing
    is driver-side but partition-count-sized, not row-sized."""
    rows = []
    for entry in os.listdir(path):
        if not entry.startswith(f"{partition_col}="):
            continue
        pdir = os.path.join(path, entry)
        files = [
            os.path.join(pdir, f)
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        ]
        rows.append(
            (
                entry.split("=", 1)[1],
                len(files),
                sum(os.path.getsize(f) for f in files),
            )
        )
    return spark.createDataFrame(
        rows, f"{partition_col} string, n_files int, total_bytes long"
    )


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    partition_values: list[str] | None = None,
    *,
    max_records_per_file: int | None = 10_000_000,
    sort_cols: list[str] | None = None,
) -> dict[str, int]:
    """Rewrite the listed hive partitions (default: all with > 1 file)
    into ceil(bytes / target_file_bytes) files each.

    Returns {partition_value: files_written}. Rows are bit-identical
    before/after; only the file layout changes. The per-partition
    ``repartition(n)`` is a round-robin shuffle of just that partition's
    rows — the price of packing; at scale you compact only partitions
    past their late-data horizon, so each run touches a bounded slice.

    ``sort_cols`` clusters rows inside each output file
    (``sortWithinPartitions`` — a per-task sort, no extra shuffle): parquet
    row-group min/max stats on those columns become tight, disjoint
    ranges, so later point/range scans on them skip whole row groups
    instead of reading the partition ("z-ordering lite", single-column
    case; asserted against the parquet footer in tests/test_maintenance.py).
    Compaction is THE moment to pay this sort — the data is being
    rewritten anyway.
    """
    stats = {
        r[0]: (r[1], r[2])
        for r in partition_file_stats(spark, path, partition_col).collect()
    }
    if partition_values is None:
        partition_values = [v for v, (n, _) in stats.items() if n > 1]

    written: dict[str, int] = {}
    for value in partition_values:
        n_files, total_bytes = stats[value]
        target = max(1, -(-total_bytes // DEFAULT_TARGET_FILE_BYTES))  # ceil
        if target >= n_files:
            continue  # already at-or-under target: rewriting would churn
        part = spark.read.parquet(path).where(F.col(partition_col) == value)
        shaped = part.repartition(target)
        if sort_cols:
            shaped = shaped.sortWithinPartitions(*sort_cols)
        # dynamic partition overwrite (session.RUNTIME_CONFS): only this
        # partition is replaced. localCheckpoint truncates lineage so the
        # overwrite target is not simultaneously a read source.
        w = (
            shaped.localCheckpoint(eager=True)
            .write.mode("overwrite")
            .partitionBy(partition_col)
        )
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", max_records_per_file)
        w.parquet(path)
        written[value] = target
    return written


def expire_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    *,
    keep_from: str,
    dry_run: bool = True,
) -> DataFrame:
    """Retention enforcement: report (and optionally delete) hive
    partitions whose value sorts strictly below ``keep_from`` — the
    "expire data older than N days" lake job.

    Returns the actioned report as a DataFrame: (value, n_files,
    total_bytes, expired). ``dry_run=True`` (the default) only reports —
    deletion is irreversible, so the two-phase report→approve→delete flow
    is the operational contract; the delete leg removes whole partition
    directories, never touching retained ones, so a concurrent writer to
    a live partition is unaffected.

    Values compare as strings, which orders correctly for the ISO
    ``key=YYYY-MM-DD`` layouts the engine writes (rollup, upsert sink);
    non-ISO layouts need a parsed comparator before trusting this. The
    DELETE leg enforces that precondition instead of assuming it
    (ADVICE r6): unless ``keep_from`` AND every expired partition value
    are ISO-date-shaped, the irreversible branch refuses with a
    ``ValueError`` and the caller gets the report-only behavior — a
    lexicographic comparison over ``DD-MM-YYYY`` or integer partition
    values would otherwise rmtree the wrong directories.

    At scale the listing is partition-count-sized driver work (same as
    partition_file_stats) and the deletes are metadata operations per
    expired partition — no row-level scan anywhere.
    """
    import re
    import shutil

    stats = partition_file_stats(spark, path, partition_col)
    report = stats.withColumn(
        "expired", F.col(partition_col) < F.lit(keep_from)
    )
    if not dry_run:
        iso = re.compile(r"\d{4}-\d{2}-\d{2}$")
        if not iso.fullmatch(keep_from):
            raise ValueError(
                f"expire_partitions: keep_from={keep_from!r} is not an "
                "ISO date; string-ordered expiry is only safe on "
                "key=YYYY-MM-DD layouts — refusing to delete"
            )
        expired = report.filter(F.col("expired")).collect()
        bad = [r[partition_col] for r in expired if not iso.fullmatch(str(r[partition_col]))]
        if bad:
            raise ValueError(
                f"expire_partitions: non-ISO partition values {bad[:5]!r} "
                "under string comparison — refusing to delete; use a "
                "parsed comparator for this layout"
            )
        for r in expired:
            shutil.rmtree(
                os.path.join(path, f"{partition_col}={r[partition_col]}")
            )
    return report


def vacuum_tombstones(
    spark: SparkSession,
    path: str,
    *,
    partition_col: str,
    delete_col: str,
    order_col: str,
    older_than: str,
    dry_run: bool = True,
) -> DataFrame:
    """Tombstone garbage collection for :func:`..streaming.upsert_parquet_sink`
    tables — the retention step that completes the soft-delete contract
    (the sink's docstring: "real lake formats ... garbage-collect
    tombstones past a retention window").

    A tombstone must OUTLIVE the pipeline's maximum lateness: it exists to
    defeat late stale updates (a replayed old version must lose the
    newest-wins contest to it). ``older_than`` is that horizon, compared
    against the tombstone's ``order_col`` version — vacuuming a tombstone
    younger than the latest possible in-flight update lets that update
    resurrect the deleted key. Choosing the horizon is the caller's
    watermark decision; this function only enforces the mechanics.

    Mechanics: one scan finds the hive partitions holding qualifying
    tombstones; ONLY those partitions are rewritten (dynamic partition
    overwrite) with the qualifying tombstone rows filtered out — live
    rows and younger tombstones are untouched, and partitions with
    nothing to vacuum keep their files byte-identical. ``dry_run=True``
    (default) reports without rewriting — the same two-phase
    report→approve→delete contract as :func:`expire_partitions`.

    Returns (partition value, n_vacuumed) for every partition holding
    qualifying tombstones. At scale the rewrite cost is proportional to
    the touched partitions (the tombstone blast radius), never the table.
    """
    from ..session import ensure_runtime_confs

    # mergeSchema: upsert tables can carry evolved partition schemas; the
    # rewrite must not lose columns to single-footer resolution
    df = spark.read.option("mergeSchema", "true").parquet(path)
    dead = F.col(delete_col) & (F.col(order_col) < F.lit(older_than))
    report = (
        df.filter(dead)
        .groupBy(partition_col)
        .agg(F.count(F.lit(1)).alias("n_vacuumed"))
    )
    if dry_run:
        return report
    ensure_runtime_confs(spark)  # dynamic partition overwrite
    rows = report.collect()
    touched = [r[partition_col] for r in rows]
    non_null = [v for v in touched if v is not None]
    pred = (
        F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    )
    if any(v is None for v in touched):
        pred = pred | F.col(partition_col).isNull()
    keep = df.filter(pred).filter(~dead)
    # pin the filtered survivors before overwriting the files they read
    # (same read-overwrite discipline as the upsert sink's merge step)
    keep.localCheckpoint(eager=True).write.mode("overwrite").partitionBy(
        partition_col
    ).parquet(path)
    return spark.createDataFrame(rows, report.schema)
