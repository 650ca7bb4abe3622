"""SparkSession construction with the engine's default tuning profile.

Derived from the reference's session bootstrap (reference spark/app.py:13-33)
with four deliberate departures; the first two are documented in SURVEY.md
§7.0:

- ``spark.sql.autoBroadcastJoinThreshold`` is left at Spark's default (10 MB)
  instead of the reference's ``-1``: the reference disabled auto-broadcast
  purely to demonstrate a sort-merge join (spark/app.py:25-26); at 100 TB we
  want Catalyst + AQE picking broadcast joins for every dim-sized side.
- shuffle partitions default to a caller-tunable value rather than the
  reference's hard-coded 8 (spark/app.py:17), since the right number is a
  function of cluster size and input volume.
- streaming checkpoints use RocksDB changelog checkpointing and the
  ``FileSystem``-based checkpoint file manager instead of Spark's defaults
  (snapshot upload per commit, ``FileContext`` renames). The pip PySpark ships
  no native ``libhadoop``, so Hadoop's local filesystem spawns a process for
  each permission or link-status call: ``readlink`` 4 times per FileContext
  rename, ``chmod`` per file create, ``rm -rf`` per RocksDB snapshot upload.
  On the paper's stream (source → clean → dim join → watermarked window →
  lake, 500 events per micro-batch, 4 cores) that was ~264 spawned processes
  per batch; with both settings it is ~63, nearly all ``chmod`` at file
  create (SCALE.md "Per-batch checkpoint cost"). The
  FileSystem-based manager writes a temp file and renames it, refusing to
  overwrite an existing log entry, so it needs an atomic rename: local POSIX
  filesystems and HDFS have one (on object stores neither manager is
  atomic). A caller's ``extra_conf`` still wins over both entries.
- Spark's generated-code class cache (``spark.sql.codegen.cache.maxEntries``)
  holds 4096 classes instead of Spark's 100. The engine serves its registry
  from one long-lived session, and one pass over it generates far more than
  100 distinct classes, so under the default every repeated pass recompiled
  each class and HotSpot re-warmed a fresh copy of it (SCALE.md
  "Generated-code cache"). The conf is static and JVM-wide: it only holds
  in a JVM that :func:`get_spark` launches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.getenv("SPARK_GRAFT_CPUS", "32"))

# Runtime-settable SQL confs the engine's correctness depends on. These are
# (re)applied after getOrCreate — Spark silently ignores builder configs when
# a session already exists (e.g. the driver hands us its own session), so
# anything correctness-critical must also be applied through spark.conf.set.
RUNTIME_CONFS: dict[str, str] = {
    # Testdata timestamps are naive UTC instants; date/window semantics must
    # not depend on the JVM's wall clock (a session at America/New_York would
    # shift day boundaries vs the DuckDB oracle).
    "spark.sql.session.timeZone": "UTC",
    # Spark has no nanosecond timestamp type; read parquet TIMESTAMP(NANOS)
    # (testdata events.ts) as long and convert in catalog.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Incremental daily batches: mode('overwrite') + partitionBy must replace
    # only the partitions present in THIS write. Spark's default ('static')
    # truncates the whole table root first, so a nightly job for day N would
    # silently delete days 1..N-1 (the reference's batch writes a fresh
    # per-date file each run — kafka_spark_etl.py:102-107 — and never
    # destroys prior days).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply :data:`RUNTIME_CONFS` to an existing session (idempotent).

    Called by catalog.load_table so the engine behaves correctly on *any*
    caller-provided session, not just ones built by :func:`get_spark`.
    """
    for k, v in RUNTIME_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def get_spark(
    app_name: str = "kafkastreamingetl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuning profile.

    The profile keeps every Catalyst/AQE feature the reference enables
    (reference spark/app.py:16-28): AQE with partition coalescing and
    skew-join handling, dynamic partition pruning, and explicit shuffle
    parallelism. Arrow execution is enabled for the pandas-UDF extension
    points (similarity / multimodal operators).
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    conf = {
        # Heap for the single local-mode JVM (driver == all executors).
        # Spark's default is 1g — at local[32] that is ~30 MB of execution
        # memory per concurrent task, which OOMs legitimate plans an order
        # of magnitude below what the host supports (found by the x50
        # scale-stress: shingle aggregation over 250k docs). Static conf:
        # only effective when THIS call launches the JVM; a caller-provided
        # session keeps its own sizing.
        "spark.driver.memory": os.getenv("SPARK_GRAFT_DRIVER_MEM", "16g"),
        # shuffle / parallelism (reference spark/app.py:17-18)
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.default.parallelism": str(n_shuffle),
        # Adaptive Query Execution (reference spark/app.py:20-22)
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Dynamic Partition Pruning (reference spark/app.py:24)
        "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
        # UTC everywhere: event-time windows / to_date must be computed on
        # the same wall clock as oracle engines reading naive parquet ts.
        "spark.sql.session.timeZone": "UTC",
        # Arrow for pandas UDF extension points — the vectorized Python path
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Spark has no nanosecond timestamp type; read parquet
        # TIMESTAMP(NANOS) (testdata events.ts) as long and convert in
        # catalog.load_table.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Streaming state at scale: RocksDB bounds driver/executor heap usage
        # where the default HDFSBackedStateStore would not (SURVEY.md §4).
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        # Per-commit checkpoint cost (module docstring). Without a native
        # libhadoop every FileContext rename runs `readlink` 4 times and every
        # RocksDB snapshot upload runs `rm -rf`: ~264 spawned processes per
        # 500-event batch of the paper's stream, ~63 with these two entries.
        # Changelog checkpointing writes one changelog per commit instead of
        # uploading SST files, a zip and their checksums; the FileSystem
        # manager renames with FileSystem.rename (no link-status checks) and
        # so needs an atomic rename, which local disks and HDFS give. A
        # caller's extra_conf overrides either.
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
        # Generated-code class cache (module docstring). Census: one
        # `bench.py --n 2` run at sf0.01 with an unbounded cache compiled
        # 2,197 distinct classes (1,977 in the warm-up, 92 in timed pass 1,
        # 20 in pass 2, 108 for the approx lanes). Under Spark's 100 it
        # compiled 8,417, ~2,600 in every timed pass. 4096 holds the working
        # set with ~1.9x headroom and still bounds the few classes per pass
        # whose source changes from run to run over a long session; at a
        # mean ~11 KB of generated source per key a full cache holds ~45 MB.
        # Static conf: only effective when THIS call launches the JVM.
        "spark.sql.codegen.cache.maxEntries": "4096",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate ignores builder configs on an already-running session;
    # re-apply everything runtime-settable so the tuning profile holds —
    # but the CALLER's explicit extra_conf wins over the profile defaults
    # (re-applying only the defaults here would silently stomp e.g. a
    # caller-supplied shuffle.partitions or session timezone).
    ensure_runtime_confs(spark)
    spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
    if extra_conf:
        for k, v in extra_conf.items():
            try:
                spark.conf.set(k, v)
            except Exception:  # noqa: BLE001 — static conf on live session
                pass
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_test_spark(app_name: str = "kafkastreamingetl_spark_test") -> SparkSession:
    """Local session for tests / bench: ``local[$SPARK_GRAFT_CPUS]``."""
    cpus = os.getenv("SPARK_GRAFT_CPUS", "32")
    return get_spark(app_name=app_name, master=f"local[{cpus}]")
