"""Streaming runtime: sink policies, one trigger rule, deterministic runs.

Re-expresses the reference's streaming main program (reference
spark/app.py:184-209) as composable policy functions:

- S4  parquet append sink with checkpoint + trigger + hive partitioning
- S5  console sink (update mode)
- S8  Kafka producer sink (``to_json(struct(*))`` → value bytes)
- T4  output modes, T5 triggers, T6 checkpointing; T8 multi-sink fan-out
  is starting several sinks off one lineage, each its own query
- a ``foreachBatch`` bridge so batch operators (e.g. the daily rollup) can
  run continuously against micro-batches
- :func:`run_available_now` — the test harness path: processes everything
  available, then stops (deterministic; SURVEY.md §5.2), replacing
  wall-clock triggers with replayable runs.

One trigger rule for every sink that takes ``available_now``:
``available_now=True`` runs ``trigger(availableNow=True)`` (tests,
backfills), anything else the reference's fixed 30 s processing-time
trigger (:data:`TRIGGER`). The console sink keeps Spark's default
trigger, as the reference does. These are the two triggers of Structured
Streaming the engine needs: periodic and run-once.

Checkpoint policy at scale: one checkpoint dir per query (never shared),
RocksDB state store (set in session.get_spark) so streaming state lives off
the JVM heap, and ``dropDuplicatesWithinWatermark`` upstream keeps dedup
state bounded (operators.cleaning).

Tagged indexes. The index-backed ``foreachBatch`` sinks below and the
``neardup-ingest`` and ``contamination-diff`` jobs keep their memory
across batches, and write their outputs, as parquet directories
partitioned by a batch tag: ``batch_id`` in the sinks, ``day`` in the
jobs, each of which runs its sink's per-batch step
(:func:`neardup_ingest_step`, :func:`contamination_step`). It is the
package's only persisted dedup-index layout. One rule makes a batch
replayed from the checkpoint converge to the same output, neither
duplicating nor losing rows (the reference's restart contract, spark/
app.py:189-209; exactly-once via a replayable source plus idempotent
sinks, as in Structured Streaming):

- a read sees only the tags strictly below the current one
  (:func:`_earlier`), so a retried batch never matches its own earlier
  attempt and a backfill never matches later tags; an index that does not
  exist yet reads as empty;
- a write overwrites only the current tag's partition
  (:func:`_write_tagged`, dynamic partition overwrite), so a replay
  rewrites its rows instead of appending a second copy.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

#: The reference stream's fixed literals (spark/app.py): the 30 s
#: watermark (:160), the 1 min window sliding every 30 s (:165) and the
#: 30 s processing-time trigger (:195).
WATERMARK = "30 seconds"
WINDOW = "1 minute"
SLIDE = "30 seconds"
TRIGGER = "30 seconds"


def _start(w: DataStreamWriter, available_now: bool) -> StreamingQuery:
    """Start ``w`` under the trigger rule (module docstring)."""
    if available_now:
        return w.trigger(availableNow=True).start()
    return w.trigger(processingTime=TRIGGER).start()


def write_parquet_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    partition_by: str | list[str] | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """S4/H5/T4/T5/T6: the reference's parquet lake sink
    (spark/app.py:189-197): append mode (the only mode a file sink
    accepts), checkpointed, hive-partitioned, under the trigger rule."""
    w = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else partition_by
        w = w.partitionBy(*cols)
    return _start(w, available_now)


def write_console_stream(
    df: DataFrame, *, available_now: bool = False
) -> StreamingQuery:
    """S5: debug console sink, update mode, untruncated (reference
    spark/app.py:200-205). Default trigger is as-fast-as-possible, as the
    reference leaves it."""
    w = (
        df.writeStream.outputMode("update")
        .format("console")
        .option("truncate", "false")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def write_memory_stream(
    df: DataFrame, name: str, *, output_mode: str = "append"
) -> StreamingQuery:
    """Memory sink for tests: results land in the temp view ``name``.

    Memory sinks collect to the driver — test-sized data only, never a
    production path.
    """
    w = df.writeStream.outputMode(output_mode).format("memory").queryName(name)
    return _start(w, True)


def write_kafka_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
) -> StreamingQuery:
    """S8: Kafka producer sink. Rows are serialized like the reference
    producer (json.dumps → utf-8, producer/producer.py:48-51) via
    ``to_json(struct(*))``. Requires the Kafka connector at runtime."""
    from pyspark.sql import functions as F

    payload = df.select(
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value")
    )
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def foreach_batch_sink(
    df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    *,
    available_now: bool = False,
) -> StreamingQuery:
    """The foreachBatch bridge: run arbitrary *batch* logic (e.g. the daily
    rollup, multi-table writes) against each non-empty micro-batch — the
    idiomatic way to reuse batch operators in streaming (SURVEY.md §2.1 S8
    note)."""

    def run(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            batch_fn(batch, batch_id)

    w = df.writeStream.foreachBatch(run).option("checkpointLocation", checkpoint)
    return _start(w, available_now)


def upsert_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    key_cols: list[str],
    order_col: str,
    partition_col: str,
    delete_col: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Exactly-once keyed upsert into a hive-partitioned parquet table.

    The plain parquet streaming sink is append-only; late corrections and
    replays therefore duplicate keys. This sink gives MERGE semantics with
    parquet alone (no Delta/Iceberg in this container — with a real table
    format, swap the body for ``MERGE INTO``): per micro-batch,

    1. find the hive partitions the batch touches (distinct partition
       values — a model-sized collect, bounded by partitions-per-batch,
       never row-scaled);
    2. read ONLY those partitions back (partition pruning makes this
       proportional to the batch's blast radius, not the table);
    3. merge old+new and keep one row per key — newest by ``order_col``,
       full-column tiebreak, same deterministic-survivor contract as
       operators.cleaning.dedup_deterministic;
    4. rewrite exactly the touched partitions (dynamic partition overwrite,
       applied defensively per batch via ``ensure_runtime_confs`` — on a
       caller-built session Spark's default is STATIC overwrite, which
       would truncate the whole table root on step 4).

    Contract: ``partition_col`` must be an immutable function of the key
    (event_date of the key's first event, a hash bucket, ...). The merge
    reads only the partitions the batch touches, so a "correction" that
    MOVES a key to a different partition value would leave the stale row
    behind in the old partition — the same immutable-partition-path rule
    Hudi-style upsert tables impose. Keys with a NULL partition value are
    supported (they merge against the hive default partition).

    CDC deletes: with ``delete_col`` set (a boolean column), a key whose
    NEWEST version is a tombstone is deleted — the WHEN MATCHED THEN
    DELETE leg of MERGE, implemented as a SOFT delete: the winning
    tombstone row stays in the table (flag true) and consumers read
    through :func:`read_upserted`, which filters it. Keeping the
    tombstone is what makes deletes correct under late data and replays:
    a stale update arriving in a LATER batch still loses the newest-wins
    contest to the persisted tombstone — dropping tombstones at write
    would silently resurrect deleted keys. (Real lake formats do the
    same, then garbage-collect tombstones past a retention window — that
    compaction step composes with operators/maintenance.)

    Exactly-once: the write is a deterministic function of (table state,
    batch content), so replaying a failed micro-batch from the checkpoint
    converges to the same bytes — idempotent, asserted by replay in
    tests/test_streaming_upsert.py. ``localCheckpoint`` before the
    overwrite truncates the merged plan's lineage, which both avoids
    Spark's read-overwrite-same-path conflict and guarantees the merge is
    fully materialized before any partition is replaced.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from .operators.cleaning import dedup_deterministic
    from .session import ensure_runtime_confs

    if delete_col is not None and delete_col not in df.columns:
        raise ValueError(
            f"delete_col {delete_col!r} not in stream columns {df.columns}"
        )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # dynamic partition overwrite is load-bearing for step 4; apply it
        # on THIS session — the sink must not depend on the caller having
        # built the session through this engine's factory
        ensure_runtime_confs(spark)
        touched = [
            r[0] for r in batch.select(partition_col).distinct().collect()
        ]
        # SQL IN never matches NULL: a null partition value needs an
        # explicit isNull leg, or existing null-partition rows would be
        # dropped from the merge while the overwrite still replaces
        # __HIVE_DEFAULT_PARTITION__ — silently losing them
        non_null = [v for v in touched if v is not None]
        pred = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
        if any(v is None for v in touched):
            pred = pred | F.col(partition_col).isNull()
        merged = batch
        try:
            # mergeSchema: partitions written before a mid-life column
            # addition carry the old footer — a plain read would resolve
            # to ONE footer's schema and either drop the new column or
            # fail the union; allowMissingColumns fills the gap with
            # nulls in whichever side lacks a column (evolution in either
            # direction), and the winner rewrite carries the union schema
            existing = (
                spark.read.option("mergeSchema", "true")
                .parquet(path)
                .where(pred)
            )
            merged = batch.unionByName(existing, allowMissingColumns=True)
        except AnalysisException:
            pass  # first batch: nothing to merge
        lead = [F.desc_nulls_last(order_col)]
        tail = [
            F.asc_nulls_first(c)
            for c in merged.columns
            if c not in (*key_cols, order_col)
        ]
        winner = dedup_deterministic(merged, key_cols, [*lead, *tail])
        winner.localCheckpoint(eager=True).write.mode("overwrite").partitionBy(
            partition_col
        ).parquet(path)

    return foreach_batch_sink(
        df, merge_batch, checkpoint, available_now=available_now
    )


def read_upserted(spark, path: str, *, delete_col: str | None = None) -> DataFrame:
    """Read an :func:`upsert_parquet_sink` table as its CURRENT state:
    one live row per key, soft-deleted keys (newest version a tombstone)
    filtered out. This is the sink's read contract — raw readers see
    tombstone rows, which exist precisely so late stale updates cannot
    resurrect deleted keys."""
    from pyspark.sql import functions as F

    # mergeSchema: see merge_batch — evolved partitions must not lose
    # columns to single-footer schema resolution
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if delete_col is not None:
        df = df.filter(~F.coalesce(F.col(delete_col), F.lit(False)))
    return df


def reference_pipeline(
    events_stream: DataFrame,
    user_dim: DataFrame,
    *,
    lake_path: str,
    checkpoint_dir: str,
    available_now: bool = False,
) -> list[StreamingQuery]:
    """The reference's complete streaming program (spark/app.py:main,
    53-209) as one composition: decoded events → clean (normalize/fill/
    watermarked dedup) → enrich (stream⋈static dim join) → sliding window
    aggregate → parquet lake sink, with the reference's fixed watermark,
    window and slide (:data:`WATERMARK`, :data:`WINDOW`, :data:`SLIDE`).
    Returns the one started query as a list.

    ``events_stream`` is any decoded event stream (Kafka via
    sources.kafka_source + decode_json_events, file source, or the rate
    generator); ``user_dim`` is a static dim joined stream-static (J1 —
    broadcast by AQE when dim-sized). The sink checkpoints in its own
    subdirectory (T6: never share checkpoints between queries).
    """
    import os

    from pyspark.sql import functions as F

    from .operators.cleaning import clean_events_streaming
    from .operators.windows import windowed_agg

    cleaned = clean_events_streaming(events_stream, watermark=WATERMARK)
    dim = user_dim.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    enriched = cleaned.join(dim, "user_id", "left")
    # the stream already carries the cleaning stage's watermark — redefining
    # one on the same lineage is an error with chained stateful operators,
    # so the window aggregate reuses it (HLL distinct, append-safe)
    agg = windowed_agg(
        enriched,
        window=WINDOW,
        slide=SLIDE,
        keys=["event_type_norm", "segment"],
        approx_distinct=True,
    )
    return [
        write_parquet_stream(
            agg,
            lake_path,
            os.path.join(checkpoint_dir, "lake"),
            # hive layout by the dim attribute, as the reference partitions
            # its lake by the joined country column (spark/app.py:194)
            partition_by="segment",
            available_now=available_now,
        )
    ]


def run_available_now(queries: list[StreamingQuery], timeout_sec: int = 300) -> None:
    """Await a set of availableNow queries (deterministic test runs).

    Raises on timeout or query failure (surfacing the real streaming
    exception instead of a silent hang).
    """
    for q in queries:
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not finish in {timeout_sec}s"
            )
        if q.exception() is not None:
            raise q.exception()


def _earlier(path: str, tag_col: str, tag, like: DataFrame) -> DataFrame:
    """The rows of the tagged index at ``path`` whose ``tag_col`` is
    strictly below ``tag``, projected to ``like``'s columns. While the
    index does not exist yet, an empty frame of ``like``'s schema."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    spark = like.sparkSession
    try:
        index = spark.read.parquet(path)
    except AnalysisException:
        return spark.createDataFrame([], like.schema)
    return index.where(F.col(tag_col) < F.lit(tag)).select(*like.columns)


def _write_tagged(df: DataFrame, path: str, tag_col: str, tag) -> None:
    """Write ``df`` as the ``tag_col = tag`` partition of the tagged index
    at ``path``, overwriting that partition only."""
    from pyspark.sql import functions as F

    from .session import ensure_runtime_confs

    # dynamic partition overwrite, applied on THIS session: Spark's
    # default STATIC mode would truncate every other tag
    ensure_runtime_confs(df.sparkSession)
    (
        df.withColumn(tag_col, F.lit(tag))
        .write.mode("overwrite")
        .partitionBy(tag_col)
        .parquet(path)
    )


def alltime_dedup_sink(
    df: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
    *,
    available_now: bool = False,
) -> StreamingQuery:
    """UNBOUNDED all-time streaming dedup with bounded state: the semantics
    of the reference's whole-stream ``dropDuplicates`` (reference
    spark/app.py:79 — state grows forever) delivered instead by a
    persisted (hash, content) index, so executor state stays zero and the
    dedup horizon is the life of the index, not the watermark. Completes
    the dedup family: ``dropDuplicatesWithinWatermark`` (bounded horizon,
    operators.cleaning) for in-flight duplicates, THIS for forever ones.

    Per micro-batch: anti-join the batch against the index's earlier
    batches, keep the min-id survivor per content within the batch, and
    write the survivors to ``out_path`` and their (hash, content) to the
    index — both tagged indexes keyed by ``batch_id`` (module docstring),
    so a replayed batch converges instead of self-suppressing or writing
    twice.
    """
    from pyspark.sql import functions as F

    from .functions import hash60
    from .operators.cleaning import dedup_deterministic

    def dedup_batch(batch: DataFrame, batch_id: int) -> None:
        hashed = batch.withColumn("_h", hash60(F.col("text")))
        seen = _earlier(index_path, "batch_id", batch_id, hashed.select("_h", "text"))
        survivors = dedup_deterministic(
            hashed.join(seen, ["_h", "text"], "left_anti"),
            ["_h", "text"],
            [F.asc("doc_id")],
        ).localCheckpoint(eager=True)
        _write_tagged(survivors.drop("_h"), out_path, "batch_id", batch_id)
        _write_tagged(survivors.select("_h", "text"), index_path, "batch_id", batch_id)

    return foreach_batch_sink(
        df, dedup_batch, checkpoint, available_now=available_now
    )


def _flag_report(
    ids: DataFrame,
    probes: DataFrame,
    keyed: DataFrame,
    seen: DataFrame,
    keys: list[str],
    id_col: str,
    hits_col: str,
) -> DataFrame:
    """The near-dup flag report shared by :func:`neardup_flag_sink` and
    :func:`semantic_flag_sink`: one row per id in ``ids`` with
    ``hits_col`` (distinct index keys its ``probes`` hit in ``seen``, the
    earlier batches' keys), ``n_batch_partners`` (distinct lower ids in
    this batch whose ``keyed`` rows share a probed key) and
    ``is_neardup`` (either count above 0). ``probes`` and ``keyed`` are
    ``(id_col, *keys)`` frames; the first key is the one counted."""
    from pyspark.sql import functions as F

    idx_hits = (
        probes.join(seen, keys)
        .groupBy(id_col)
        .agg(F.count_distinct(keys[0]).alias(hits_col))
    )
    a = probes.select(F.col(id_col).alias("_a"), *keys)
    batch_hits = (
        a.join(keyed, keys)
        .where(F.col("_a") < F.col(id_col))
        .groupBy(id_col)
        .agg(F.count_distinct("_a").alias("n_batch_partners"))
    )
    return (
        ids.join(idx_hits, id_col, "left")
        .join(batch_hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(hits_col, F.lit(0)).alias(hits_col),
            F.coalesce("n_batch_partners", F.lit(0)).alias("n_batch_partners"),
        )
        .withColumn(
            "is_neardup",
            (F.col(hits_col) > 0) | (F.col("n_batch_partners") > 0),
        )
    )


def neardup_flag_sink(
    df: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
    *,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming NEAR-duplicate detection with zero executor state: the
    LSH-banding complement to :func:`alltime_dedup_sink` (which only
    catches bit-exact repeats). Per micro-batch, each document's MinHash
    band signatures probe a persisted band index of everything seen in
    earlier batches; a shared band means "probable near-dup of an earlier
    doc". Within-batch near-dups are caught by the same bucketed self-join
    the batch pipeline uses (lower id wins). The report row per document:

        (doc_id, n_index_bands, n_batch_partners, is_neardup, batch_id)

    Flagging, not dropping, is deliberate: near-dup candidates are
    probabilistic (band collisions), so the streaming tier marks them and
    a downstream batch verify (exact Jaccard over the flagged minority)
    makes the drop decision — the same candidates→verify split the batch
    dedup family uses, stretched across the stream/batch boundary.

    The report and the band index are tagged indexes keyed by
    ``batch_id`` (module docstring): executor state zero, horizon = life
    of the index, replay-idempotent. Documents too short to shingle have
    no signatures and no report row (same contract as
    ``minhash_signatures``)."""
    from .operators.dedup import minhash_signatures

    def flag_batch(batch: DataFrame, batch_id: int) -> None:
        sigs = minhash_signatures(batch).localCheckpoint(eager=True)
        seen = _earlier(
            index_path, "batch_id", batch_id, sigs.select("band", "sig")
        ).distinct()
        report = _flag_report(
            sigs.select("doc_id").distinct(), sigs, sigs, seen, ["band", "sig"],
            "doc_id", "n_index_bands",
        )
        _write_tagged(report, out_path, "batch_id", batch_id)
        _write_tagged(sigs, index_path, "batch_id", batch_id)

    return foreach_batch_sink(
        df, flag_batch, checkpoint, available_now=available_now
    )


def neardup_ingest_step(
    batch: DataFrame,
    corpus_path: str,
    index_path: str,
    tag_col: str,
    tag,
    *,
    min_jaccard: float | None = None,
) -> tuple[DataFrame, bool]:
    """One batch of the near-dup ingest loop, shared by
    :func:`neardup_ingest_sink` (tag ``batch_id``) and the
    ``neardup-ingest`` job (tag ``day``): dedup ``batch`` against the
    signatures (``index_path/sigs``) and shingle features
    (``index_path/feats``) of the index's earlier tags with exact-Jaccard
    verification, then write the survivors' own signatures, features and
    rows, so the next tag dedups against everything this one accepted.
    With no rows below the current tag the batch bootstraps: within-batch
    ``neardup_dedup`` only. The corpus and both index sides are tagged
    indexes (module docstring). Returns the survivors (materialized,
    without the tag column) and whether the batch bootstrapped.

    Index first, corpus second: a corpus missing one tag is visible and
    repairable by re-running the tag, while an index missing corpus rows
    silently lets their later near-dups survive.
    """
    import os

    from .operators.dedup import (
        NEARDUP_MIN_JACCARD,
        _incremental_neardup_against,
        minhash_signatures,
        neardup_dedup,
        shingle_features,
    )

    mj = NEARDUP_MIN_JACCARD if min_jaccard is None else min_jaccard
    sigs_path = os.path.join(index_path, "sigs")
    feats_path = os.path.join(index_path, "feats")
    batch_feats = shingle_features(batch)
    base_sigs = _earlier(
        sigs_path,
        tag_col,
        tag,
        minhash_signatures(batch, feats=batch_feats),
    )
    base_feats = _earlier(feats_path, tag_col, tag, batch_feats)
    # rows-below-current, not path existence, decides bootstrap: a
    # replayed FIRST batch re-runs the same bootstrap code path
    bootstrapped = base_sigs.isEmpty()
    if bootstrapped:
        survivors = neardup_dedup(batch, min_jaccard=mj)
    else:
        survivors = _incremental_neardup_against(batch, base_sigs, base_feats, mj)
    # eager lineage cut: the index writes below touch the very paths the
    # survivor plan reads; a merely-persisted survivors would be
    # invalidated by Spark's post-write refreshByPath and silently
    # recompute against its own written signatures
    survivors = survivors.localCheckpoint(eager=True)
    feats = shingle_features(survivors)
    sigs = minhash_signatures(survivors, feats=feats)
    _write_tagged(sigs, sigs_path, tag_col, tag)
    _write_tagged(feats, feats_path, tag_col, tag)
    _write_tagged(survivors, corpus_path, tag_col, tag)
    return survivors, bootstrapped


def neardup_ingest_sink(
    df: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    *,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming form of the daily near-dup ingest loop: per micro-batch,
    :func:`neardup_ingest_step` tagged by ``batch_id`` — the step the
    ``neardup-ingest`` job runs per day, so streaming == batch by
    construction (checked by differential test). Unlike
    :func:`neardup_flag_sink` (candidates-only flagging for a downstream
    verifier), this sink makes the DROP decision in-stream.

    Executor state is zero — the whole loop's state lives in the parquet
    index, horizon = life of the corpus, per-batch cost tracks the
    increment (the base is never re-shingled).
    """
    return foreach_batch_sink(
        df,
        lambda batch, batch_id: neardup_ingest_step(
            batch, corpus_path, index_path, "batch_id", batch_id
        ),
        checkpoint,
        available_now=available_now,
    )


def contamination_step(
    batch: DataFrame,
    report_path: str,
    index_path: str,
    tag_col: str,
    tag,
) -> tuple[DataFrame, bool]:
    """One batch of the accreted-index contamination diff, shared by
    :func:`contamination_diff_sink` (tag ``batch_id``) and the
    ``contamination-diff`` job (tag ``day``): report what ``batch`` drags
    in against the index's earlier tags — exact content-hash re-crawls
    and ``NGRAM_CONTAM_N``-gram verbatim-passage collisions — then write the batch's
    own hashes (``index_path/hashes``) and distinct grams
    (``index_path/grams``), then the report. All three are tagged indexes
    (module docstring). The report is ``contamination_report``, the same
    assembly the batch operator runs, so streaming == batch by
    construction; over an empty index it flags nothing. Returns the
    report as written (materialized, without the tag column) and whether
    the batch bootstrapped (no hash rows below the current tag).

    Index first, report second: a report missing one tag regenerates
    from the index, while an index missing a tag's grams silently
    under-flags every later batch.
    """
    import os

    from pyspark.sql import functions as F

    from .operators.dedup import NGRAM_CONTAM_N, contamination_report
    from .operators.text import shingle_hashes

    h_path = os.path.join(index_path, "hashes")
    g_path = os.path.join(index_path, "grams")
    text = F.coalesce(F.col("text"), F.lit(""))
    # eager lineage cuts: the writes below touch the paths a lazy plan
    # would re-read after Spark's post-write refresh
    proj = batch.select(
        F.col("doc_id"),
        F.md5(text).alias("_h"),
        shingle_hashes(text, NGRAM_CONTAM_N).alias("_g"),
    ).localCheckpoint(eager=True)
    hashes = proj.select("doc_id", "_h")
    grams = proj.select(F.explode("_g").alias("g")).distinct()
    seen = _earlier(h_path, tag_col, tag, hashes.select("_h"))
    bootstrapped = seen.isEmpty()
    report = contamination_report(
        proj, seen, _earlier(g_path, tag_col, tag, grams)
    ).localCheckpoint(eager=True)
    _write_tagged(hashes, h_path, tag_col, tag)
    _write_tagged(grams, g_path, tag_col, tag)
    _write_tagged(report, report_path, tag_col, tag)
    return report, bootstrapped


def contamination_diff_sink(
    df: DataFrame,
    report_path: str,
    index_path: str,
    checkpoint: str,
    *,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming form of ``operators.dedup.batch_contamination_diff``: per
    micro-batch, :func:`contamination_step` tagged by ``batch_id``, so
    batch N+1 is checked against everything batches ≤ N contributed
    (broadcast direction: the ingest-sized batch's sets go out, only
    matches come back; the index parquet is scanned, never shuffled).

    State: zero in executors — the loop's whole memory is the parquet
    index (hashes: (doc_id, _h); grams: distinct (g) bigints per batch —
    posting-list-shaped, 8 bytes per distinct gram, the same asymptotics
    as the gram side of the batch operator's corpus scan).
    """
    return foreach_batch_sink(
        df,
        lambda batch, batch_id: contamination_step(
            batch, report_path, index_path, "batch_id", batch_id
        ),
        checkpoint,
        available_now=available_now,
    )


def kafka_round_trip_smoke(
    spark, bootstrap: str, *, n_events: int = 200
) -> dict:
    """The S8 → S1 → T7 runtime loop as a callable: produce the reference
    wire format (to_json(struct(*)) — reference producer/producer.py:50)
    to a fresh topic, consume from earliest, then replay with a second
    fresh reader and compare counts.

    This is the runtime leg the sandbox cannot exercise (no broker, no
    spark-sql-kafka connector jar): tests/test_kafka_integration.py gates
    it behind SPARK_GRAFT_KAFKA_BOOTSTRAP, and ``jobs.py kafka-smoke``
    exposes the same loop as a one-command probe for any environment that
    grows a broker. Requires the spark-sql-kafka connector on the
    classpath; fails loudly (not silently) without it.
    """
    import uuid

    from pyspark.sql import functions as F

    from .sources import decode_json_events, kafka_source, synthetic_events_batch

    topic = f"spark_graft_smoke_{uuid.uuid4().hex[:8]}"
    events = synthetic_events_batch(spark, n_events, seed=5)
    n_src = events.count()
    payload = events.select(
        F.to_json(F.struct(*[F.col(c) for c in events.columns])).alias("value")
    )
    (
        payload.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .save()
    )
    decoded = decode_json_events(kafka_source(spark, bootstrap, topic))
    run_available_now([write_memory_stream(decoded, "kafka_smoke_job_1")])
    consumed = spark.table("kafka_smoke_job_1").count()
    replay = decode_json_events(kafka_source(spark, bootstrap, topic))
    run_available_now([write_memory_stream(replay, "kafka_smoke_job_2")])
    replayed = spark.table("kafka_smoke_job_2").count()
    return {
        "topic": topic,
        "produced": n_src,
        "consumed": consumed,
        "replayed": replayed,
        "ok": consumed == n_src and replayed == n_src,
    }


def semantic_flag_sink(
    df: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
    *,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming SEMANTIC near-duplicate flagging — the embedding-space
    twin of :func:`neardup_flag_sink`, completing the batch/streaming
    symmetry for the embedding dedup tier exactly as that sink does for
    the MinHash tier. Per micro-batch, each vector's hyperplane signature
    plus its Hamming-1 probe flips query a persisted signature index of
    everything seen in earlier batches; a shared bucket means "probable
    semantic near-dup of an earlier vector". Within-batch candidates come
    from the same probe self-join the batch operator
    (``similarity.embedding_neardup_pairs``) uses. Report row:

        (vec_id, n_index_buckets, n_batch_partners, is_neardup, batch_id)

    Flagging, not dropping: bucket collisions are probabilistic, so the
    streaming tier marks and a downstream batch verify (exact cosine over
    the flagged minority, with the vectors re-joined from the corpus)
    decides — the candidates→verify split stretched across the
    stream/batch boundary, same as the text twin.

    State discipline is the text twin's: zero executor state, horizon =
    life of the index, report and index tagged by ``batch_id`` (module
    docstring). The index stores only (signature, batch_id) — never
    vectors. The signature width is the batch operator's,
    ``similarity.ANN_N_PLANES``."""
    from pyspark.sql import functions as F

    from .operators import similarity as sim

    width = sim.ANN_N_PLANES
    planes = sim.planes_for(width)

    def flag_batch(batch: DataFrame, batch_id: int) -> None:
        base = batch.filter(F.col("embedding").isNotNull()).select(
            F.col("vec_id"),
            sim.bucket_signature(F.col("embedding"), planes).alias("_sig"),
        )
        probe_arr = F.array(
            F.col("_sig"),
            *[
                sim._flip_bit(F.col("_sig"), i, width)
                for i in range(width)
            ],
        )
        probes = base.select(
            F.col("vec_id"), F.explode(probe_arr).alias("_bucket")
        ).localCheckpoint(eager=True)
        seen = (
            _earlier(index_path, "batch_id", batch_id, base.select("_sig"))
            .select(F.col("_sig").alias("_bucket"))
            .distinct()
        )
        keyed = base.select(F.col("vec_id"), F.col("_sig").alias("_bucket"))
        report = _flag_report(
            base.select("vec_id"), probes, keyed, seen, ["_bucket"],
            "vec_id", "n_index_buckets",
        )
        _write_tagged(report, out_path, "batch_id", batch_id)
        _write_tagged(base.select("_sig"), index_path, "batch_id", batch_id)

    return foreach_batch_sink(
        df, flag_batch, checkpoint, available_now=available_now
    )
