"""Operational job CLI: the scheduler-facing entry points as commands.

The reference's operational surface is an Airflow DAG invoking one batch
job (reference airflow/dags/kafka_spark_etl.py); this engine's equivalent
jobs are callables (rollup.run_daily_batch, pipeline.run_corpus_refresh,
maintenance.compact_partitions / expire_partitions). This module gives
each a CLI so ANY scheduler — cron, Airflow BashOperator, dagster shell
op — can run them without writing Python:

    python -m kafkastreamingetl_spark.jobs daily --sf-dir DIR --run-date 2024-01-15 [--out PATH]
    python -m kafkastreamingetl_spark.jobs corpus-refresh --sf-dir DIR --out PATH
    python -m kafkastreamingetl_spark.jobs compact --path PATH --partition-col COL
    python -m kafkastreamingetl_spark.jobs expire --path PATH --partition-col COL --keep-from VALUE [--delete]
    python -m kafkastreamingetl_spark.jobs vacuum-tombstones --path PATH --partition-col COL --older-than TS [--delete]
    python -m kafkastreamingetl_spark.jobs kafka-smoke [--bootstrap HOST:9092] [--n-events N]
    python -m kafkastreamingetl_spark.jobs neardup-ingest --index PATH --batch PARQUET --out PATH --day DAY [--min-jaccard J]
    python -m kafkastreamingetl_spark.jobs contamination-diff --index PATH --batch PARQUET --out PATH --day DAY [--max-batch-docs N]

Each command prints ONE JSON result line on stdout (row counts / files
written / partitions expired) — the machine-readable contract a
scheduler's sensor or log parser consumes — and exits nonzero on
failure, which is all an external orchestrator needs for retry/alerting
semantics. Scheduling itself (cron expressions, backfills, catchup)
stays in the scheduler: the X5 boundary SURVEY.md draws.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str):
    from .session import get_test_spark

    return get_test_spark(app)


def cmd_daily(args: argparse.Namespace) -> dict:
    from .catalog import load_events, load_table
    from .operators.rollup import run_daily_batch

    spark = _spark("job_daily")
    events = load_events(spark, args.sf_dir)
    customer = load_table(spark, args.sf_dir, "customer")
    n = run_daily_batch(events, customer, args.run_date, args.out)
    return {"job": "daily", "run_date": args.run_date, "rows": n}


def cmd_corpus_refresh(args: argparse.Namespace) -> dict:
    from .catalog import load_table
    from .operators.pipeline import run_corpus_refresh

    spark = _spark("job_corpus_refresh")
    docs = load_table(spark, args.sf_dir, "documents")
    emb = load_table(spark, args.sf_dir, "embeddings")
    counts = run_corpus_refresh(docs, emb, args.out)
    return {"job": "corpus-refresh", **counts}


def cmd_compact(args: argparse.Namespace) -> dict:
    from .operators.maintenance import compact_partitions

    spark = _spark("job_compact")
    written = compact_partitions(spark, args.path, args.partition_col)
    return {"job": "compact", "partitions_rewritten": written}


def cmd_expire(args: argparse.Namespace) -> dict:
    from .operators.maintenance import expire_partitions

    spark = _spark("job_expire")
    report = expire_partitions(
        spark,
        args.path,
        args.partition_col,
        keep_from=args.keep_from,
        dry_run=not args.delete,
    )
    expired = sorted(
        r[args.partition_col] for r in report.collect() if r["expired"]
    )
    return {
        "job": "expire",
        "dry_run": not args.delete,
        "expired_partitions": expired,
    }


def cmd_vacuum_tombstones(args: argparse.Namespace) -> dict:
    from .operators.maintenance import vacuum_tombstones

    spark = _spark("job_vacuum_tombstones")
    report = vacuum_tombstones(
        spark,
        args.path,
        partition_col=args.partition_col,
        delete_col=args.delete_col,
        order_col=args.order_col,
        older_than=args.older_than,
        dry_run=not args.delete,
    )
    rows = report.collect()
    return {
        "job": "vacuum-tombstones",
        "dry_run": not args.delete,
        "partitions": {
            str(r[args.partition_col]): r["n_vacuumed"] for r in rows
        },
        "n_vacuumed": sum(r["n_vacuumed"] for r in rows),
    }


def cmd_kafka_smoke(args: argparse.Namespace) -> dict:
    """The Kafka runtime leg (S1/S8/T7) as a one-command probe. With no
    broker configured it SKIPS CLEANLY (exit 0, status=skipped) — the gap
    stays visible but a broker-less scheduler run is not an error; with
    ``--bootstrap`` or SPARK_GRAFT_KAFKA_BOOTSTRAP set it runs the real
    produce→consume→replay loop and fails loudly on any mismatch or on a
    missing spark-sql-kafka connector jar."""
    import os

    bootstrap = args.bootstrap or os.getenv("SPARK_GRAFT_KAFKA_BOOTSTRAP")
    if not bootstrap:
        return {
            "job": "kafka-smoke",
            "status": "skipped",
            "reason": (
                "no broker: pass --bootstrap host:9092 or set "
                "SPARK_GRAFT_KAFKA_BOOTSTRAP (the session also needs the "
                "spark-sql-kafka-0-10 connector jar on its classpath, e.g. "
                "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>)"
            ),
        }
    from .streaming import kafka_round_trip_smoke

    spark = _spark("job_kafka_smoke")
    result = kafka_round_trip_smoke(spark, bootstrap, n_events=args.n_events)
    if not result["ok"]:
        raise RuntimeError(f"kafka round trip mismatch: {result}")
    return {"job": "kafka-smoke", "status": "ok", **result}


def cmd_neardup_ingest(args: argparse.Namespace) -> dict:
    """The daily near-dup ingest loop as one scheduler command:
    ``streaming.neardup_ingest_step`` tagged by ``--day`` — the same
    per-batch dedup, index write-back and corpus write the streaming sink
    runs, under the tagged-index rule of the ``streaming`` module
    docstring (a re-run day rewrites its own partitions and never matches
    itself; a backfilled day never matches later days). The base corpus
    is never rescanned: per-day cost tracks the batch size."""
    from .streaming import neardup_ingest_step

    spark = _spark("job_neardup_ingest")
    batch = spark.read.parquet(args.batch)
    n_in = batch.count()
    survivors, bootstrapped = neardup_ingest_step(
        batch, args.out, args.index, "day", args.day,
        min_jaccard=args.min_jaccard,
    )
    return {
        "job": "neardup-ingest",
        "batch_rows": n_in,
        "survivors": survivors.count(),
        "bootstrapped": bootstrapped,
    }


def cmd_contamination_diff(args: argparse.Namespace) -> dict:
    """The nightly contamination gate as one scheduler command:
    ``streaming.contamination_step`` tagged by ``--day`` — the same
    per-batch report and index write-back the streaming sink runs, under
    the tagged-index rule of the ``streaming`` module docstring (a
    re-run day rewrites its own partitions and never matches itself; a
    backfilled day never matches later days).

    BROADCAST-DIRECTION CONTRACT: the batch's hash/gram sets are
    broadcast to the index side, so the batch must be ingest-sized
    (one day's crawl), never a backfill of months — ``--max-batch-docs``
    (default 2,000,000) fails the job loudly before the broadcast can
    OOM an executor; 0 disables for callers who have re-checked the
    direction."""
    from .streaming import contamination_step

    spark = _spark("job_contamination_diff")
    batch = spark.read.parquet(args.batch)
    n_in = batch.count()
    if args.max_batch_docs and n_in > args.max_batch_docs:
        # RuntimeError, not SystemExit: main()'s scheduler contract turns
        # job exceptions into exit code 1 + one stderr line
        raise RuntimeError(
            f"batch has {n_in} docs > --max-batch-docs "
            f"{args.max_batch_docs}: this gate BROADCASTS the batch's "
            "hash/gram sets (the index side never shuffles) — point it at "
            "one ingest day, not a backfill, or raise/disable the guard "
            "deliberately"
        )
    report, bootstrapped = contamination_step(
        batch, args.out, args.index, "day", args.day
    )
    return {
        "job": "contamination-diff",
        "batch_rows": n_in,
        "contaminated": report.where("contaminated").count(),
        "bootstrapped": bootstrapped,
    }


_DAY_HELP = (
    "ISO date tag for this batch; index probes read strictly EARLIER days "
    "only, so replays self-heal and backfills never compare against the "
    "future"
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="kafkastreamingetl_spark.jobs")
    sub = p.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("daily", help="X2 daily rollup batch")
    d.add_argument("--sf-dir", required=True)
    d.add_argument("--run-date", required=True)
    d.add_argument("--out", default=None)
    d.set_defaults(fn=cmd_daily)

    c = sub.add_parser("corpus-refresh", help="training-corpus refresh")
    c.add_argument("--sf-dir", required=True)
    c.add_argument("--out", required=True)
    c.set_defaults(fn=cmd_corpus_refresh)

    k = sub.add_parser("compact", help="small-file compaction")
    k.add_argument("--path", required=True)
    k.add_argument("--partition-col", required=True)
    k.set_defaults(fn=cmd_compact)

    e = sub.add_parser("expire", help="partition retention")
    e.add_argument("--path", required=True)
    e.add_argument("--partition-col", required=True)
    e.add_argument("--keep-from", required=True)
    e.add_argument("--delete", action="store_true")
    e.set_defaults(fn=cmd_expire)

    v = sub.add_parser(
        "vacuum-tombstones",
        help="upsert-table tombstone GC past the lateness horizon "
        "(dry run unless --delete)",
    )
    v.add_argument("--path", required=True)
    v.add_argument("--partition-col", required=True)
    v.add_argument("--delete-col", default="deleted")
    v.add_argument("--order-col", default="ts")
    v.add_argument("--older-than", required=True)
    v.add_argument("--delete", action="store_true")
    v.set_defaults(fn=cmd_vacuum_tombstones)

    n = sub.add_parser(
        "neardup-ingest",
        help="daily near-dup dedup of a document batch against the "
        "persisted index, with survivor write-back",
    )
    n.add_argument("--index", required=True)
    n.add_argument("--batch", required=True)
    n.add_argument("--out", required=True)
    n.add_argument("--day", required=True, help=_DAY_HELP)
    n.add_argument("--min-jaccard", type=float, default=None)
    n.set_defaults(fn=cmd_neardup_ingest)

    cd = sub.add_parser(
        "contamination-diff",
        help="nightly contamination gate: batch vs accreted hash+gram "
        "index, report + index append-back. The batch side is BROADCAST "
        "(ingest-sized by contract): point it at one day's crawl, never "
        "a multi-month backfill — see --max-batch-docs",
    )
    cd.add_argument("--index", required=True)
    cd.add_argument("--batch", required=True)
    cd.add_argument("--out", required=True)
    cd.add_argument("--day", required=True, help=_DAY_HELP)
    cd.add_argument(
        "--max-batch-docs",
        type=int,
        default=2_000_000,
        help="fail loudly when the batch exceeds this many docs (its "
        "hash/gram sets broadcast to the index side); 0 disables",
    )
    cd.set_defaults(fn=cmd_contamination_diff)

    s = sub.add_parser(
        "kafka-smoke",
        help="S1/S8/T7 runtime probe: produce -> consume -> replay "
        "(skips cleanly without a broker)",
    )
    s.add_argument("--bootstrap", default=None)
    s.add_argument("--n-events", type=int, default=200)
    s.set_defaults(fn=cmd_kafka_smoke)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    try:
        result = args.fn(args)
    except Exception as e:  # noqa: BLE001 — the scheduler contract is exit code + stderr
        print(f"job failed: {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
