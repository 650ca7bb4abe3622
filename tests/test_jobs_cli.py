"""The operational job CLI: each command runs end-to-end and prints one
machine-readable JSON line (the scheduler contract)."""

from __future__ import annotations

import json

from kafkastreamingetl_spark.jobs import main

SF = "/root/testdata/sf0.001"


def test_daily_job_cli(capsys, spark):
    rc = main(["daily", "--sf-dir", SF, "--run-date", "2024-01-15"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["job"] == "daily" and out["rows"] > 0


def test_expire_job_cli_dry_run(capsys, spark, tmp_path):
    path = str(tmp_path / "lake")
    spark.createDataFrame(
        [(i, f"2024-01-{(i % 3) + 1:02d}") for i in range(9)],
        "event_id long, event_date string",
    ).write.partitionBy("event_date").parquet(path)
    rc = main(
        [
            "expire",
            "--path",
            path,
            "--partition-col",
            "event_date",
            "--keep-from",
            "2024-01-02",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["dry_run"] is True
    assert out["expired_partitions"] == ["2024-01-01"]
    # dry run: nothing deleted
    assert spark.read.parquet(path).count() == 9


def test_unknown_failure_is_exit_code_not_traceback(capsys):
    rc = main(
        ["daily", "--sf-dir", "/nonexistent", "--run-date", "2024-01-15"]
    )
    assert rc == 1
    assert "job failed" in capsys.readouterr().err


def test_kafka_smoke_skips_cleanly_without_broker(monkeypatch, capsys):
    """The runtime-leg probe: with no broker configured the command exits
    0 with status=skipped (a scheduler can run it unconditionally); the
    gap stays visible in the JSON rather than silently absent."""
    import json

    from kafkastreamingetl_spark.jobs import main

    monkeypatch.delenv("SPARK_GRAFT_KAFKA_BOOTSTRAP", raising=False)
    rc = main(["kafka-smoke"])
    out = json.loads(capsys.readouterr().out.strip())
    assert rc == 0
    assert out["status"] == "skipped"
    assert "spark-sql-kafka" in out["reason"]


def test_vacuum_tombstones_job_cli(capsys, spark, tmp_path):
    path = str(tmp_path / "table")
    spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", True, "2024-01-01"),
            (2, "2024-01-01 11:00:00", False, "2024-01-01"),
        ],
        "event_id long, ts string, deleted boolean, d string",
    ).selectExpr(
        "event_id", "cast(ts as timestamp) ts", "deleted", "d"
    ).write.partitionBy("d").parquet(path)
    args = [
        "vacuum-tombstones",
        "--path", path,
        "--partition-col", "d",
        "--older-than", "2024-02-01 00:00:00",
    ]
    assert main(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["dry_run"] is True and out["n_vacuumed"] == 1
    assert main([*args, "--delete"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["dry_run"] is False and out["n_vacuumed"] == 1
    assert spark.read.parquet(path).count() == 1


def test_neardup_ingest_job_cli_two_days(capsys, spark, tmp_path):
    """Two scheduler runs of the daily loop: day 1 bootstraps the index
    from its own within-batch survivors; day 2 dedups against BOTH the
    bootstrap corpus and nothing else — a day-2 copy of a day-1 survivor
    is rejected, a fresh doc survives and lands in the corpus dir. A
    re-run of day 2 reports and writes exactly what the first run did,
    and a backfill of an earlier day never matches day 2's docs."""
    schema = "doc_id long, text string"
    base_text = "alpha beta gamma delta epsilon zeta eta theta"
    fresh1 = "one two three four five six seven eight nine"
    fresh2 = "north south east west up down left right hub"
    day1 = spark.createDataFrame(
        [(1, base_text), (2, base_text), (3, fresh1)], schema
    )
    day2 = spark.createDataFrame([(10, fresh1), (11, fresh2)], schema)
    b1, b2 = str(tmp_path / "day1"), str(tmp_path / "day2")
    day1.write.parquet(b1)
    day2.write.parquet(b2)
    index, out = str(tmp_path / "nd_index"), str(tmp_path / "corpus")

    def ingest(batch, day):
        rc = main([
            "neardup-ingest", "--index", index, "--batch", batch,
            "--out", out, "--day", day,
        ])
        assert rc == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    o1 = ingest(b1, "2026-08-15")
    assert o1["bootstrapped"] is True
    assert o1["batch_rows"] == 3 and o1["survivors"] == 2  # 2 dups 1

    o2 = ingest(b2, "2026-08-16")
    assert o2["bootstrapped"] is False
    assert o2["batch_rows"] == 2 and o2["survivors"] == 1  # 10 dups 3

    corpus_ids = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert corpus_ids == {1, 3, 11}

    # a retried day 2 probes only earlier days: same result, same corpus
    assert ingest(b2, "2026-08-16") == o2
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [
        1, 3, 11
    ]

    # a backfilled earlier day holding a copy of day 2's survivor 11 sees
    # no index rows below its own tag, so it bootstraps and keeps the copy
    b0 = str(tmp_path / "day0")
    spark.createDataFrame([(20, fresh2)], schema).write.parquet(b0)
    o0 = ingest(b0, "2026-08-14")
    assert o0["bootstrapped"] is True and o0["survivors"] == 1


def test_neardup_ingest_index_is_written_before_corpus(
    capsys, spark, tmp_path
):
    """Crash-ordering contract (ADVICE r11): if the corpus append fails
    AFTER the index write, the failure is VISIBLE (index holds the day's
    signatures, corpus does not hold the rows — counts disagree) instead
    of the silent reverse corruption (corpus rows invisible to the index,
    making their future near-dups survive forever). Forced by pointing
    --out at a plain file so the parquet append raises."""
    import os

    schema = "doc_id long, text string"
    day1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota")], schema
    )
    b1 = str(tmp_path / "day1")
    day1.write.parquet(b1)
    index = str(tmp_path / "nd_index")
    bad_out = str(tmp_path / "corpus_blocker")
    with open(bad_out, "w") as f:
        f.write("not a directory")

    rc = main(["neardup-ingest", "--index", index, "--batch", b1,
               "--out", bad_out, "--day", "2026-08-15"])
    assert rc != 0  # the CLI reports failure (caught, nonzero exit)
    capsys.readouterr()
    # the index write preceded the corpus failure: signatures are there
    assert os.path.isdir(os.path.join(index, "sigs"))
    n_sigs = spark.read.parquet(os.path.join(index, "sigs")).count()
    assert n_sigs > 0
    # and the index can name the day's survivors (it holds their ids)
    ids = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(index, "sigs"))
        .select("doc_id").distinct().collect()
    }
    assert ids == {1}

    # the repair is a plain re-run of the same day: its probe skips the
    # day's own signatures, so the doc survives again and lands in the
    # corpus, and the day's index partition is rewritten, not doubled
    out = str(tmp_path / "corpus")
    rc = main(["neardup-ingest", "--index", index, "--batch", b1,
               "--out", out, "--day", "2026-08-15"])
    assert rc == 0
    o = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert o["survivors"] == 1
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1}
    assert spark.read.parquet(os.path.join(index, "sigs")).count() == n_sigs


def test_contamination_diff_job_cli_two_days(capsys, spark, tmp_path):
    """Two scheduler runs of the nightly contamination gate: day 1
    bootstraps (nothing flagged), day 2 flags an exact re-crawl of a
    day-1 doc and a 13-gram verbatim passage while the fresh doc passes;
    the report parquet accretes per-day partitions."""
    schema = "doc_id long, text string"
    passage = " ".join(f"p{i}" for i in range(13))
    day1 = spark.createDataFrame(
        [(1, "source text alpha"), (2, f"prose with {passage} inside")],
        schema,
    )
    day2 = spark.createDataFrame(
        [
            (10, "source text alpha"),           # exact re-crawl
            (11, f"later doc quoting {passage}"),  # gram leak
            (12, "entirely fresh material"),
        ],
        schema,
    )
    b1, b2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    day1.write.parquet(b1)
    day2.write.parquet(b2)
    index, out = str(tmp_path / "c_index"), str(tmp_path / "reports")

    rc = main([
        "contamination-diff", "--index", index, "--batch", b1,
        "--out", out, "--day", "2026-08-15",
    ])
    assert rc == 0
    o1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert o1["bootstrapped"] is True and o1["contaminated"] == 0

    rc = main([
        "contamination-diff", "--index", index, "--batch", b2,
        "--out", out, "--day", "2026-08-16",
    ])
    assert rc == 0
    o2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert o2["bootstrapped"] is False and o2["contaminated"] == 2

    rep = {
        r.doc_id: (r.exact_dup, r.n_gram_collisions, r.contaminated)
        for r in spark.read.parquet(out).where("day = '2026-08-16'").collect()
    }
    assert rep[10] == (True, 0, True)
    assert rep[11][0] is False and rep[11][1] == 1 and rep[11][2] is True
    assert rep[12] == (False, 0, False)


def test_contamination_diff_replayed_day_self_heals(capsys, spark, tmp_path):
    """ADVICE r13 (medium): a crashed day's re-run must not read its own
    half-written index partition — the strictly-earlier day probe means a
    replay reports exactly what the first run reported (every doc would
    otherwise self-flag as exact_dup against itself)."""
    day1 = spark.createDataFrame(
        [(1, "alpha text one"), (2, "beta text two")], "doc_id long, text string"
    )
    b1 = str(tmp_path / "d1")
    day1.write.parquet(b1)
    index, out = str(tmp_path / "idx"), str(tmp_path / "rep")
    argv = [
        "contamination-diff", "--index", index, "--batch", b1,
        "--out", out, "--day", "2026-08-15",
    ]
    assert main(argv) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # replay the SAME day (simulates crash-after-index-write rerun):
    # the index now holds day-2026-08-15 partitions, which the probe
    # must exclude
    assert main(argv) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["contaminated"] == first["contaminated"] == 0
    rows = spark.read.parquet(out).where("day = '2026-08-15'").collect()
    assert all(not r.exact_dup and not r.contaminated for r in rows)


def test_contamination_diff_backfill_ignores_later_days(capsys, spark, tmp_path):
    """Backfilling an OLDER day must not flag its docs against data the
    index only learned on later days — probe is day < args.day."""
    later = spark.createDataFrame(
        [(1, "shared corpus text")], "doc_id long, text string"
    )
    older = spark.createDataFrame(
        [(9, "shared corpus text")], "doc_id long, text string"
    )
    bl, bo = str(tmp_path / "later"), str(tmp_path / "older")
    later.write.parquet(bl)
    older.write.parquet(bo)
    index, out = str(tmp_path / "idx"), str(tmp_path / "rep")
    assert main([
        "contamination-diff", "--index", index, "--batch", bl,
        "--out", out, "--day", "2026-08-16",
    ]) == 0
    capsys.readouterr()
    assert main([
        "contamination-diff", "--index", index, "--batch", bo,
        "--out", out, "--day", "2026-08-10",
    ]) == 0
    o = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # identical text exists in the index, but only under a LATER day
    assert o["contaminated"] == 0


def test_contamination_diff_missing_grams_side_bootstraps(
    capsys, spark, tmp_path
):
    """ADVICE r13 (low): hashes/ present but grams/ missing (crash between
    the two index writes) must bootstrap the gram lane, not raise an
    unhandled AnalysisException that wedges the nightly gate. The exact
    lane still works off the surviving hashes."""
    import shutil

    day1 = spark.createDataFrame(
        [(1, "alpha text one")], "doc_id long, text string"
    )
    day2 = spark.createDataFrame(
        [(2, "alpha text one")], "doc_id long, text string"  # exact re-crawl
    )
    b1, b2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    day1.write.parquet(b1)
    day2.write.parquet(b2)
    index, out = str(tmp_path / "idx"), str(tmp_path / "rep")
    assert main([
        "contamination-diff", "--index", index, "--batch", b1,
        "--out", out, "--day", "2026-08-15",
    ]) == 0
    capsys.readouterr()
    shutil.rmtree(str(tmp_path / "idx" / "grams"))  # the crash window
    assert main([
        "contamination-diff", "--index", index, "--batch", b2,
        "--out", out, "--day", "2026-08-16",
    ]) == 0
    o = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert o["bootstrapped"] is False
    assert o["contaminated"] == 1  # exact-hash lane survived the gram loss


def test_contamination_diff_max_batch_docs_guard(capsys, spark, tmp_path):
    """The broadcast-direction contract is enforced, not narrated: a batch
    above --max-batch-docs fails loudly before any broadcast; 0 disables."""
    batch = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )
    b = str(tmp_path / "big")
    batch.write.parquet(b)
    index, out = str(tmp_path / "idx"), str(tmp_path / "rep")
    argv = [
        "contamination-diff", "--index", index, "--batch", b,
        "--out", out, "--day", "2026-08-15", "--max-batch-docs", "5",
    ]
    assert main(argv) == 1
    err = capsys.readouterr().err
    assert "max-batch-docs" in err and "BROADCAST" in err.upper()
    argv[-1] = "0"  # disabled: the same batch runs
    assert main(argv) == 0
