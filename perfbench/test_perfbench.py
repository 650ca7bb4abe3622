"""Tests of the benchmark's own helpers (no Spark needed).

    python -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402

# BENCHMARK.json's limits on metric names and units
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_metric_schema_matches_benchmark_json():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    for metrics in (stats.END_TO_END, stats.PER_LAYER):
        for name, unit in metrics.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), (name, unit)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == stats.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == stats.PER_LAYER
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("n", [11, 24, 25, 101])
def test_tail_leaves_exactly_ten_beyond(n):
    xs = list(np.random.default_rng(n).normal(size=n))
    p, v = stats.tail(xs)
    assert sum(x > v for x in xs) == 10
    assert float(np.percentile(xs, p)) == pytest.approx(v)
    # at the next sample's percentile only nine lie beyond
    p_next = 100.0 * (n - 10) / (n - 1)
    assert p_next > p
    assert sum(x > float(np.percentile(xs, p_next)) for x in xs) == 9


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_result_line_has_exactly_the_contract_keys():
    out = json.loads(stats.result_line(True, 3, 0, {"a_ms": 1.5}, {"a_ms": "ms"}))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {"a_ms": {"value": 1.5, "unit": "ms"}}
    with pytest.raises(ValueError):
        stats.result_line(True, 3, 0, {}, {"a_ms": "ms"})
    with pytest.raises(ValueError):
        stats.result_line(True, 0, 0, {"a_ms": 1.0}, {"a_ms": "ms"})


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for n in sorted(os.listdir(d)):
        with open(os.path.join(d, n), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_stream_files_arrive_in_event_time_order(tmp_path):
    span = 20.0
    out = str(tmp_path / "a")
    paths = datagen.write_stream_files(
        out, 7, n_files=6, events_per_file=100, file_span_s=span, n_users=50
    )
    # a file stream source replays by modification time, then name
    listing = sorted(os.listdir(out), key=lambda n: (os.stat(os.path.join(out, n)).st_mtime, n))
    assert listing == [os.path.basename(p) for p in paths]
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert all(b > a for a, b in zip(mtimes, mtimes[1:]))
    prev_max = None
    for p in paths:
        t = pq.read_table(p)
        assert t.num_rows == 100
        ts = t.column("ts").cast("int64").to_numpy()
        assert (np.diff(ts) >= 0).all()
        assert ts.max() - ts.min() < span * 1e6
        if prev_max is not None:
            assert ts.min() >= prev_max
        prev_max = ts.max()
        ids = t.column("event_id").to_numpy()
        assert len(ids) - len(set(ids)) == 5  # duplicates stay inside their file


def test_generators_are_deterministic(tmp_path):
    for d in ("a", "b"):
        datagen.write_stream_files(str(tmp_path / d), 3, n_files=3, events_per_file=50,
                                   file_span_s=10.0, n_users=20)
        datagen.write_tables(str(tmp_path / f"t{d}"), 3, 0.001)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "ta")) == _digest(str(tmp_path / "tb"))
    datagen.write_stream_files(str(tmp_path / "c"), 4, n_files=3, events_per_file=50,
                               file_span_s=10.0, n_users=20)
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
