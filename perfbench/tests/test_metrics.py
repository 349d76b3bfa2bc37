"""Metric math, result canonicalization and input generation: no Spark."""

from __future__ import annotations

import datetime as dt
import math
import os
import statistics
import time

import pyarrow as pa
import pytest

import datagen
import metrics as M
from oracle import canon, mismatch
from workloads import LifecycleParams


def test_geomean_weights_each_value_equally():
    assert M.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert M.geomean([0.5, 0.5, 0.5]) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        M.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        M.geomean([])


def test_host_adjusted_scales_by_the_mean_probe_time():
    ref = M.REFERENCE_PROBE_S
    assert M.host_adjusted(3.0, [ref, ref]) == pytest.approx(3.0)
    # half the window at twice the probe time: 1.5x slower on average
    assert M.host_adjusted(3.0, [ref, 2 * ref]) == pytest.approx(2.0)
    with pytest.raises(statistics.StatisticsError):
        M.host_adjusted(3.0, [])


def test_speed_sample_times_a_fixed_unit():
    assert 0 < M.speed_sample() < 1.0


@pytest.mark.parametrize("n, pct", [(19, None), (20, 50.0), (99, 50.0),
                                    (100, 90.0), (199, 90.0), (200, 95.0),
                                    (999, 95.0), (1000, 99.0), (20000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    vals = [float(i) for i in range(1, n + 1)]
    got_pct, value, count = M.tail_percentile(vals)
    assert count == n
    assert got_pct == pct
    if pct is not None:
        assert sum(v > value for v in vals) >= 10
        assert value == M.nearest_rank(sorted(vals), pct)


def test_tail_percentile_ignores_input_order():
    vals = [5.0, 1.0, 4.0] * 10
    assert M.tail_percentile(vals) == M.tail_percentile(sorted(vals))


def _write(path: str, size: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(b"x" * size)


def test_ledger_write_and_space_amplification(tmp_path):
    root = str(tmp_path / "t")
    ledger = M.FileLedger(root)
    _write(f"{root}/metadata.json", 100)
    _write(f"{root}/data/b1/p=1/part-0.parquet", 1000)
    _write(f"{root}/data/b1/_SUCCESS", 0)
    ledger.observe()
    assert (ledger.bytes_written, ledger.metadata_bytes_written) == (1100, 100)

    # a commit rewrites the pointer file and adds a data and a delete file
    time.sleep(0.01)
    os.remove(f"{root}/metadata.json")
    _write(f"{root}/metadata.json", 120)
    _write(f"{root}/data/b2/p=1/part-0.parquet", 500)
    _write(f"{root}/deletes/d1/part-0.parquet", 50)
    _write(f"{root}/manifests/m1.json", 30)
    ledger.observe()
    ledger.observe()  # unchanged files are not counted twice
    assert ledger.bytes_written == 1100 + 120 + 500 + 50 + 30
    assert ledger.metadata_bytes_written == 100 + 120 + 30

    # expiry deletes the first data file: written bytes keep it
    os.remove(f"{root}/data/b1/p=1/part-0.parquet")
    ledger.observe()
    assert ledger.bytes_written == 1800
    disk = M.tree_bytes(root)
    assert disk == 120 + 500 + 50 + 30
    assert M.write_amp(ledger.bytes_written, 900) == pytest.approx(2.0)
    assert M.space_amp(disk, 500) == pytest.approx(1.4)


@pytest.mark.parametrize("rel, meta", [
    ("metadata.json", True), ("manifests/m1.json", True),
    ("data/b/p=1/part-0.parquet", False), ("deletes/d/part-0.parquet", False),
    ("data/b/_SUCCESS", True), ("data/b/p=1/.part-0.parquet.crc", True)])
def test_metadata_file_classes(rel, meta):
    assert M.is_metadata_file(rel) is meta


def test_peak_rss_reads_this_process():
    assert M.peak_rss_mb([os.getpid()]) > 1.0
    assert M.peak_rss_mb([]) == 0.0


def test_canon_orders_rows_and_columns_and_keeps_null_apart_from_nan():
    a = pa.table({"b": [2.0000000001, float("nan"), None], "a": [3, 1, 2]})
    b = pa.table({"a": [2, 1, 3], "b": [None, float("nan"), 2.0]})
    assert canon(a) == canon(b)
    assert canon(a)["columns"] == ["a", "b"]
    c = pa.table({"a": [2, 1, 3], "b": [float("nan"), float("nan"), 2.0]})
    assert mismatch(canon(a), canon(c)) is not None


def test_canon_renders_aware_and_naive_timestamps_alike():
    naive = pa.table({"t": pa.array([dt.datetime(2024, 1, 1, 12)], pa.timestamp("us"))})
    aware = pa.table({"t": pa.array([dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone.utc)],
                                    pa.timestamp("us", tz="UTC"))})
    assert mismatch(canon(naive), canon(aware)) is None


def test_mismatch_reasons():
    one = canon(pa.table({"a": [1]}))
    assert "columns" in mismatch(one, canon(pa.table({"b": [1]})))
    assert "rows" in mismatch(one, canon(pa.table({"a": [1, 2]})))
    assert "row" in mismatch(one, canon(pa.table({"a": [2]})))


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = datagen.write_tables(str(tmp_path / "a"), 0.001, 42)
    b = datagen.write_tables(str(tmp_path / "b"), 0.001, 42)
    c = datagen.write_tables(str(tmp_path / "c"), 0.001, 43)
    assert a == b != c
    t = datagen.build_tables(0.001, 42)
    assert t["lineitem"].num_rows == 6000
    ev = t["events"].column("ts").to_pylist()
    assert ev == sorted(ev)  # events stay in event_id order


def test_lifecycle_params_follow_the_seed():
    a, b, c = (LifecycleParams(s, 1500).describe() for s in (1, 1, 2))
    assert a == b != c
    assert math.isfinite(a["travel_insert"]) and 1 <= a["travel_insert"] <= 3
