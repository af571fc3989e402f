"""Unit tests of the benchmark's pure helpers: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import json
import math
import statistics

import numpy as np
import pytest

from helpers import file_batches, oracle_compact, percentile, spread, table_diff


# -- percentile ---------------------------------------------------------------


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))          # 1..100
    assert percentile(values, 0.5) == 50
    assert percentile(values, 0.9) == 90  # exactly 10 samples beyond


def test_percentile_ignores_input_order():
    rng = np.random.default_rng(0)
    values = rng.random(200).tolist()
    assert percentile(values, 0.9) == sorted(values)[179]
    assert percentile(values[::-1], 0.9) == percentile(values, 0.9)


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(100)), 0.9) == 89
    with pytest.raises(ValueError, match="9 beyond"):
        percentile(list(range(99)), 0.9)
    with pytest.raises(ValueError):
        percentile([], 0.5)
    assert percentile([1.0, 2.0, 3.0], 0.5, min_beyond=1) == 2.0


def test_percentile_counts_failures_as_missing_every_limit():
    values = [0.1] * 85 + [math.inf] * 15
    assert percentile(values, 0.5) == 0.1
    assert percentile(values, 0.9) == math.inf


@pytest.mark.parametrize("q", [0.0, 1.0, -0.5, 1.5])
def test_percentile_rejects_q_outside_open_interval(q):
    with pytest.raises(ValueError):
        percentile(list(range(100)), q)


def test_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert spread(values) == pytest.approx((q3 - q1) / q2)


# -- file -> batch map ------------------------------------------------------


def _log(path: str, entries: list[tuple[str, int]]) -> None:
    with open(path, "w") as f:
        f.write("v1\n")
        for name, batch in entries:
            f.write(json.dumps({"path": f"file:///src/{name}", "timestamp": 1, "batchId": batch}) + "\n")


def test_file_batches_reads_batch_and_compact_files(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    # batches 0..9 were compacted into 9.compact; 10 and 11 are plain
    _log(str(log / "9.compact"), [(f"f{i}.parquet", i) for i in range(10)])
    _log(str(log / "10"), [("f10.parquet", 10), ("f11.parquet", 10)])
    _log(str(log / "11"), [("f12.parquet", 11)])
    (log / ".11.crc").write_bytes(b"\x00\x01crc")
    got = file_batches(str(tmp_path))
    assert got["f0.parquet"] == 0
    assert got["f9.parquet"] == 9
    assert got["f10.parquet"] == got["f11.parquet"] == 10
    assert got["f12.parquet"] == 11
    assert len(got) == 13


def test_file_batches_keeps_several_files_of_one_batch(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    _log(str(log / "0"), [("a.parquet", 0), ("b.parquet", 0), ("c.parquet", 0)])
    assert file_batches(str(tmp_path)) == {"a.parquet": 0, "b.parquet": 0, "c.parquet": 0}


def test_file_batches_missing_log_is_empty(tmp_path):
    assert file_batches(str(tmp_path / "nowhere")) == {}


def test_file_batches_rejects_unknown_version(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    (log / "0").write_text("v9\n{}\n")
    with pytest.raises(ValueError, match="v9"):
        file_batches(str(tmp_path))


# -- oracle compaction --------------------------------------------------------


def _naive(ids, offsets, deleted, payload):
    latest = {}
    for k, o, d, p in zip(ids, offsets, deleted, payload):
        if k not in latest or o > latest[k][0]:
            latest[k] = (o, d, p)
    return {k: (o, p) for k, (o, d, p) in latest.items() if not d}


def test_oracle_keeps_latest_version_and_drops_deleted_keys():
    ids = np.array([1, 2, 1, 3, 2, 3])
    offsets = np.array([1, 2, 3, 4, 5, 6])
    deleted = np.array([False, False, False, False, True, False])
    payload = np.array([10, 20, 11, 30, 21, 31])
    out = oracle_compact(ids, offsets, deleted, {"v": payload})
    assert out["id"].tolist() == [1, 3]          # key 2's latest is a delete
    assert out["offset"].tolist() == [3, 6]
    assert out["v"].tolist() == [11, 31]


def test_oracle_orders_by_offset_not_by_position():
    ids = np.array([7, 7, 7])
    offsets = np.array([30, 10, 20])
    deleted = np.array([False, True, False])
    out = oracle_compact(ids, offsets, deleted, {"v": np.array(["c", "a", "b"], dtype=object)})
    assert out["v"].tolist() == ["c"]
    # a delete at the highest offset wins over earlier live versions
    out = oracle_compact(ids, np.array([10, 30, 20]), deleted)
    assert len(out["id"]) == 0


def test_oracle_matches_naive_compaction_on_random_logs():
    rng = np.random.default_rng(42)
    for _ in range(20):
        n = int(rng.integers(1, 500))
        ids = rng.integers(0, 50, n)
        offsets = rng.permutation(n) + 1
        deleted = rng.random(n) < 0.3
        payload = rng.integers(0, 1000, n)
        out = oracle_compact(ids, offsets, deleted, {"v": payload})
        want = _naive(ids.tolist(), offsets.tolist(), deleted.tolist(), payload.tolist())
        assert out["id"].tolist() == sorted(want)
        assert [(o, v) for o, v in zip(out["offset"].tolist(), out["v"].tolist())] == [
            want[k] for k in sorted(want)
        ]


def test_table_diff_reports_first_difference():
    want = {"id": np.array([1, 2]), "v": np.array(["a", "b"], dtype=object)}
    assert table_diff({"id": np.array([1, 2]), "v": np.array(["a", "b"], dtype=object)}, want) is None
    assert "1 rows differ in 'v', first at id=2" in table_diff(
        {"id": np.array([1, 2]), "v": np.array(["a", "x"], dtype=object)}, want
    )
    assert "1 rows != 2 rows" in table_diff(
        {"id": np.array([1]), "v": np.array(["a"], dtype=object)}, want
    )

