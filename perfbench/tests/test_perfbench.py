"""Spark-free tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q
"""

import filecmp
import json
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import catalog  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


# -- percentile and median selection ---------------------------------------

def test_median_odd_and_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_nearest_rank_percentile():
    values = list(range(1, 101))  # 1..100
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 100) == 100
    assert stats.percentile([7.0], 99) == 7.0


def test_tail_percentile_keeps_ten_samples_beyond():
    # 40 samples: p75 leaves exactly 10 above it, p76 would leave 9
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99
    # under 20 samples even the median has fewer than 10 beyond it, and
    # a tail below the median would mislead -> maximum
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(19) == 100
    assert stats.tail_percentile(11) == 100
    assert stats.tail_percentile(3) == 100
    for n in (20, 23, 40, 57, 100, 333):
        pct = stats.tail_percentile(n)
        rank = -(-int(pct) * n // 100)
        assert n - rank >= 10


def test_tail_returns_value_at_percentile():
    values = [float(v) for v in range(40, 0, -1)]  # unordered input
    assert stats.tail(values) == (75.0, 30.0)
    assert stats.tail([1.0, 5.0, 2.0]) == (100.0, 5.0)


# -- failed_ops_ratio -------------------------------------------------------

def test_failed_ratio_arithmetic():
    assert stats.failed_ratio(10, 0) == 0.0
    assert stats.failed_ratio(8, 2) == 0.25
    assert stats.failed_ratio(3, 3) == 1.0
    with pytest.raises(ValueError):
        stats.failed_ratio(0, 0)
    with pytest.raises(ValueError):
        stats.failed_ratio(2, 3)


# -- generator determinism --------------------------------------------------

def _same_tree(a: Path, b: Path) -> bool:
    names = sorted(p.name for p in a.iterdir())
    if names != sorted(p.name for p in b.iterdir()):
        return False
    return all(filecmp.cmp(a / n, b / n, shallow=False) for n in names)


def _strip_paths(info: dict) -> dict:
    return {k: v for k, v in info.items() if not isinstance(v, str)}


@pytest.mark.parametrize("make", [
    lambda seed, d: gen.resync(seed, 1000, d, 3, 100),
    lambda seed, d: gen.analytics_fixture(seed, 0.001, d),
])
def test_same_seed_same_bytes_and_counts(tmp_path, make):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d in (a, b, c):
        d.mkdir()
    ia, ib = make(7, str(a)), make(7, str(b))
    ic = make(8, str(c))
    assert _same_tree(a, b)
    assert _strip_paths(ia) == _strip_paths(ib)
    assert not _same_tree(a, c)


def test_resync_expected_counts_add_up(tmp_path):
    info = gen.resync(3, 1000, str(tmp_path))
    drift = (info["missing_keys"] + info["stale_keys"] + info["ghost_keys"]
             + info["tombstoned_keys"])
    assert drift == info["expected_drift"] == 60
    assert info["expected_tombstones"] == info["ghost_keys"]
    assert info["expected_state"] == 1000 - info["ghost_keys"]
    import pyarrow.parquet as pq
    table = pq.read_table(info["table"]).column("id").to_pylist()
    assert len(table) == len(set(table)) == info["expected_state"]


def test_cdc_changes_replay_to_expected_live_keys(tmp_path):
    import pyarrow.parquet as pq
    info = gen.resync(4, 1000, str(tmp_path), 5, 100)
    live = set(pq.read_table(info["table"]).column("id").to_pylist())
    last_version = 0
    for name in info["cdc_tables"]:
        rows = pq.read_table(tmp_path / f"{name}.parquet").to_pylist()
        assert len(rows) == info["cdc_changes_per_tick"]
        assert len({r["id"] for r in rows}) == len(rows)
        versions = [r["sys_change_version"] for r in rows]
        assert versions == sorted(versions) and versions[0] > last_version
        last_version = versions[-1]
        ops = [r["sys_change_operation"] for r in rows]
        assert (ops.count("U"), ops.count("I"), ops.count("D")) == (70, 20, 10)
        for r in rows:
            if r["sys_change_operation"] == "I":
                assert r["id"] not in live
                live.add(r["id"])
            else:
                assert r["id"] in live
                if r["sys_change_operation"] == "D":
                    assert r["payload"] is None
                    live.remove(r["id"])
    assert len(live) == info["expected_live_after_cdc"] == 990 + 5 * 10


def test_row_values_do_not_depend_on_batch():
    a = gen.sync_rows(np.array([5, 6, 7]), 2, 1).to_pylist()
    b = gen.sync_rows(np.array([7, 5]), 2, 1).to_pylist()
    assert a[0] == b[1] and a[2] == b[0]
    assert gen.sync_rows(np.array([5]), 3, 1).to_pylist()[0] != a[0]


# -- BENCHMARK.json ---------------------------------------------------------

def test_benchmark_json_matches_catalog():
    path = HERE.parent / "BENCHMARK.json"
    on_disk = json.loads(path.read_text())
    assert on_disk == catalog.benchmark_json(on_disk["run_seconds"])


def test_catalog_names_are_unique_and_well_formed():
    import re
    names = [m[0] for m in catalog.END_TO_END + catalog.PER_LAYER]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n)
               for n in names)
    assert any(m[0] == "setup_s" and m[1] == "s" and m[2] == "lower"
               for m in catalog.END_TO_END)
    assert all(m[3] <= 0.25 for m in catalog.END_TO_END)
    assert all(len(w["why"]) <= 200 for w in catalog.WORKLOADS.values())
