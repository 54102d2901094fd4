"""bench.py's outlier anchor: the previous run's ratio table is read back
only at the same core count and scale factor."""

import json

import pytest

import bench


@pytest.mark.parametrize(
    "anchor, recorded_sf, expected",
    [
        ("BENCH_local_c4.json", 0.1, {"q1": 1.5}),
        ("BENCH_local_c4.json", 0.01, {}),  # another scale factor
        ("BENCH_local_c8.json", 0.1, {}),  # another core count
        (None, None, {}),  # no previous run
    ],
)
def test_latest_recorded_ratios(tmp_path, monkeypatch, anchor, recorded_sf, expected):
    monkeypatch.setattr(bench, "HERE", str(tmp_path))
    monkeypatch.setattr(bench, "CPUS", 4)
    if anchor:
        (tmp_path / anchor).write_text(
            json.dumps(
                {
                    "sf": recorded_sf,
                    "duckdb_ratio_per_query": {"q1": 1.5, "q3": None},
                }
            )
        )
    assert bench._latest_recorded_ratios(0.1) == expected
