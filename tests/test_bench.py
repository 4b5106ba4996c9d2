"""bench.py helpers that need no Spark session."""

from __future__ import annotations

import bench


def test_latest_bench_artifact_by_round_number(tmp_path):
    for name in ("BENCH_r9.json", "BENCH_r12.json", "BENCH_r12_c8.json", "OTHER.json"):
        (tmp_path / name).write_text("{}")
    assert bench.latest_bench_artifact(str(tmp_path)) == str(tmp_path / "BENCH_r12.json")


def test_latest_bench_artifact_none(tmp_path):
    (tmp_path / "BENCH_r3_c8.json").write_text("{}")
    assert bench.latest_bench_artifact(str(tmp_path)) is None
