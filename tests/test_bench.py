"""bench.py's contention re-measure compares against the newest round
record, whatever round that is."""

from __future__ import annotations

from bench import latest_bench_record


def test_latest_bench_record_is_the_highest_round(tmp_path):
    assert latest_bench_record(tmp_path) is None
    for name in ("BENCH_r2.json", "BENCH_r10.json", "BENCH_r11_c8.json", "BENCH_rX.json"):
        (tmp_path / name).write_text("{}")
    assert latest_bench_record(tmp_path) == tmp_path / "BENCH_r10.json"
