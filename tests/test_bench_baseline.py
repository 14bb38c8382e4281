"""bench.py's choice of the prior payload its vs_prev_* ratios compare against."""

from __future__ import annotations

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("bench", os.path.join(REPO, "bench.py"))
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def write_payload(path, sf: float) -> None:
    path.write_text(json.dumps({"sf": sf, "queries": {"funnel": 1.0}}))


def test_existing_destination_is_its_own_baseline(tmp_path):
    write_payload(tmp_path / "BENCH_SF05_LATEST.json", 0.5)
    write_payload(tmp_path / "BENCH_FULL_LATEST.json", 0.1)
    prev, name = bench.load_baseline(
        str(tmp_path / "BENCH_SF05_LATEST.json"), str(tmp_path / "BENCH_FULL_LATEST.json"), 0.5
    )
    assert name == "BENCH_SF05_LATEST.json" and prev["sf"] == 0.5


def test_new_destination_falls_back_to_committed_payload_at_same_sf(tmp_path):
    write_payload(tmp_path / "BENCH_FULL_LATEST.json", 0.1)
    prev, name = bench.load_baseline(
        str(tmp_path / "new.json"), str(tmp_path / "BENCH_FULL_LATEST.json"), 0.1
    )
    assert name == "BENCH_FULL_LATEST.json" and prev["queries"] == {"funnel": 1.0}


def test_new_destination_at_another_sf_has_no_baseline(tmp_path):
    write_payload(tmp_path / "BENCH_FULL_LATEST.json", 0.1)
    assert bench.load_baseline(
        str(tmp_path / "new.json"), str(tmp_path / "BENCH_FULL_LATEST.json"), 0.5
    ) == ({}, "none")
    assert bench.load_baseline(
        str(tmp_path / "new.json"), str(tmp_path / "missing.json"), 0.1
    ) == ({}, "none")
