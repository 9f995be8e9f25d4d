"""``BENCHMARK.json`` lists exactly the metrics the benchmark prints."""

import hashlib
import json
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import run  # noqa: E402
import tracing  # noqa: E402

SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def test_end_to_end_metrics_match_the_result_line():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.UNITS
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])


def test_per_layer_metrics_match_the_traced_run():
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == tracing.LAYER_METRICS


def test_workloads_match_the_runner():
    assert tuple(w["name"] for w in SPEC["workloads"]) == run.WORKLOADS


def test_data_files_match_their_recorded_hashes():
    data = BENCH / "data"
    for line in (data / "SHA256SUMS").read_text().splitlines():
        want, name = line.split()
        assert hashlib.sha256((data / name).read_bytes()).hexdigest() == want, name
