"""Unit tests of the benchmark's own statistics on synthetic inputs.

Run with ``python3 -m pytest perfbench/tests -q`` from the checkout root.
"""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import stats  # noqa: E402


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)


def test_tail_picks_highest_percentile_with_ten_beyond():
    # n=100: p90 leaves 10 beyond, p95 only 5
    value, label, n = stats.tail([float(i) for i in range(100)])
    assert (label, n) == ("p90", 100)
    assert value == pytest.approx(89.1)
    # n=1000: p99 leaves 10 beyond
    assert stats.tail(list(range(1000)))[1] == "p99"
    # n=10000: p99.9 leaves 10 beyond
    assert stats.tail(list(range(10000)))[1] == "p99.9"
    # n=40: p75 leaves 10 beyond, p90 only 4
    assert stats.tail(list(range(40)))[1] == "p75"
    # n=20: only the median qualifies
    assert stats.tail(list(range(20)))[1] == "p50"


def test_tail_falls_back_to_max_below_twenty_samples():
    assert stats.tail([3.0, 9.0, 1.0]) == (9.0, "max", 3)
    assert stats.tail(list(range(19)))[1] == "max"


def test_failed_frac_counts_every_failure_class():
    assert stats.failed_frac(10, 0, 0, 0) == 0.0
    assert stats.failed_frac(10, 1, 2, 3) == pytest.approx(0.6)
    assert stats.failed_frac(4, 0, 0, 4) == 1.0


def test_failed_frac_rejects_impossible_counts():
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0, 0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(2, 1, 1, 1)


def test_row_latencies_are_file_mtime_minus_newest_event():
    files = [(100.0, [99.0, 98.5]), (101.25, [100.75])]
    assert stats.row_latencies(files) == [1.0, 1.5, 0.5]
    assert stats.row_latencies([]) == []


def test_row_latencies_keep_rows_created_in_the_window():
    # the second file's first row took in an event created at 10.0, the
    # window's end, so its newest event is not a steady-phase one
    files = [(5.0, [4.0, 3.5]), (11.0, [10.0, 9.5])]
    assert stats.row_latencies(files, 0.0, 10.0) == [1.0, 1.5, 1.5]
    assert stats.row_latencies(files, 4.0, 10.0) == [1.0, 1.5]


def test_query_medians_take_each_query_alone():
    timings = [("a", 1.0), ("b", 5.0), ("a", 3.0), ("b", 4.0), ("a", 2.0), ("b", 9.0)]
    assert stats.query_medians(timings) == {"a": 2.0, "b": 5.0}
    assert stats.query_medians([("a", 1.0), ("a", 2.0)]) == {"a": 1.5}


def test_pending_counts_landed_unread_files_only():
    landings = [(1.0, "a", 10), (2.0, "b", 20), (3.0, "c", 30)]
    assert stats.pending_at(2.5, landings, set()) == 30
    assert stats.pending_at(2.5, landings, {"a"}) == 20
    assert stats.pending_at(0.5, landings, set()) == 0
    assert stats.pending_at(9.0, landings, {"a", "b", "c"}) == 0


def test_backlog_always_present_when_input_outpaces_batches():
    # a file lands every 0.1 s; each batch takes 0.5 s and reads what had
    # landed when it started, so every batch starts with work waiting
    landings = [(i * 0.1, f"f{i}", 100) for i in range(30)]
    batches, start, read = [], 0.05, set()
    while start < 3.0:
        files = {f for at, f, _ in landings if at <= start and f not in read}
        read |= files
        batches.append((start, start + 0.5, files))
        start += 0.5
    assert stats.backlog_always_present(batches, landings, 0.0, 2.9)


def test_backlog_present_for_a_burst_read_in_one_batch():
    landings = [(5.0, f"b{i}", 300_000) for i in range(10)]
    batches = [(4.0, 5.2, set()), (5.2, 8.0, {f"b{i}" for i in range(10)})]
    assert stats.backlog_always_present(batches, landings, 5.0, 8.0)


def test_backlog_absent_when_pipeline_keeps_up():
    # one file per second; batches start every 0.5 s, so every other one
    # finds nothing unread
    landings = [(float(i), f"f{i}", 100) for i in range(5)]
    batches = []
    for k in range(10):
        start = k * 0.5 + 0.01
        files = {f"f{k // 2}"} if k % 2 == 0 else set()
        batches.append((start, start + 0.2, files))
    assert not stats.backlog_always_present(batches, landings, 0.0, 5.0)


def test_backlog_needs_a_batch_starting_inside_the_window():
    landings = [(0.0, "f0", 1)]
    assert not stats.backlog_always_present([(0.0, 10.0, {"f0"})], landings, 1.0, 2.0)
