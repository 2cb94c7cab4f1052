"""Tests of the benchmark's own logic (no Spark needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import datetime
import json
import os

import check
import run
import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))


# -- percentile rule -------------------------------------------------------------

def test_tail_percentile_needs_ten_samples_beyond_it():
    assert check.tail_percentile(list(range(99))) is None  # 9 beyond p90
    p, v = check.tail_percentile(list(range(100)))  # 10 beyond p90
    assert p == 90 and v == check.percentile(list(range(100)), 90)
    assert check.tail_percentile(list(range(999)))[0] == 90  # 9 beyond p99
    assert check.tail_percentile(list(range(1000)))[0] == 99  # highest supported wins


def test_percentile_interpolates():
    assert check.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert check.percentile([5.0], 90) == 5.0


def test_geomean():
    assert abs(check.geomean([1.0, 4.0]) - 2.0) < 1e-12
    assert check.geomean([]) == 0.0


# -- result comparator -------------------------------------------------------------

ROWS = [(1, "a", 10.25, datetime.date(2024, 1, 2)), (2, "b", None, datetime.date(2024, 1, 3))]
COLS = ["k", "s", "x", "d"]


def test_comparator_is_order_and_column_order_insensitive():
    want = check.canon(COLS, ROWS)
    shuffled = [(r[3], r[1], r[0], r[2]) for r in reversed(ROWS)]
    assert check.mismatch(check.canon(["D", "s", "K", "x"], shuffled), want) is None


def test_comparator_catches_an_altered_row():
    want = check.canon(COLS, ROWS)
    altered = [ROWS[0], (2, "b", 0.5, datetime.date(2024, 1, 3))]
    assert "values differ" in check.mismatch(check.canon(COLS, altered), want)
    assert "rows" in check.mismatch(check.canon(COLS, ROWS + [ROWS[0]]), want)
    assert "columns" in check.mismatch(check.canon(["k", "s", "x", "e"], ROWS), want)


def test_comparator_tolerates_float_noise_below_six_digits():
    want = check.canon(["x"], [(1234567.0,)])
    assert check.mismatch(check.canon(["x"], [(1234567.0000001,)]), want) is None
    assert check.mismatch(check.canon(["x"], [(1244567.0,)]), want) is not None


# -- error_rate accounting ------------------------------------------------------------

def _op(name, rows, error=None):
    return wl.Op(name, 0.0, 0.1, columns=["k"], rows=rows, error=error, check_key=(0.1, name))


def test_error_rate_counts_errors_and_wrong_results():
    expected = {(0.1, "q"): check.canon(["k"], [(1,)])}
    ops = [_op("q", [(1,)]), _op("q", [(2,)]), _op("q", [], error="boom"), _op("q", [(1,)])]
    tally = check.Tally()
    bad = run.verify(ops, expected, tally)
    assert (tally.attempted, tally.errors, tally.wrong, tally.ok) == (4, 1, 1, 2)
    assert tally.failed == 2 and tally.error_rate == 0.5
    assert len(bad) == 2


def test_error_rate_of_a_clean_run_is_zero():
    tally = check.Tally()
    run.verify([_op("q", [(1,)])], {(0.1, "q"): check.canon(["k"], [(1,)])}, tally)
    assert tally.error_rate == 0.0 and tally.failed == 0


def test_ops_per_s_counts_correct_ops_over_the_timed_region():
    ops = [wl.Op("a", 0, 1), wl.Op("a", 0, 1), wl.Op("b", 0, 1, error="boom"),
           wl.Op("b", 0, 1, wrong="rows")]
    assert run.ops_per_s(wl.Run({}, [], ops, wall=4.0)) == 0.5


def test_ops_per_s_on_sessions_is_the_median_session_rate_times_clients():
    def session(lane, i, n_ok, n_bad=0):
        return ([wl.Op("r", 0, 1, lane=lane, session=i) for _ in range(n_ok)]
                + [wl.Op("r", 0, 1, lane=lane, session=i, error="boom") for _ in range(n_bad)])
    ops = session(0, 0, 4) + session(0, 1, 3, 1) + session(1, 0, 4)
    # rates 4/2, 3/2 and 4/8 (a stalled session): the median is 3/2
    r = wl.Run({}, [], ops, wall=12.0, sessions=[(0, 0, 2.0), (0, 1, 2.0), (1, 0, 8.0)])
    assert run.ops_per_s(r) == wl.CLIENTS * 1.5


# -- the declared metrics match what the code reports -----------------------------

def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == list(wl.PER_LAYER)
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s", "ops_per_s", "latency_geomean_s", "peak_rss_mb"}
    assert {w["name"] for w in spec["workloads"]} == set(wl.WORKLOADS)
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])
