"""Tests for the benchmark itself: seeded inputs, the statistics helpers,
the event-log parser and the metric declarations.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import statistics

import numpy as np
import pytest

from perfbench import eventlog, gen, run, stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_same_seed_same_digest(workload):
    _, a = gen.generate(workload, 5)
    _, b = gen.generate(workload, 5)
    assert a["digest"] == b["digest"]
    assert a["rows"] == b["rows"]


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_other_seed_other_digest_same_sizes(workload):
    _, a = gen.generate(workload, 5)
    _, b = gen.generate(workload, 6)
    assert a["digest"] != b["digest"]
    assert a["rows"] == b["rows"]


def test_exact_shares_do_not_depend_on_seed():
    """Cost-driving counts are allocated exactly, so seeds differ in values
    only: same format mix, same image-size multiset, same hot count."""
    tables = [gen.generate("tile_render", s)[0] for s in (1, 2)]
    for col in ("fmt", "w", "h"):
        a, b = (sorted(t["meta"][col].to_pylist()) for t in tables)
        assert a == b, col
    recs = [gen.generate("spatial_join", s)[1] for s in (1, 2)]
    assert recs[0]["hot_images"] == recs[1]["hot_images"]


def test_ensure_inputs_caches(tmp_path):
    d1, r1 = gen.ensure_inputs(str(tmp_path), "spatial_join", 3)
    mtime = os.path.getmtime(os.path.join(d1, "meta.parquet"))
    d2, r2 = gen.ensure_inputs(str(tmp_path), "spatial_join", 3)
    assert (d1, r1) == (d2, r2)
    assert os.path.getmtime(os.path.join(d2, "meta.parquet")) == mtime


@pytest.mark.parametrize(
    "n,expected",
    [(1, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_needs_ten_samples_beyond(n, expected):
    xs = list(np.arange(n, dtype=float))
    t = stats.tail(xs)
    assert (t[0] if t else None) == expected
    if t is not None:
        assert sum(x > t[1] for x in xs) >= stats.MIN_BEYOND


def test_summary_reports_tail_only_when_supported():
    assert set(stats.summary([1.0, 2.0, 3.0])) == {"median", "n"}
    s = stats.summary([float(i) for i in range(100)])
    assert s["n"] == 100 and s["median"] == 49.5 and "p90" in s


def test_quartile_spread_matches_statistics():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 12.0, 8.0, 10.0, 10.0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / 10.0)


def test_steady_rule():
    assert not stats.steady([5.0, 3.0, 2.0])
    assert not stats.steady([6.0, 4.0, 3.0, 2.0])  # still falling
    assert not stats.steady([6.0, 2.05, 2.0, 2.02])  # the cold pass is in the window
    assert stats.steady([6.0, 2.1, 2.0, 2.05, 2.02])


def test_eventlog_parser_on_recorded_log():
    """A recorded log of two job groups: 'calib' (an identity pandas UDF
    over 20000 rows, then an aggregate) and 'other' (three plain jobs)."""
    with open(os.path.join(HERE, "data", "events_small.jsonl")) as fh:
        groups = eventlog.parse(fh)
    calib, other = groups["calib"], groups["other"]
    assert calib.jobs == 2 and other.jobs == 3
    assert calib.python_rows == {"ArrowEvalPython": 20000}
    assert calib.arrow_sent_bytes > 0 and calib.arrow_returned_bytes > 0
    assert calib.python_ms > 0
    assert other.python_rows == {} and other.arrow_sent_bytes == 0
    assert other.shuffle_write_bytes > 0
    # intervals are disjoint here, so the union is their plain sum
    assert other.job_seconds() == pytest.approx(sum(e - s for s, e in other.intervals) / 1000.0)


def test_job_seconds_merges_overlaps():
    g = eventlog.Group(intervals=[(0, 1000), (500, 1500), (3000, 3500)])
    assert g.job_seconds() == pytest.approx(2.0)


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(gen.SIZES)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
