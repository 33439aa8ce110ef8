"""Unit tests for the benchmark's own arithmetic.

    python3 -m pytest perfbench/test_stats.py -q -p no:cacheprovider

No Spark session is started: these pin the formulas every reported
metric goes through, so a harness change cannot move a number silently.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import live  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


def test_samples_needed_for_ten_beyond():
    assert stats.samples_needed(0.99) == 1000
    assert stats.samples_needed(0.5) == 20
    assert stats.samples_needed(0.9, beyond=1) == 10


def test_percentile_guard_refuses_thin_tails():
    values = list(range(999))
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(values, 0.99)
    assert stats.percentile(list(range(1000)), 0.99) == pytest.approx(989.01)
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([], 0.5, beyond=0)


def test_percentile_interpolates_linearly():
    values = [4.0, 1.0, 3.0, 2.0]
    assert stats.median(values) == 2.5
    assert stats.percentile(values, 0.99, beyond=0) == pytest.approx(3.97)
    assert stats.median([7.0]) == 7.0


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_line_latencies_charge_from_due_time_to_emit():
    due = [0.0, 1.0, 2.0, 3.0, 4.0]
    assert stats.line_latencies(due, [2, 5], [10.0, 20.0]) == [10.0, 9.0, 18.0, 17.0, 16.0]
    # A batch that consumed nothing adds no samples.
    assert stats.line_latencies([0.0, 1.0], [1, 1, 2], [3.0, 4.0, 9.0]) == [3.0, 8.0]
    # Lines no listed batch consumed are not samples.
    assert stats.line_latencies(due, [1], [5.0]) == [5.0]
    with pytest.raises(ValueError):
        stats.line_latencies(due, [3, 2], [1.0, 2.0])
    with pytest.raises(ValueError):
        stats.line_latencies(due, [3], [1.0, 2.0])


def test_each_arrival_lies_in_two_sliding_windows():
    # 10 s windows sliding 5 s, aligned to 0 as Spark aligns them.
    for t in (0.0, 0.001, 4.999, 5.0, 7.5, 12345.678):
        starts = [5 * k for k in range(int(t // 5) - 3, int(t // 5) + 3)]
        assert sum(1 for s in starts if s <= t < s + 10) == 2


def test_count_identity():
    occ = stats.tag_counts(["#a b #a", "#b", "no tags", "#a#b x"])
    assert occ == {"#a": 2, "#b": 1, "#a#b": 1}
    assert stats.count_identity_errors({"#a": 4, "#b": 2, "#a#b": 2}, occ) == []
    assert stats.count_identity_errors({"#a": 4, "#b": 1, "#a#b": 2}, occ) == [
        "#b: sum(cnt)=1, expected 2"
    ]
    assert stats.count_identity_errors({"#a": 4, "#b": 2, "#a#b": 2, "#z": 2}, occ) == [
        "#z: sum(cnt)=2, expected 0"
    ]


def test_failed_frac_accounting():
    o = stats.Outcomes()
    assert o.failed_frac == 1.0  # nothing attempted is not a pass
    o.ok()
    o.ok()
    o.fail("query x: row-count mismatch")
    o.ok()
    assert (o.attempted, o.failed) == (4, 1)
    assert o.failed_frac == 0.25
    assert o.failures == ["query x: row-count mismatch"]


def test_iqr_share_matches_statistics_quantiles():
    vals = [1.0, 2.0, 2.5, 3.0, 10.0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.iqr_share(vals) == pytest.approx((q3 - q1) / q2)


def _sink_with(table, top, total):
    sink = live.Sink(final_batch=3, tracer=None)
    sink.table = table
    sink.emits[3] = (0.0, 1.0, top, total)
    return sink


def test_final_trending_check():
    lines = ["#a #b", "#a", "x #b #a"]
    table = [
        ("10:00:00", "#a", 2),
        ("10:00:05", "#a", 4),
        ("10:00:00", "#b", 2),
        ("10:00:05", "#b", 2),
    ]
    top = sorted(table, key=lambda r: (-r[2], r[0], r[1]))[:10]
    assert live._check_final(_sink_with(table, top, 4), lines, 3) == []
    # Only the first two lines consumed: the identity breaks.
    assert live._check_final(_sink_with(table, top, 4), lines, 2)
    # A wrong top-10 or total is caught too.
    assert live._check_final(_sink_with(table, top[::-1], 4), lines, 3)
    assert live._check_final(_sink_with(table, top, 5), lines, 3)
    assert live._check_final(_sink_with(None, top, 4), lines, 3)


def test_consumed_lps_between_first_and_last_trigger():
    progress = [
        {"timestamp": "2026-01-01T00:00:05.000Z", "numInputRows": 900},
        {"timestamp": "2026-01-01T00:00:10.000Z", "numInputRows": 1000},
        {"timestamp": "2026-01-01T00:00:15.000Z", "numInputRows": 1100},
    ]
    assert live._consumed_lps(progress) == pytest.approx(210.0)


def test_event_log_accounting(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Properties": {"spark.jobGroup.id": "pb|2:q"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
         "Properties": {"spark.jobGroup.id": "pb|2:q"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
         "Task Metrics": {"Executor Run Time": 30,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
                          "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
         "Task Metrics": {"Executor Run Time": 10}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Properties": {}},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = tracing.read_event_log(str(path))
    g = tracing.group_counts(log)
    assert g["pb|2:q"] == {"jobs": 1, "stages": 1, "tasks": 2, "run_ms": 40,
                           "shuffle_read": 3, "shuffle_write": 5, "spill": 7}
    assert g[None]["jobs"] == 1
    assert tracing.jobs_within(log, [{"start": 0.5, "end": 1.5}]) == 1
    assert tracing.jobs_within(log, [{"start": 2.0, "end": 4.0}]) == 0


def test_span_self_time_subtracts_children():
    t = tracing.Tracer()
    t.spans = [
        {"id": 0, "name": "queries.run", "op": "1:q", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "queries.fn", "op": "1:q", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "catalog.load_table", "op": "1:q", "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "name": "queries.action", "op": "1:q", "parent": 0, "start": 4.0, "end": 9.0},
    ]
    assert t.self_times() == pytest.approx(
        {"queries.run": 2.0, "queries.fn": 2.0, "catalog.load_table": 1.0, "queries.action": 5.0}
    )


def test_wrapper_counts_memo_hits():
    import types

    mod = types.ModuleType("fake_ops")
    mod._CACHE = {}

    def build(x, cache_key=None):
        if cache_key is not None:
            mod._CACHE.setdefault(cache_key, x)
        return x

    mod.build = build
    t = tracing.Tracer()
    t.wrap(mod, "build", "operators.fake", memo="_CACHE")
    mod.build(1, cache_key="k")  # miss, fills the memo
    mod.build(1, cache_key="k")  # hit
    mod.build(1)  # no key: not a lookup
    assert t.memo["fake_ops._CACHE"] == [2, 1]
    assert [s["name"] for s in t.closed()] == ["operators.fake"] * 3


def test_inputs_are_a_function_of_the_seed():
    assert gen.make_lines(5, 200) == gen.make_lines(5, 200)
    assert gen.make_lines(5, 200) != gen.make_lines(6, 200)
    a, b = gen.make_tables(5), gen.make_tables(5)
    assert all(a[name].equals(b[name]) for name in a)
    assert {name: t.num_rows for name, t in a.items()}["lineitem"] == gen.ROWS["lineitem"]
