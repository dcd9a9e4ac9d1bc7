"""Tests of the benchmark's own logic on synthetic inputs (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from measure import Outcomes, fingerprint, parse_metric, tail  # noqa: E402
from spans import Tracer, attach, covered, layer_self_times, self_times  # noqa: E402


# ---------------------------------------------------------------- tail rule


def test_tail_takes_highest_percentile_with_ten_beyond():
    values = [float(v) for v in range(1, 41)]  # 40 samples
    t = tail(values)
    assert t.value == 30.0  # 10 samples (31..40) beyond it
    assert t.percentile == 75.0
    assert (t.samples, t.beyond) == (40, 10)


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
    assert tail(values) == tail(sorted(values))
    assert tail(values).value == 2.0  # rank 2 of 12 has 10 beyond


def test_tail_with_too_few_samples_is_the_maximum_and_says_so():
    t = tail([3.0, 1.0, 2.0])
    assert (t.value, t.percentile, t.beyond) == (3.0, 100.0, 0)
    t = tail([float(v) for v in range(10)])
    assert (t.value, t.beyond) == (9.0, 0)


def test_tail_at_eleven_samples_is_the_minimum():
    t = tail([float(v) for v in range(11)])
    assert (t.value, t.beyond) == (0.0, 10)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        tail([])


# ------------------------------------------------------------ self time


def _tracer_with(*spans):
    """spans: (name, layer, start, end, parent index or None)."""
    tr = Tracer("r", enabled=True)
    made = []
    for name, layer, start, end, parent in spans:
        made.append(tr.add(name, layer, start, end, made[parent].id if parent is not None else None))
    return tr, made


def test_covered_merges_overlapping_and_clips():
    assert covered([(1, 4), (3, 6), (8, 12)], 0, 10) == pytest.approx(7.0)
    assert covered([], 0, 10) == 0.0
    assert covered([(-5, -1), (11, 20)], 0, 10) == 0.0


def test_self_time_subtracts_the_union_of_overlapping_children():
    tr, (root, a, b, c, grand) = _tracer_with(
        ("root", "pipeline", 0.0, 10.0, None),
        ("a", "spark.job", 1.0, 4.0, 0),
        ("b", "spark.job", 3.0, 6.0, 0),  # overlaps a: concurrent jobs
        ("c", "spark.job", 8.0, 12.0, 0),  # runs past the parent's end
        ("g", "spark.stage", 1.5, 3.5, 1),
    )
    own = self_times(tr.spans)
    assert own[root.id] == pytest.approx(3.0)  # 10 - |[1,6] u [8,10]|
    assert own[a.id] == pytest.approx(1.0)  # only direct children count
    assert own[b.id] == pytest.approx(3.0)
    assert own[grand.id] == pytest.approx(2.0)


def test_layer_self_times_sum_over_a_subtree():
    tr, (root, other, a, b) = _tracer_with(
        ("pass", "bench", 0.0, 10.0, None),
        ("other", "bench", 20.0, 30.0, None),
        ("op", "plans", 0.0, 8.0, 0),
        ("job", "spark.job", 2.0, 5.0, 2),
    )
    layers = layer_self_times(tr.spans, root.id)
    assert layers == pytest.approx({"bench": 2.0, "plans": 5.0, "spark.job": 3.0})


def test_attach_places_spark_work_under_the_innermost_span():
    tr = Tracer("r", enabled=True)
    with tr.span("run", "bench"):
        pass
    run = tr.spans[0]
    run.start, run.end = 1_000.0, 1_010.0
    op = tr.add("op", "plans", 1_002.0, 1_006.0, run.id)
    snap = {
        "sql": [{"id": 7, "submissionTime": "1970-01-01T00:16:43.000GMT", "duration": 2000,
                 "successJobIds": [3], "failedJobIds": [], "runningJobIds": []}],
        "jobs": [
            {"jobId": 3, "submissionTime": "1970-01-01T00:16:43.100GMT",
             "completionTime": "1970-01-01T00:16:44.500GMT", "stageIds": [10, 11], "status": "SUCCEEDED"},
            {"jobId": 4, "submissionTime": "1970-01-01T00:16:48.000GMT",
             "completionTime": "1970-01-01T00:16:49.000GMT", "stageIds": [11], "status": "SUCCEEDED"},
        ],
        "stages": [
            {"stageId": 10, "attemptId": 0, "submissionTime": "1970-01-01T00:16:43.200GMT",
             "completionTime": "1970-01-01T00:16:44.000GMT", "shuffleReadBytes": 0, "shuffleWriteBytes": 5},
            {"stageId": 11, "attemptId": 0, "submissionTime": "1970-01-01T00:16:44.000GMT",
             "completionTime": "1970-01-01T00:16:44.400GMT", "shuffleReadBytes": 5, "shuffleWriteBytes": 0},
        ],
    }
    attach(tr, snap)
    by_name = {s.name: s for s in tr.spans}
    assert by_name["sql 7"].parent == op.id  # 1003..1005 lies inside op
    assert by_name["job 3"].parent == by_name["sql 7"].id
    assert by_name["job 4"].parent == run.id  # no execution; only run contains it
    assert by_name["stage 10.0"].parent == by_name["job 3"].id
    # job 4 lists stage 11 as skipped: it ran inside job 3
    assert [s.parent for s in tr.spans if s.name == "stage 11.0"] == [by_name["job 3"].id]


def test_disabled_tracer_times_but_keeps_nothing():
    tr = Tracer("r", enabled=False)
    with tr.span("op", "plans") as s:
        pass
    assert s.seconds >= 0.0
    assert tr.spans == []


# ------------------------------------------------------------ fingerprint


def test_fingerprint_ignores_row_order():
    rows = [("a", 1, 0.5), ("b", 2, 0.25), ("c", 3, None)]
    assert fingerprint(rows) == fingerprint(list(reversed(rows)))
    assert fingerprint([{"x": 1, "y": [1.0, 2.0]}]) == fingerprint([{"y": [1.0, 2.0], "x": 1}])


def test_fingerprint_sees_lost_doubled_and_changed_rows():
    rows = [("a", 1), ("b", 2)]
    base = fingerprint(rows)
    assert fingerprint(rows[:1]) != base
    assert fingerprint(rows + rows[:1]) != base
    assert fingerprint([("a", 1), ("b", 3)]) != base
    assert fingerprint([("a", 1.0), ("b", 2)]) != fingerprint([("a", 1.0000001), ("b", 2)])


# ------------------------------------------------------------- error rate


def test_error_rate_counts_each_failed_operation_once():
    o = Outcomes()
    for _ in range(4):
        o.attempt()
    o.fail("q#0", "raised PairVolumeExceeded")
    o.fail("q#0", "oracle mismatch")
    assert (o.attempted, o.failed) == (4, 1)
    assert o.error_rate == 0.25
    assert len(o.reasons) == 2


def test_guarded_operation_that_raises_is_a_failure_and_the_run_goes_on():
    from workloads import _guarded

    o = Outcomes()

    def guard_exit():
        raise RuntimeError("pair_volume_guard: projected 3 GB > budget 1 GB")

    _guarded(o, "op#0", guard_exit)
    _guarded(o, "op#1", lambda: None)
    assert (o.attempted, o.failed, o.error_rate) == (2, 1, 0.5)
    assert o.failed_ops == {"op#0"}


def test_error_rate_of_no_attempts_is_zero():
    assert Outcomes().error_rate == 0.0


# ------------------------------------------------------------ SQL metrics


@pytest.mark.parametrize("text, value", [
    ("1,024", 1024.0),
    ("2.5 s", 2.5),
    ("453 ms", 0.453),
    ("16.1 KiB", 16.1 * 1024),
    ("3.0 MiB", 3.0 * 2**20),
    ("total (min, med, max (stageId: taskId))\n3.0 s (0 ms, 1.0 s, 2.0 s (stage 1.0: task 2))", 3.0),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_metric("3 parsecs")
