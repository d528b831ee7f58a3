"""Parser and attribution tests on a small recorded event log.

The fixture comes from tests/record_eventlog.py: a ``fit`` span running a
grouped count and a ``sink`` span running a windowed noop write, each one
shuffle, on local[2] with adaptive execution (two jobs per span).
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from spans import Span, Spans, self_time  # noqa: E402

DATA = os.path.join(HERE, "data")


@pytest.fixture(scope="module")
def recorded():
    log = eventlog.parse(os.path.join(DATA, "small_eventlog.jsonl"))
    with open(os.path.join(DATA, "small_spans.json")) as f:
        spans = [Span(**d) for d in json.load(f)]
    return log, spans, eventlog.attribute(log, spans)


def test_parse_counts_jobs_stages_tasks_plans(recorded):
    log, _, _ = recorded
    assert (len(log.jobs), len(log.stages), len(log.tasks),
            len(log.plans)) == (4, 4, 6, 2)
    assert not any(t.failed for t in log.tasks)
    assert all(t.finish >= t.launch and t.run_s > 0 for t in log.tasks)


def test_attribution_by_submission_time(recorded):
    log, spans, totals = recorded
    by = {s.name: totals[s.id] for s in spans}
    assert (by["fit"].jobs, by["fit"].stages, by["fit"].tasks) == (2, 2, 3)
    assert (by["sink"].jobs, by["sink"].stages, by["sink"].tasks) == (2, 2, 3)
    assert by["iteration"].jobs == by["iteration"].tasks == 0
    # every task lands in exactly one span
    assert sum(t.tasks for t in totals.values()) == len(log.tasks)
    for name in ("fit", "sink"):
        t = by[name]
        assert t.shuffle_write_bytes == t.shuffle_read_bytes > 0
        assert len(t.stage_tasks) == 2 and t.max_over_median() >= 1.0


def test_plan_counts_in_the_span_that_ran_the_query(recorded):
    _, spans, totals = recorded
    by = {s.name: totals[s.id] for s in spans}
    (fit_plan,), (sink_plan,) = by["fit"].plans, by["sink"].plans
    assert (fit_plan["exchanges"], fit_plan["window_nodes"]) == (1, 0)
    assert (sink_plan["exchanges"], sink_plan["window_nodes"]) == (1, 1)
    assert sink_plan["broadcast_exchanges"] == 0
    assert sink_plan["python_exec_nodes"] == 0


def test_innermost_span_wins():
    outer, inner = Span(0, "iteration", 0.0, 10.0), Span(1, "fit", 2.0, 4.0,
                                                         parent=0)
    assert eventlog.innermost(3.0, [outer, inner]) == 1
    assert eventlog.innermost(5.0, [outer, inner]) == 0
    assert eventlog.innermost(11.0, [outer, inner]) is None


def test_self_time_subtracts_the_union_of_children():
    parent = Span(0, "iteration", 0.0, 10.0)
    kids = [Span(1, "a", 1.0, 4.0), Span(2, "b", 3.0, 5.0),
            Span(3, "c", 9.0, 12.0)]     # overlapping, and one past the end
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_time(parent, []) == 10.0


def test_spans_nest_and_inherit_the_iteration():
    spans = Spans()
    with spans.span("iteration", 7) as it:
        with spans.span("fit") as fit:
            pass
    assert fit.parent == it.id and fit.iteration == 7
    assert spans.children(it) == [fit] and spans.descendants(it) == [fit]
    assert it.start <= fit.start <= fit.end <= it.end


def test_count_errors_reads_log_lines_only():
    path = os.path.join(DATA, "small_spark.log")
    assert eventlog.count_errors(path) == 2
    with open(path, "rb") as f:
        second_error = f.read().index(b"26/10/17 03:15:13")
    assert eventlog.count_errors(path, second_error) == 1
    assert eventlog.count_errors(os.path.join(DATA, "missing.log")) == 0
