"""Tests of the event-log parser and span roll-up, on a captured log.

    python3 -m pytest perfbench/test_tracing.py -q

``testdata/two_stage_mapinarrow.jsonl`` is the event log of one real query
(``testdata/capture_eventlog.py``): stage 0 runs ``mapInArrow`` and writes
a shuffle, stage 2 reads it and returns the aggregate; both jobs carry the
job group ``q/p0/agg/exec``.
"""

from __future__ import annotations

import os

import pytest

import tracing

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "two_stage_mapinarrow.jsonl")
GROUP = "q/p0/agg/exec"


@pytest.fixture(scope="module")
def parsed():
    return tracing.parse_event_log(LOG)


def _spans(jobs, stages):
    """A pass span around an operation whose exec span owns the job group,
    plus an unrelated build span that opens and closes before any stage."""
    t0 = min(j.submit for j in jobs) - 0.05
    t1 = max(s.complete for s in stages) + 0.05
    return [
        tracing.Span("pass0", "pass", t0 - 1.0, t1 + 1.0, attrs={"pass_no": 0}),
        tracing.Span("agg", "op", t0 - 0.1, t1, parent=0, attrs={"pass_no": 0, "op": "agg"}),
        tracing.Span("build", "build", t0 - 0.1, t0 - 0.05, parent=1, group="q/p0/agg/build"),
        tracing.Span("exec", "exec", t0, t1, parent=1, group=GROUP, attrs={"pass_no": 0, "op": "agg"}),
    ]


def test_parse_two_stage_query(parsed):
    jobs, stages = parsed
    assert [j.group for j in jobs] == [GROUP, GROUP]
    assert len(stages) == 2
    first, second = stages
    assert first.submit < first.complete <= second.submit < second.complete
    assert first.shuffle_write > 0 and first.shuffle_write == second.shuffle_read
    assert first.input_rows == 1000
    assert first.tasks == 2
    assert all(s.group == GROUP for s in stages)


def test_python_stage_attribution(parsed):
    _, stages = parsed
    assert [s.python for s in stages] == [True, False]
    assert stages[0].run_s > 0


def test_job_group_mapping(parsed):
    jobs, stages = parsed
    spans = _spans(jobs, stages)
    tracing.attribute(spans, jobs, stages)
    assert {x.span for x in [*jobs, *stages]} == {3}


def test_unknown_group_falls_back_to_innermost_open_span(parsed):
    jobs, stages = parsed
    spans = _spans(jobs, stages)
    spans[3].group = "some/other/group"
    tracing.attribute(spans, jobs, stages)
    assert {x.span for x in [*jobs, *stages]} == {3}
    spans[3].end = spans[3].start  # the exec span closed: the op span is innermost
    tracing.attribute(spans, jobs, stages)
    assert {x.span for x in [*jobs, *stages]} == {1}


def test_per_operation_layer_split(parsed):
    import layers

    jobs, stages = parsed
    spans = _spans(jobs, stages)
    tracing.attribute(spans, jobs, stages)
    row = layers._op_rows(spans, jobs, stages)[(0, "agg")]
    assert (row["jobs"], row["stages"], row["tasks"]) == (2, 2, 3)
    assert row["python_share"] == pytest.approx(stages[0].run_s / (stages[0].run_s + stages[1].run_s))
    assert row["layer"] == "functions"


def test_interval_union():
    iv = [(0.0, 3.0), (2.0, 6.0), (9.0, 12.0)]
    assert tracing.union_length(iv) == pytest.approx(9.0)
    assert tracing.union_length(tracing.clip(iv, 1.0, 10.0)) == pytest.approx(6.0)
