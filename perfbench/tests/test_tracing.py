import pytest

import tracing
from tracing import Span, Tracer


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "r")


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "build", 1.0, 3.0, 0),
        _span(2, "action", 2.0, 5.0, 0),  # overlaps build: covered once
        _span(3, "action", 6.0, 7.0, 0),
        _span(4, "load", 1.5, 2.0, 1),  # grandchild: only build loses it
    ]
    got = tracing.self_times(spans)
    assert got["op"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got["build"] == pytest.approx(2.0 - 0.5)
    assert got["action"] == pytest.approx(3.0 + 1.0)
    assert got["load"] == pytest.approx(0.5)


def test_self_times_sum_to_root_duration():
    spans = [
        _span(0, "op", 0.0, 4.0),
        _span(1, "build", 0.5, 1.5, 0),
        _span(2, "action", 1.5, 3.5, 0),
        _span(3, "load", 0.6, 0.9, 1),
    ]
    assert sum(tracing.self_times(spans).values()) == pytest.approx(4.0)


def test_tracer_records_parents_and_run_id():
    tracer = Tracer(enabled=True)
    tracer.run_id = "op-1"
    with tracer.span("op"):
        with tracer.span("build"):
            pass
        tracer.wrap("action", lambda: None)()
    names = [(s.name, s.parent, s.run_id) for s in tracer.spans]
    assert names == [("op", None, "op-1"), ("build", 0, "op-1"), ("action", 0, "op-1")]
    assert all(s.end >= s.start for s in tracer.spans)


def test_disabled_tracer_records_nothing():
    tracer = Tracer(enabled=False)
    with tracer.span("op"):
        tracer.wrap("inner", lambda: None)()
    assert tracer.spans == []


def test_busy_seconds_merges_overlapping_jobs():
    jobs = [tracing.JobStat(0.0, 2.0), tracing.JobStat(1.0, 3.0), tracing.JobStat(5.0, 6.0)]
    assert tracing.busy_seconds(jobs) == pytest.approx(4.0)
    assert tracing.busy_seconds([]) == 0.0


@pytest.mark.parametrize(
    "text, expected",
    [
        ("2.0 MiB", 2 * 2**20),
        ("total (min, med, max (stageId: taskId))\n3.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 1.0: task 2))", 3072),
        ("0.0 B", 0),
        ("", 0),
    ],
)
def test_parse_size_reads_the_total(text, expected):
    assert tracing.parse_size(text) == expected
