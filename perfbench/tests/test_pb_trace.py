"""Self-time arithmetic, span nesting and the pinned trace schema."""

import json

import pytest

from benchlib.stats import geomean, median, percentile, tail_percentile
from benchlib.trace import COUNTER_FIELDS, SPAN_FIELDS, Span, Tracer, covered, self_times


def span(i, parent, start, end, layer="x"):
    return Span(i, f"s{i}", layer, parent, "r", start, end)


def test_covered_merges_overlaps_and_gaps():
    assert covered([]) == 0
    assert covered([(0, 1), (2, 3)]) == 2
    assert covered([(0, 2), (1, 3)]) == 3
    assert covered([(1, 3), (0, 5), (6, 7)]) == 6


def test_self_time_subtracts_union_of_children():
    spans = [
        span(1, None, 0.0, 10.0),
        span(2, 1, 1.0, 4.0),
        span(3, 1, 3.0, 6.0),  # overlaps span 2: union 1..6 = 5
        span(4, 2, 1.5, 2.0),  # grandchild: counts against span 2 only
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_self_time_clips_children_to_parent():
    st = self_times([span(1, None, 0.0, 2.0), span(2, 1, 1.0, 5.0)])
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(4.0)


def test_tracer_nesting_and_layer_self_time():
    tr = Tracer("run-1")
    with tr.span("outer", "a") as outer:
        with tr.span("inner", "b") as inner:
            pass
    assert inner.parent == outer.span_id
    assert outer.parent is None
    assert {s.run_id for s in tr.spans} == {"run-1"}
    by_layer = tr.self_time_by_layer()
    assert by_layer["a"] + by_layer["b"] == pytest.approx(outer.duration)


def test_disabled_tracer_records_nothing():
    tr = Tracer("run-1", enabled=False)
    with tr.span("x", "a") as s:
        assert s is None
    assert tr.spans == []


def test_trace_schema_is_pinned(tmp_path):
    assert SPAN_FIELDS == ("span_id", "name", "layer", "parent", "run_id", "start", "end", "counters")
    assert COUNTER_FIELDS == (
        "jobs", "stages", "tasks", "task_s", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
    )
    tr = Tracer("run-2")
    with tr.span("a", "l"):
        with tr.span("b", "l"):
            pass
    out = tmp_path / "spans.jsonl"
    tr.dump(str(out))
    lines = [json.loads(x) for x in out.read_text().splitlines()]
    assert len(lines) == 2
    for rec in lines:
        assert tuple(sorted(rec)) == tuple(sorted(SPAN_FIELDS))
    assert lines[0]["parent"] == lines[1]["span_id"]  # inner closes first


def test_summary_statistics():
    assert median([3, 1, 2]) == 2
    assert percentile([1, 2, 3, 4, 5], 50) == 3
    assert percentile(list(range(101)), 90) == pytest.approx(90)
    assert geomean([1, 100]) == pytest.approx(10)
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    assert tail_percentile(20) == 50
    assert tail_percentile(5) is None


def test_span_counters_see_every_job_of_the_span():
    """The counters are read after the listener bus is drained, so a
    span holding one two-task job always reports exactly that job."""
    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from finance_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test")
    tr = Tracer("run-3", spark)
    for _ in range(10):
        with tr.span("count", "l") as s:
            spark.sparkContext.parallelize(range(8), 2).count()
        assert (s.counters["jobs"], s.counters["stages"], s.counters["tasks"]) == (1, 1, 2)
