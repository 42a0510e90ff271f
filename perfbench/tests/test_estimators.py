"""The tail rule and the span self-time arithmetic."""

import math

import pytest

from perfbench import stats, tracing
from perfbench.tracing import Span


@pytest.mark.parametrize(
    "n, percentile",
    [
        (5, 50.0),  # too few even for the median: flagged by its percentile
        (19, 50.0),
        (20, 50.0),  # rank 10, ten beyond
        (32, 68.75),  # rank 22
        (40, 75.0),  # rank 30
        (100, 90.0),
        (1000, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_picks_highest_percentile_with_ten_beyond(n, percentile):
    values = list(range(1, n + 1))[::-1]  # unsorted input
    v, p, count = stats.tail(values)
    assert (p, count) == (percentile, n)
    # nearest rank: values are 1..n, so the value is its own rank
    assert v == math.ceil(round(p * n / 100, 6))
    assert sum(1 for x in values if x > v) >= 10 or n < 20


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        stats.tail([])


def test_typical_latency_weighs_each_type_by_its_median():
    samples = [("a", 1.0), ("a", 9.0), ("a", 2.0), ("b", 4.0), ("b", 4.0), ("b", 4.0), ("b", 100.0)]
    # medians 2 and 4; the plain median of the seven samples would be 4
    assert stats.typical_latency(samples) == pytest.approx(math.sqrt(2.0 * 4.0))
    assert stats.typical_latency([("a", 0.5)]) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        stats.typical_latency([])


def _span(sid, parent, layer, start, end):
    return Span(sid=sid, parent=parent, rid=0, layer=layer, name="x", start=start, end=end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, "index", 0.0, 10.0),
        _span(2, 1, "search", 1.0, 3.0),
        _span(3, 1, "search", 2.0, 5.0),  # overlaps span 2: counted once
        _span(4, 1, "streaming", 7.0, 8.0),
        _span(5, 3, "search", 2.5, 4.0),
    ]
    st = tracing.self_times(spans)
    assert st[1] == pytest.approx(10.0 - (4.0 + 1.0))
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0 - 1.5)
    assert st[5] == pytest.approx(1.5)
    layers = tracing.layer_self_times(spans)
    assert layers["index"] == pytest.approx(5.0)
    assert layers["search"] == pytest.approx(2.0 + 1.5 + 1.5)
    assert layers["streaming"] == pytest.approx(1.0)


def test_child_outside_parent_is_clipped():
    spans = [_span(1, None, "index", 0.0, 2.0), _span(2, 1, "search", 1.0, 5.0)]
    assert tracing.self_times(spans)[1] == pytest.approx(1.0)


def test_coverage_counts_top_level_union_only():
    spans = [
        _span(1, None, "index", 0.0, 4.0),
        _span(2, 1, "search", 1.0, 9.0),  # a child never adds coverage
        _span(3, None, "search", 3.0, 6.0),
        _span(4, None, "search", 8.0, 12.0),  # clipped to the window
    ]
    assert tracing.coverage(spans, 0.0, 10.0) == pytest.approx((6.0 + 2.0) / 10.0)


def test_tracer_records_parent_and_request_ids():
    tr = tracing.Tracer(True)
    with tr.span("search", "query", rid=7):
        with tr.span("search", "plan"):
            pass
    plan, query = tr.spans
    assert (plan.parent, plan.rid) == (query.sid, 7)
    assert query.parent is None
    off = tracing.Tracer(False)
    with off.span("search", "query") as sp:
        assert sp is None
    assert off.spans == []


def _job(span, submitted_ms, tasks):
    j = {"id": 0, "submitted_ms": submitted_ms, "span": span, "stages": 1}
    j.update({k: 0.0 for k in tracing.STAGE_FIELDS}, tasks=tasks)
    return j


def test_jobs_go_to_their_tagged_span_else_to_the_open_one():
    tr = tracing.Tracer(True)
    tr.spans = [
        _span(1, None, "search", 0.0, 1.0),
        _span(2, 1, "search", 0.2, 0.8),
        _span(3, None, "search", 1.0, 2.0),  # opens as span 1 closes
    ]
    ms = tr.epoch_ms
    jobs = [
        _job(1, ms(0.9995), 1),  # tagged: span 1, though within 1 ms of span 3
        _job(3, ms(1.0), 10),
        _job(None, ms(1.5), 100),  # untagged (an engine thread): span 3 is open
        _job(None, ms(2.5), 1000),  # after every span: nowhere
    ]
    tracing.attribute_jobs(tr, jobs)
    one, child, three = tr.spans
    assert (one.attrs["spark"]["jobs"], one.attrs["spark"]["tasks"]) == (1, 1.0)
    assert (three.attrs["spark"]["jobs"], three.attrs["spark"]["tasks"]) == (2, 110.0)
    assert "spark" not in child.attrs
