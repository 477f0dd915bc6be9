"""Self-tests of the benchmark's pure logic (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import statistics

import pytest

from stats import (
    by_name, iqr_share, kernel_share, median, ratio, self_times, skew, summarize,
)
from tracing import Span, Tracer


def test_median_odd_even_and_empty():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_iqr_share_matches_statistics_quantiles():
    vals = [9.0, 10.0, 10.5, 11.0, 10.2, 9.8, 10.1, 12.0, 9.9, 10.3]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert iqr_share(vals) == pytest.approx((q3 - q1) / statistics.median(vals))
    assert iqr_share([5.0] * 10) == 0.0


def test_ratio_and_skew():
    assert ratio(3, 4) == 0.75
    assert ratio(3, 0) == 0.0
    # empty partitions are left out; max over median of the rest
    assert skew([0, 10, 10, 40]) == 4.0
    assert skew([0, 0]) == 0.0


def test_kernel_share():
    # 1000 images × 1000 µs on 4 cores = 0.25 s of kernel work in 0.5 s
    assert kernel_share(600.0, 400.0, 1000, 4, 0.5) == pytest.approx(0.5)
    assert kernel_share(600.0, 400.0, 1000, 4, 0.0) == 0.0


def _span(id_, start, end, parent=None, name=None):
    return Span(id_, 0, name or f"s{id_}", start, end, parent)


def test_self_time_of_nested_time_spans():
    # a 10 s span whose children ran inside it for 2 s and 3 s
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0), _span(2, 4.0, 7.0, 0),
             _span(3, 4.5, 5.0, 2)]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(0.5)


def test_self_time_of_materialization_spans():
    # build (8 s) computes extract (5 s), which computes the scan (1 s); each
    # was materialized on its own, after the other
    spans = [_span(0, 0.0, 8.0, name="build"), _span(1, 8.0, 13.0, 0, "extract"),
             _span(2, 13.0, 14.0, 1, "scan")]
    st = by_name(spans, self_times(spans))
    assert st == pytest.approx({"build": 3.0, "extract": 4.0, "scan": 1.0})


def test_tracer_records_parents_and_restores_patches():
    import json as target_module

    tracer = Tracer()
    tracer.iteration = 7
    original = target_module.dumps
    with tracer.patched([("json", "dumps", "json.dumps")]), tracer.span("iteration") as top:
        target_module.dumps({})
        tracer.count(rows=3)
    assert target_module.dumps is original
    child = tracer.timed("probe", lambda: None, parent=top)
    names = {s.name: s for s in tracer.spans}
    assert names["json.dumps"].parent == top.id
    assert child.parent == top.id
    assert top.counts == {"rows": 3}
    assert all(s.iteration == 7 for s in tracer.spans)


def test_by_name_takes_the_median_over_iterations():
    spans = [Span(0, 0, "a", 0.0, 1.0), Span(1, 1, "a", 0.0, 3.0), Span(2, 2, "a", 0.0, 2.0)]
    assert by_name(spans) == {"a": 2.0}


def test_summarize_cold_warm_and_failures():
    its = [
        {"wall_s": 10.0, "cpu_s": 30.0, "rows": 100, "ok": True},   # cold
        {"wall_s": 2.0, "cpu_s": 5.0, "rows": 100, "ok": True},
        {"wall_s": 4.0, "cpu_s": 4.0, "rows": 100, "ok": True},
        {"wall_s": 1.0, "cpu_s": 1.0, "rows": 100, "ok": False},  # failed: no sample
        {"wall_s": 0.5, "cpu_s": 1.0, "rows": 100, "ok": True, "traced": True},  # not timed
    ]
    s = summarize(its)
    assert s["cold_s"] == 10.0
    assert s["cold_cpu_s"] == 30.0
    assert s["rows_per_s"] == pytest.approx(37.5)  # median of 50 and 25
    assert s["rows_per_cpu_s"] == pytest.approx(22.5)  # median of 20 and 25
    assert s["ok_ratio"] == 0.8
    assert s["failed_ratio"] == pytest.approx(0.2)
    with pytest.raises(ValueError):
        summarize([])
