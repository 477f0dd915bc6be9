"""Pure aggregation logic of the benchmark (no Spark, no I/O), covered by
``test_stats.py``."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence


def median(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no values")
    return statistics.median(vals)


def iqr_share(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)`` gives
    them: the run-to-run spread the benchmark's bounds are judged against."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def ratio(num: float, den: float) -> float:
    """num / den, or 0.0 when there is nothing to divide by."""
    return num / den if den else 0.0


def skew(counts: Iterable[int]) -> float:
    """Largest ÷ median of per-partition row counts (empty partitions left
    out: AQE drops them, and a zero median says nothing)."""
    vals = [c for c in counts if c > 0]
    return ratio(max(vals), median(vals)) if vals else 0.0


def kernel_share(decode_us: float, embed_us: float, rows: int, cores: int, self_s: float) -> float:
    """Share of the extract stage's self time that the decode and embed
    kernels account for when ``rows`` images run on ``cores`` cores; the rest
    is the Python boundary, worker start-up and waiting for batches."""
    return ratio((decode_us + embed_us) * 1e-6 * rows / cores, self_s)


def self_times(spans: Sequence) -> dict[int, float]:
    """span id → duration minus the durations of its direct children.

    Children either run inside the parent's interval (time spans) or are
    separate materializations of a sub-plan the parent's materialization
    also computes (see ``trace``); both subtract the same way."""
    child_sum: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_sum[s.parent] = child_sum.get(s.parent, 0.0) + s.duration
    return {s.id: s.duration - child_sum.get(s.id, 0.0) for s in spans}


def by_name(spans: Sequence, values: dict[int, float] | None = None) -> dict[str, float]:
    """Median over iterations of each span name's duration (or of the given
    per-span ``values``)."""
    grouped: dict[str, list[float]] = {}
    for s in spans:
        grouped.setdefault(s.name, []).append(values[s.id] if values else s.duration)
    return {name: median(v) for name, v in grouped.items()}


def summarize(iterations: Sequence[dict]) -> dict[str, float]:
    """Figures of one run from its iteration records
    ``{"wall_s", "cpu_s", "rows", "ok", "traced"}``; the first is the cold
    iteration.

    Throughputs are medians over the untraced warm iterations that passed
    their check: ``rows_per_cpu_s`` per CPU second of the process tree,
    ``rows_per_s`` per wall second. ``ok_ratio`` counts every iteration."""
    if not iterations:
        raise ValueError("no iterations")
    warm = [it for it in iterations[1:] if it["ok"] and not it.get("traced")]
    ok = sum(1 for it in iterations if it["ok"])
    return {
        "cold_s": iterations[0]["wall_s"],
        "cold_cpu_s": iterations[0]["cpu_s"],
        "rows_per_s": median(it["rows"] / it["wall_s"] for it in warm) if warm else 0.0,
        "rows_per_cpu_s": median(it["rows"] / it["cpu_s"] for it in warm) if warm else 0.0,
        "ok_ratio": ok / len(iterations),
        "failed_ratio": 1 - ok / len(iterations),
    }
