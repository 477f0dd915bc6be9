"""Structured Streaming variants of the stateful operators.

The reference is batch-only, but its extraction loop is a hand-rolled
micro-batcher: frames pulled lazily (``/root/reference/utils/io.py:109-154``),
window state carried across batches (the I3D rolling stack,
``models/i3d/extract_i3d.py:115-124``; the flow overlap cache,
``utils/io.py:120-126``), results flushed per file, completed work skipped on
restart. Structured Streaming gives each of those a principled form: event-time
windows + watermarks for late data, ``session_window`` for gap sessions,
``dropDuplicatesWithinWatermark`` for the dedup guard, checkpointed state for
restart, and ``applyInPandasWithState`` for the custom rolling-stack state.

All functions take and return streaming DataFrames; callers own the sink
(`writeStream` + checkpointLocation). Tested with file sources +
``trigger(availableNow=True)`` against the batch operators' answers.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _tz(sdf: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (with zone); driver parquet carries NTZ."""
    return sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))


def stream_tumbling_agg(
    sdf: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str,
    window_duration: str,
    watermark: str = "1 hour",
    slide_duration: str | None = None,
) -> DataFrame:
    """Event-time tumbling/sliding aggregation with a watermark: the streaming
    twin of ``operators.windows.tumbling_window_agg`` (same output schema).
    Late rows beyond ``watermark`` are dropped; state is bounded by it."""
    from ..operators.windows import tumbling_window_agg

    return tumbling_window_agg(
        _tz(sdf, ts_col).withWatermark(ts_col, watermark),
        entity_cols,
        ts_col,
        window_duration,
        # decimal accumulate → double after: batch-twin parity must be exact
        # and float sum order varies with state-store merge order
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        ],
        slide_duration,
    )


def stream_sessionize(
    sdf: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessions via native ``session_window`` — the streaming twin of
    ``operators.windows.sessionize`` (which assigns ids; this one emits one row
    per closed session with its span and event count)."""
    return (
        _tz(sdf, ts_col).withWatermark(ts_col, watermark)
        .groupBy(*entity_cols, F.session_window(ts_col, gap).alias("session"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *entity_cols,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup(
    sdf: DataFrame, key_cols: Sequence[str], ts_col: str, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup within the watermark horizon — the streaming twin
    of the reference's skip-if-done guard (keyed, state auto-expired)."""
    return _tz(sdf, ts_col).withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(key_cols))


def stream_near_dup_lookup(
    sdf: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    corpus_id_col: str = "corpus_id",
    corpus_text_col: str = "text",
    watermark: str = "1 hour",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Streaming near-dup screening: each arriving document is MinHash-LSH
    matched against a STATIC indexed corpus and verified by exact set-Jaccard
    — the incremental admission-control form of ``operators.dedup``'s batch
    pipeline (is this new crawl page a near-copy of anything we already
    hold?). The whole chain is append-mode legal: in-row signatures
    (map-only — the r5 explode-free redesign is what makes MinHash possible
    on a stream at all), a stream-static equi-join on (band, band_hash), an
    in-row verify, and ``dropDuplicatesWithinWatermark`` to collapse
    multi-band hits of the same (doc, corpus doc) pair with bounded state.
    Emits (id, ts, corpus_id, jaccard). Batch parity is pinned in
    tests/test_streaming.py."""
    from ..operators.dedup import near_dup_join

    s = _tz(sdf, ts_col).withWatermark(ts_col, watermark)
    matches = near_dup_join(
        s,
        corpus,
        id_left=id_col,
        id_right=corpus_id_col,
        text_left=text_col,
        text_right=corpus_text_col,
        n_hashes=n_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        left_extra_cols=(ts_col,),
    )
    return matches.dropDuplicatesWithinWatermark([id_col, corpus_id_col])


_STATE_SCHEMA = "n long, last_ts timestamp"
_OUT_SCHEMA = "entity_id string, n_so_far long, last_ts timestamp"


def stream_running_entity_state(
    sdf: DataFrame, entity_col: str = "entity_id", ts_col: str = "ts"
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-entity event count + latest event time, emitted every micro-batch —
    the principled version of the reference's cross-batch rolling state
    (rgb_stack retention, extract_i3d.py:119-122)."""

    def update(key, pdfs, state: GroupState):
        n, last = (state.get if state.exists else (0, None))
        for pdf in pdfs:
            n += len(pdf)
            mx = pd.to_datetime(pdf[ts_col]).max()
            last = mx if last is None or mx > last else last
        state.update((n, last))
        yield pd.DataFrame({"entity_id": [str(key[0])], "n_so_far": [n], "last_ts": [last]})

    return sdf.groupBy(entity_col).applyInPandasWithState(
        update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_asof_lookup(
    probes: DataFrame,
    static_features: DataFrame,
    on: Sequence[str],
    left_ts: str = "label_ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] | None = None,
    strict: bool = True,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming point-in-time feature lookup — the streaming twin of
    ``operators.asof.asof_join`` for the stream-probe/static-build case (a
    label stream enriched against a feature-store snapshot).

    The union+window trick the batch join uses is unavailable on a stream
    (non-time window functions are unsupported), so this uses a stream-static
    LEFT join whose condition carries the temporal predicate (key equality AND
    ``build_ts < probe_ts``; unmatched probes keep one null row — the batch
    left-outer contract), then ``max(struct(ts, tiebreak, payload))`` per
    probe: latest ``right_ts`` wins, and exact-ts ties break by the SAME
    ``xxhash64(payload)`` the batch join uses (``_build_tiebreak``), so
    batch and streaming pick the same winner on duplicate-(key, ts) build
    rows. The groupBy keys on EVERY probe column, so distinct probe rows never
    merge — but FULLY-identical duplicate probe rows collapse to one output
    row, unlike the batch operator which preserves them. A synthetic uid
    cannot fix this on a stream (Spark rejects
    ``monotonically_increasing_id``/nondeterministic ids on streaming
    DataFrames): if duplicate probes must survive, carry a unique probe id
    column from the source (an event id, a Kafka offset) — any such column
    rides the groupBy automatically. State is bounded by the watermark on
    probe time.

    Cost note: the pre-aggregation join fans out probe×earlier-builds-per-key
    before the max collapses it — fine when per-key build history is bounded
    (the feature-store case); for unbounded histories, compact the static side
    first (e.g. ``operators.windows.resample``).
    """
    from functools import reduce

    from ..operators.asof import _build_tiebreak

    on = list(on)
    if right_cols is None:
        right_cols = [c for c in static_features.columns if c not in on and c != right_ts]
    right_cols = list(right_cols)
    asof_ts = f"{right_ts}_asof"
    p = _tz(probes, left_ts).withWatermark(left_ts, watermark).alias("__p")
    b = _tz(static_features, right_ts).alias("__b")
    temporal = (
        F.col(f"__b.{right_ts}") < F.col(f"__p.{left_ts}")
        if strict
        else F.col(f"__b.{right_ts}") <= F.col(f"__p.{left_ts}")
    )
    cond = reduce(
        lambda a, c: a & c,
        [F.col(f"__p.{k}") == F.col(f"__b.{k}") for k in on] + [temporal],
    )
    joined = p.join(b, cond, "left")
    probe_cols = [c for c in probes.columns if c not in on and c != left_ts]
    # the batch join's tiebreak hash; struct field order makes max()
    # compare (ts, hash) before any payload field
    payload = F.struct(
        F.col(f"__b.{right_ts}").alias(asof_ts),
        _build_tiebreak([f"__b.{c}" for c in right_cols], f"__b.{right_ts}").alias("__tb"),
        *[F.col(f"__b.{c}").alias(c) for c in right_cols],
    )
    agg = joined.groupBy(
        *[F.col(f"__p.{k}").alias(k) for k in on],
        F.col(f"__p.{left_ts}").alias(left_ts),
        *[F.col(f"__p.{c}").alias(c) for c in probe_cols],
    ).agg(F.max(payload).alias("__best"))
    return agg.select(
        *on, left_ts, *probe_cols,
        *[F.col(f"__best.{c}").alias(c) for c in right_cols],
        F.col(f"__best.{asof_ts}").alias(asof_ts),
    )
