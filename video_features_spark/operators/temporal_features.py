"""Temporal feature operators over per-entity image/embedding sequences:
consecutive-pair features (the optical-flow pattern), stack mean-pooling (the
S3D/I3D clip-embedding pattern), and zero-shot classification (the CLIP
image×text pattern).

These are the three reference operator families that consume *sequences*, not
single rows — re-expressed so the windowing lives in DataFrame land (the
reference hand-rolls it inside its batcher and needs an overlap cache,
reference ``utils/io.py:120-126``, to avoid losing pairs at batch boundaries;
``F.lead`` makes that problem not exist).

The three pair operators (``consecutive_pair_features``,
``consecutive_pair_embeddings``, ``consecutive_pair_flow_fields``) share ONE
pairing path, ``_consecutive_pairs``: lead window → one Arrow pass that
decodes both frames of every pair (a decode failure quarantines that pair) →
the operator's kernel over the whole batch of decoded pairs. Each operator is
only its kernel.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .._worker import cache_zip_directories
from ..functions.codec import decode_image

# decoded frames a, decoded frames b → one result per pair: a tuple of output
# values (one per out column), or the exception that quarantines that pair
PairKernel = Callable[[list, list], list]


def _consecutive_pairs(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    bytes_col: str,
    fmt_col: str,
    out_cols: Sequence[tuple[str, str]],
    kernel: PairKernel,
) -> DataFrame:
    """Pair every image with its entity's NEXT image (``F.lead`` over entity
    ORDER BY ts — pairs form across any partitioning; the last frame of each
    entity has no successor and is dropped: T frames → T-1 pairs, as the
    reference's flow extraction) and run ``kernel`` over the decoded pairs of
    each Arrow batch in ONE call (batch-level model calls keep the fixed-tile
    matmul's 1024-row tile padding amortized). A pair whose decode fails, or for
    which the kernel returns an exception, gets null ``out_cols`` and
    ``error = "<ExceptionClass>: <message>"`` (S10 quarantine).

    Output: (entity, ts, next_ts timestamp, *out_cols, error string)."""
    w = Window.partitionBy(entity_col).orderBy(ts_col)
    paired = (
        df.select(entity_col, ts_col, bytes_col, fmt_col)
        .withColumn("__nb", F.lead(bytes_col).over(w))
        .withColumn("__nf", F.lead(fmt_col).over(w))
        .withColumn("__nts", F.lead(ts_col).over(w))
        .filter(F.col("__nb").isNotNull())
    )
    id_schema = ", ".join(
        f"`{c}` {df.schema[c].dataType.simpleString()}" for c in (entity_col, ts_col)
    )
    out_schema = ", ".join(
        [id_schema, "next_ts timestamp"] + [f"{c} {t}" for c, t in out_cols] + ["error string"]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache_zip_directories()
        for b in batches:
            results: list = [None] * len(b)
            fa, fb, ok = [], [], []
            for i in range(len(b)):
                try:
                    a = decode_image(bytes(b[bytes_col].iloc[i]), b[fmt_col].iloc[i])
                    nxt = decode_image(bytes(b["__nb"].iloc[i]), b["__nf"].iloc[i])
                except Exception as e:  # noqa: BLE001 - quarantine
                    results[i] = e
                    continue
                fa.append(a)
                fb.append(nxt)
                ok.append(i)
            if ok:
                for i, r in zip(ok, kernel(fa, fb), strict=True):
                    results[i] = r
            out = b[[entity_col, ts_col]].copy()
            out["next_ts"] = b["__nts"].values
            for j, (c, _) in enumerate(out_cols):
                out[c] = [None if isinstance(r, Exception) else r[j] for r in results]
            out["error"] = [
                f"{type(r).__name__}: {r}" if isinstance(r, Exception) else None
                for r in results
            ]
            yield out

    return paired.mapInPandas(run, schema=out_schema)


def _per_pair(fn: Callable[[np.ndarray, np.ndarray], tuple]) -> PairKernel:
    """A batch kernel from a per-pair function; an exception it raises
    quarantines that pair only."""

    def kernel(fa: list, fb: list) -> list:
        out = []
        for a, nxt in zip(fa, fb):
            try:
                out.append(fn(a, nxt))
            except Exception as e:  # noqa: BLE001 - quarantine
                out.append(e)
        return out

    return kernel


def _pair_metrics(a: np.ndarray, nxt: np.ndarray) -> tuple[float, float]:
    if a.shape != nxt.shape:
        raise ValueError(f"shape mismatch {a.shape} vs {nxt.shape}")
    diff = np.abs(a.astype(np.int16) - nxt.astype(np.int16))
    return float(diff.mean()), float((diff.max(axis=2) > 8).mean())


def consecutive_pair_features(
    df: DataFrame,
    entity_col: str = "entity_id",
    ts_col: str = "ts",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Pair every image with its entity's NEXT image and compute pair features
    (mean absolute pixel motion, changed-pixel fraction) — the relational form
    of the reference's flow extraction: ``model(batch[:-1], batch[1:])`` with
    an overlap=1 batch cache (``models/_base/base_flow_extractor.py:78-84``,
    ``utils/io.py:120-126``). Pairs with mismatched shapes (the entity
    changed resolution mid-stream) yield null features + an ``error``.
    Output: (entity, ts, next_ts, mean_abs_motion, changed_frac, error)."""
    return _consecutive_pairs(
        df, entity_col, ts_col, bytes_col, fmt_col,
        [("mean_abs_motion", "double"), ("changed_frac", "double")],
        _per_pair(_pair_metrics),
    )


def consecutive_pair_embeddings(
    df: DataFrame,
    model_name: str = "raft-small-det",
    entity_col: str = "entity_id",
    ts_col: str = "ts",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    precision: str = "fp32",
) -> DataFrame:
    """Pair every image with its entity's next image and run the TWO-INPUT
    model head over each pair — the reference's flow-model architecture
    (``models/raft/raft_src/raft.py:118-177``: ``model(img_t, img_t+1)`` in
    one forward) behind the same embed registry, weight cache and head as the
    single-frame encoders. The model must be a pair model (checked on the
    driver). One ``preprocess_and_embed_pairs`` call per Arrow batch.
    Mixed-size pairs are legal (both frames resize through the model's
    preprocess first).
    Output: (entity, ts, next_ts, embedding array<float>, error string)."""
    from ..functions.embed import _model, preprocess_and_embed_pairs

    _model(model_name, "pair", precision=precision)  # fail fast on the driver

    def kernel(fa: list, fb: list) -> list:
        vecs = preprocess_and_embed_pairs(fa, fb, model_name, precision)
        return [(v.tolist(),) for v in vecs]

    return _consecutive_pairs(
        df, entity_col, ts_col, bytes_col, fmt_col, [("embedding", "array<float>")], kernel
    )


def consecutive_pair_flow_fields(
    df: DataFrame,
    grid: int = 8,
    entity_col: str = "entity_id",
    ts_col: str = "ts",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Pair every image with its entity's next image and emit a DENSE coarse
    flow field per pair — the reference's RAFT *output* semantics (a 2-channel
    motion grid per consecutive pair, ``raft_src/raft.py:118-177``), where
    ``consecutive_pair_embeddings`` matches only its two-input *architecture*
    shape. The field is ``functions.flow.pair_flow_field`` flattened to
    ``array<float>`` of length ``2*grid*grid`` in (channel, row, col) order;
    a frame smaller than the grid quarantines its pair."""
    from ..functions.flow import pair_flow_field

    return _consecutive_pairs(
        df, entity_col, ts_col, bytes_col, fmt_col, [("flow", "array<float>")],
        _per_pair(lambda a, nxt: (pair_flow_field(a, nxt, grid).ravel().tolist(),)),
    )


def stack_mean_pool(
    df: DataFrame,
    entity_col: str = "entity_id",
    ts_col: str = "ts",
    emb_col: str = "embedding",
    stack_size: int = 8,
    step_size: int = 4,
    max_group_rows: int = 100_000,
) -> DataFrame:
    """Clip-level embeddings: slide a window of ``stack_size`` frame embeddings
    per entity (advance ``step_size``, complete stacks only) and mean-pool each
    stack into one vector — the S3D semantics (``s3d_src/s3d.py:35-48``: pool
    over the stack then mean; stack framing per ``form_slices``,
    ``utils/utils.py:62-71``; emitted ts = last frame of the stack, matching
    I3D's fire-at-stack-full timestamp, ``extract_i3d.py:115-124``).

    Implementation: per-entity cogroup-free ``applyInPandas`` (one group = one
    entity; embedding stacking is a dense numpy op, the exact case grouped-map
    UDFs exist for). Entities are independent → embarrassingly parallel."""
    out_schema = (
        f"`{entity_col}` {df.schema[entity_col].dataType.simpleString()}, "
        f"stack_start_idx int, stack_ts timestamp, stack_embedding array<float>"
    )

    def pool(pdf: pd.DataFrame) -> pd.DataFrame:
        cache_zip_directories()
        # one group = one entity's full history in one task; a runaway entity
        # would OOM the executor silently — fail loudly with the culprit instead
        if len(pdf) > max_group_rows:
            raise ValueError(
                f"entity {pdf[entity_col].iloc[0]!r} has {len(pdf)} rows > "
                f"max_group_rows={max_group_rows}; pre-window or raise the cap"
            )
        pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        rows = []
        embs = np.array(pdf[emb_col].tolist(), dtype=np.float32) if n else None
        for start in range(0, n - stack_size + 1, step_size):
            stack = embs[start : start + stack_size]
            rows.append(
                (
                    pdf[entity_col].iloc[0],
                    start,
                    pdf[ts_col].iloc[start + stack_size - 1],
                    stack.mean(axis=0).astype(np.float32).tolist(),
                )
            )
        return pd.DataFrame(
            rows, columns=[entity_col, "stack_start_idx", "stack_ts", "stack_embedding"]
        )

    return df.select(entity_col, ts_col, emb_col).groupBy(entity_col).applyInPandas(
        pool, schema=out_schema
    )


def zero_shot_classify(
    image_feats: DataFrame,
    class_captions: Sequence[str],
    model_name: str = "clip-small-det",
    id_col: str = "image_id",
    emb_col: str = "embedding",
    logit_scale: float = 100.0,
    top_k: int = 5,
) -> DataFrame:
    """CLIP zero-shot classification: every image embedding against every class
    caption embedding — ``logit_scale * v @ t.T`` then top-k
    (``models/clip/extract_clip.py:86-108``; top-5 print at
    ``utils/utils.py:40-46``). The class table is tiny → computed driver-side
    once, broadcast-joined; per-row softmax over classes in JVM expressions."""
    from ..functions.embed import embed_captions
    from .similarity import _dot

    spark = image_feats.sparkSession
    cls_emb = embed_captions(list(class_captions), model_name)
    cls_df = spark.createDataFrame(
        [(i, c, e.tolist()) for i, (c, e) in enumerate(zip(class_captions, cls_emb))],
        "class_id int, class_caption string, class_embedding array<float>",
    )
    logit = F.lit(logit_scale) * _dot(emb_col, "class_embedding")
    scored = image_feats.crossJoin(F.broadcast(cls_df)).select(
        id_col, "class_id", "class_caption", logit.alias("logit")
    )
    # softmax over ALL classes (reference softmaxes the full logit row before
    # ranking, extract_clip.py:100-104) — normalizing after the top-k filter
    # would inflate probs whenever top_k < n_classes. Both windows share the
    # id_col partitioning, so the rank sort rides the same exchange.
    wsum = Window.partitionBy(id_col)
    probs = scored.withColumn(
        "prob", F.exp(F.col("logit") - F.max("logit").over(wsum))
        / F.sum(F.exp(F.col("logit") - F.max("logit").over(wsum))).over(wsum),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("logit"), F.asc("class_id"))
    return probs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= top_k)
