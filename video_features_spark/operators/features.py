"""Image → embedding feature extraction as Arrow-batched Spark operators.

The Spark form of the reference's extraction loop
(``/root/reference/models/_base/base_framewise_extractor.py:47-93``: scan →
transform → batched no_grad forward → accumulate → sink), collapsed into ONE
``mapInPandas`` pass per image: decode (S2) + preprocess (P5) + embed (UDF
surface §2.7) inside a single Arrow batch, so pixels never cross the JVM↔Python
boundary twice and never shuffle.

Error isolation follows the reference's intent but per-row instead of per-file
(``base_extractor.py:29-53`` prints a traceback and skips the whole video): a
bad payload yields ``error`` text and a null embedding; the job never dies and
bad rows are queryable (quarantine pattern).

Scale notes: input partitions carry ~(maxRecordsPerBatch × avg_image_bytes);
`spark.sql.files.maxPartitionBytes` (session.py) keeps tasks bounded. The
operator is embarrassingly parallel — no shuffle, no skew surface; WSCG covers
everything around the Python stage, and column pruning means only (id cols +
bytes [+ caption]) are read from the scan.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, FloatType, IntegerType

from .._worker import cache_zip_directories
from ..functions.codec import decode_image
from ..functions.embed import (
    _model,
    checkpoint_for,
    embed_captions,
    preprocess_and_embed,
)
from ..functions.preprocess import augment_deterministic


def extract_image_features(
    df: DataFrame,
    model_name: str = "clip-small-det",
    id_cols: Sequence[str] = ("image_id", "entity_id", "ts"),
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    precision: str = "fp32",
    augment_seed: int | None = None,
) -> DataFrame:
    """(id cols, bytes, fmt) → (id cols, embedding array<float>, error string).

    ``precision="fp16"`` runs with float16-quantized weights (P20).
    ``augment_seed`` enables seeded deterministic augmentation (P12): each
    row's flip/jitter is a pure function of (augment_seed, first id column),
    so retries/resumes are bit-identical.
    """
    _model(model_name, "image", precision=precision)  # fail fast on the driver
    # captured at plan-build time: python workers don't share driver module
    # state, so the (SparkFiles name, sha256) pin rides the UDF closure
    ckpt = checkpoint_for(model_name)
    id_cols = list(id_cols)
    cols = id_cols + [bytes_col, fmt_col]
    schema_id = ", ".join(f"`{c}` {df.schema[c].dataType.simpleString()}" for c in id_cols)
    out_schema = f"{schema_id}, embedding array<float>, error string"

    # mapInArrow, not mapInPandas (guide §4.2): the kernel work per 2048-row
    # batch is ~0.5 s, and the pandas round-trip around it (arrow→pandas with
    # a bytes copy per cell, per-row iloc, float32→python-list boxing of every
    # embedding, pandas→arrow re-inference) measured ~20-30% on top. Arrow in,
    # arrow out: id columns pass through zero-copy, embeddings leave as ONE
    # flat float32 buffer + offsets, a quarantined row as a null zero-length
    # slot. Values are bit-identical (tolist widened float32→double and the
    # sink narrowed it back — identity round trip).
    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        cache_zip_directories()
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            by_name = {nm: rb.column(i) for i, nm in enumerate(rb.schema.names)}
            blobs = by_name[bytes_col].to_pylist()
            fmts = by_name[fmt_col].to_pylist()
            keys = by_name[id_cols[0]].to_pylist() if augment_seed is not None else None
            errors: list[str | None] = [None] * n
            images: list[np.ndarray | None] = [None] * n
            for i in range(n):
                try:
                    img = decode_image(blobs[i], fmts[i])
                    if augment_seed is not None:
                        key = zlib.crc32(str(keys[i]).encode()) ^ augment_seed
                        img = augment_deterministic(img, key)
                    images[i] = img
                except Exception as e:  # noqa: BLE001 - quarantine, don't die
                    errors[i] = f"{type(e).__name__}: {e}"
            failed = np.array([img is None for img in images], dtype=bool)
            ok_idx = np.flatnonzero(~failed)
            embs = (
                preprocess_and_embed(
                    [images[i] for i in ok_idx], model_name, ckpt, precision
                )
                if len(ok_idx)
                else np.empty((0, 0), np.float32)
            )
            lengths = np.where(failed, 0, embs.shape[1])
            offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
            emb_arr = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(embs.ravel()), mask=pa.array(failed)
            )
            err_arr = pa.array(errors, type=pa.string())
            yield pa.RecordBatch.from_arrays(
                [by_name[c] for c in id_cols] + [emb_arr, err_arr],
                names=id_cols + ["embedding", "error"],
            )

    return df.select(*cols).mapInArrow(run, schema=out_schema)


def embed_caption_column(
    df: DataFrame,
    model_name: str = "clip-small-det",
    caption_col: str = "caption",
    out_col: str = "caption_embedding",
) -> DataFrame:
    """Caption → L2-normalized embedding (CLIP text-tower analog,
    clip_src/model.py:343-356), as a scalar Arrow-batched pandas UDF."""
    _model(model_name, "image")  # fail fast on the driver
    ckpt = checkpoint_for(model_name)

    @F.pandas_udf(ArrayType(FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        cache_zip_directories()
        embs = embed_captions(texts.tolist(), model_name, ckpt)
        return pd.Series([e.tolist() for e in embs])

    return df.withColumn(out_col, _embed(F.col(caption_col)))


def caption_bpe_tokenize(
    df: DataFrame,
    caption_col: str = "caption",
    out_col: str = "token_ids",
    context_length: int = 77,
) -> DataFrame:
    """Full BPE tokenization of captions (P19): byte→unicode map, regex word
    split, greedy rank-ordered pair merging, SOT/EOT framing, fixed-length
    zero-padded output — the reference tokenizer's algorithm
    (simple_tokenizer.py:62-127, clip.py:200-240) over a deterministic trained
    merge table (functions/bpe.py), or over a REAL registered vocabulary
    (``bpe.register_vocab`` — the ``bpe_simple_vocab_16e6`` drop-in seam,
    distributed via SparkFiles + SHA256 like the model weights). The pin is
    captured at plan-build time so every executor resolves + verifies the
    same file. Vocab builds once per executor process."""
    from ..functions.bpe import current_vocab_pin, tokenize

    pin = current_vocab_pin()

    @F.pandas_udf(ArrayType(IntegerType()))
    def _tok(texts: pd.Series) -> pd.Series:
        cache_zip_directories()
        return pd.Series(
            tokenize(texts.tolist(), context_length=context_length, vocab_pin=pin)
        )

    return df.withColumn(out_col, _tok(F.col(caption_col)))


def image_text_similarity(
    df: DataFrame,
    img_col: str = "embedding",
    txt_col: str = "caption_embedding",
    out_col: str = "img_txt_sim",
    logit_scale: float = 100.0,
) -> DataFrame:
    """Per-row image×caption cosine logits — the reference's CLIP zero-shot
    matmul (``extract_clip.py:86-108``, logit_scale * v @ t.T) degenerates to a
    same-row dot product in our keyed data model (SURVEY.md J2). Pure JVM:
    ``F.zip_with`` + ``F.aggregate``, no Python."""
    from .similarity import _dot

    return df.withColumn(out_col, (F.lit(logit_scale) * _dot(img_col, txt_col)).cast("float"))
