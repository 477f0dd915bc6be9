"""Audio feature extraction: WAV demux → mono mixdown → log-mel examples →
deterministic VGGish-style embedding, as one Arrow-batched ``mapInPandas`` pass.

Spark form of the reference's VGGish chain (S5/S6/P17/A6/W5 in SURVEY §2):
ffmpeg demux + wav read (``/root/reference/models/vggish/extract_vggish.py:42-57``,
``utils/utils.py:104-132``), mono mixdown and 0.96 s log-mel examples
(``vggish_src/vggish_input.py:53-70``), mel matmul
(``vggish_src/mel_features.py:200-221``), 128-d embedding
(``vggish_src/vggish_slim.py``; the ``vggish-det`` model in
``functions/embed.py``'s registry, with the same weight cache and projection
head as the image and pair encoders).

Same scale shape as the image pipeline: map-only (no shuffle), column-pruned
scan, per-row independence ⇒ bit-identical output under any partitioning.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .._worker import cache_zip_directories
from ..functions.embed import _head, _model
from ..functions.wav import demux_audio, logmel_examples, mono_mixdown


def embed_examples(examples: np.ndarray, model_name: str = "vggish-det") -> np.ndarray:
    """(n, 96, 64) log-mel examples → (n, 128) L2-normalized float32 through
    the shared embed head (bit-equal under any batching)."""
    spec, w = _model(model_name, "audio")
    if not len(examples):
        return np.empty((0, spec.dim), np.float32)
    return _head(examples.reshape(len(examples), -1).astype(np.float32), w)


def extract_audio_features(
    df: DataFrame,
    model_name: str = "vggish-det",
    id_cols: Sequence[str] = ("clip_id", "entity_id", "ts"),
    audio_col: str = "audio",
) -> DataFrame:
    """(id cols, audio bytes — RIFF/WAVE or mp4-wrapped PCM16, sniffed by
    magic via ``wav.demux_audio``) → one row per 0.96 s example:
    (id cols, example_idx, embedding array<float>, error string).

    Clips too short for a full example emit a single quarantine-style row
    (example_idx null, error 'too_short') so no input disappears silently —
    the reference's skip-on-missing becomes a queryable fact (S10 pattern).
    """
    _model(model_name, "audio")  # fail fast on the driver
    id_cols = list(id_cols)
    schema_id = ", ".join(f"`{c}` {df.schema[c].dataType.simpleString()}" for c in id_cols)
    out_schema = f"{schema_id}, example_idx int, embedding array<float>, error string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache_zip_directories()
        for b in batches:
            # decode + frame per row, but run ONE embed over the whole Arrow
            # batch's concatenated examples: the fixed-tile matmul pads every
            # call to whole 1024-row GEMM tiles, so per-clip calls (1-3
            # examples each) pay ~the whole tile per row — batching is far
            # cheaper and bit-identical (per-row independence is the tile's
            # contract)
            rows = []
            pending: list = []  # (row_in_rows, n_examples) for embed backfill
            ex_all: list = []
            for i in range(len(b)):
                ids = tuple(b[c].iloc[i] for c in id_cols)
                try:
                    pcm, sr = demux_audio(bytes(b[audio_col].iloc[i]))
                    mono = mono_mixdown(pcm)
                    ex = logmel_examples(mono, sr)
                    if not len(ex):
                        rows.append((*ids, None, None, "too_short"))
                        continue
                    pending.append((len(rows), len(ex), ids))
                    ex_all.append(ex)
                    for j in range(len(ex)):
                        rows.append((*ids, j, None, None))
                except Exception as e:  # noqa: BLE001 - quarantine, don't die
                    rows.append((*ids, None, None, f"{type(e).__name__}: {e}"))
            if ex_all:
                embs = embed_examples(np.concatenate(ex_all), model_name)
                k = 0
                for start, n_ex, ids in pending:
                    for j in range(n_ex):
                        rows[start + j] = (*ids, j, embs[k].tolist(), None)
                        k += 1
            yield pd.DataFrame(
                rows, columns=id_cols + ["example_idx", "embedding", "error"]
            )

    return df.select(*id_cols, audio_col).mapInPandas(run, schema=out_schema)
