"""Deterministic, distributed synthetic image+caption table generator.

Produces the BASELINE.json ``input_hint`` table
``(image_id string, bytes binary, w int, h int, fmt string, caption string,
phash long)`` plus the temporal columns the north rule needs
(``entity_id string, ts timestamp``), and a matching ``labels`` probe table.

Every row is a pure function of ``(seed, row_id)`` — generation happens inside
``mapInPandas`` over ``spark.range(n)``, so it parallelizes to any cluster size
with zero driver data movement and is bit-identical at any partitioning (the
sandbox stand-in for "read an Iceberg snapshot of 10^12 rows").

Skew is built in deliberately: images derive from a small set of base patterns
chosen with a heavy-tailed distribution and perturbed with low-amplitude noise,
so ``phash`` (computed for real from the pixels) has hot buckets covering ~30%
of rows — this forces the salting path of the as-of join and makes
phash-sessionization non-trivial (FIXTURES.md §1).
"""

from __future__ import annotations

import html
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.codec import encode_image, encode_png
from ..functions.phash import average_hash

SEED = 42
_N_BASES = 16
_SIZES_W = np.array([32, 48, 64, 97])  # non-multiple-of-8 included (FIXTURES.md)
_SIZES_H = np.array([32, 48, 64, 101])
_EPOCH = pd.Timestamp("2024-01-01")
_WORDS = (
    "orange cat sits on a warm windowsill sunset over mountains blue bicycle "
    "leaning against brick wall children playing football in the rain vintage "
    "car parked near café fresh bread on wooden table lighthouse storm waves "
    "garden tulips naïve café résumé emoji 🌊 🐈"
).split()
_HTML_BITS = ["&amp;", "&lt;3", "&quot;hi&quot;"]

IMAGES_SCHEMA = (
    "image_id string, entity_id string, ts timestamp, bytes binary, "
    "w int, h int, fmt string, caption string, phash long"
)
LABELS_SCHEMA = "entity_id string, label_ts timestamp, label double"


def _base_pattern(base_idx: int, h: int, w: int) -> np.ndarray:
    """Deterministic structured pattern per base index (gradients + waves),
    stable across sizes so near-dups of one base share a phash."""
    rng = np.random.default_rng(1_000_003 * (base_idx + 1))
    fx, fy, ph = rng.uniform(1, 4, 3)
    amp = rng.uniform(60, 100)
    yy, xx = np.mgrid[0:h, 0:w]
    yn, xn = yy / max(h - 1, 1), xx / max(w - 1, 1)
    chans = []
    for c in range(3):
        off = rng.uniform(0, 2 * np.pi)
        img = 120 + amp * np.sin(2 * np.pi * (fx * xn + fy * yn * (c + 1) / 2) + ph + off) \
            + 40 * (xn - yn)
        chans.append(img)
    return np.clip(np.stack(chans, axis=-1), 0, 255).astype(np.uint8)


def _row(seed: int, rid: int, n_entities: int, caption_null_rate: float) -> tuple:
    rng = np.random.default_rng((seed << 34) ^ rid)
    entity = rid % n_entities
    seq = rid // n_entities
    ts = _EPOCH + pd.Timedelta(seconds=seq * 600 + int(rng.integers(0, 300)))
    # heavy-tailed base choice: bases 0/1 are hot (~30% of rows together)
    u = rng.random()
    base = 0 if u < 0.18 else 1 if u < 0.30 else int(rng.integers(2, _N_BASES))
    w = int(_SIZES_W[rng.integers(0, len(_SIZES_W))])
    h = int(_SIZES_H[rng.integers(0, len(_SIZES_H))])
    pix = _base_pattern(base, h, w).astype(np.int16)
    noise = rng.integers(-3, 4, size=pix.shape, dtype=np.int16)
    pix = np.clip(pix + noise, 0, 255).astype(np.uint8)
    # lossy rows use the deterministic QJPG stand-in (labeled honestly as
    # "qjpg" — "jpeg"/"jpg" now always mean real JPEG bytes in encode_image;
    # a Python Huffman loop in the 400k-image bench hot path would measure
    # the codec, not the engine)
    fmt = "png" if rng.random() < 0.8 else "qjpg"
    if fmt == "png":
        # scraped corpora are not all RGB: a slice of the PNG rows ships as
        # RGBA (opaque alpha — decodes back to the same RGB) or grayscale
        # (luma-stored; decode replicates to 3 channels), exercising the
        # decode-anything path end to end in every image query. pix is
        # updated to the DECODED pixels so phash/captions stay consistent
        # with what readers of the bytes column will see.
        v = rng.random()
        if v < 0.06:
            data = encode_png(
                np.concatenate([pix, np.full(pix.shape[:2] + (1,), 255, np.uint8)], axis=2)
            )
        elif v < 0.12:
            luma = ((pix[:, :, 0].astype(np.uint32) * 299
                     + pix[:, :, 1].astype(np.uint32) * 587
                     + pix[:, :, 2].astype(np.uint32) * 114) // 1000).astype(np.uint8)
            data = encode_png(luma)
            pix = np.repeat(luma[:, :, None], 3, axis=2)
        else:
            data = encode_image(pix, fmt)
    else:
        data = encode_image(pix, fmt)
    ph = average_hash(pix)
    if rng.random() < caption_null_rate:
        caption = None
    else:
        k = int(rng.integers(3, 9))
        toks = [str(_WORDS[i]) for i in rng.integers(0, len(_WORDS), k)]
        if rng.random() < 0.15:
            toks.append(_HTML_BITS[int(rng.integers(0, len(_HTML_BITS)))])
        caption = " ".join(toks)
    return (f"img{rid:010d}", f"e{entity:05d}", ts, bytearray(data), w, h, fmt, caption, ph)


def _generate(
    spark: SparkSession, n_rows: int, partitions: int | None, schema: str, row
) -> DataFrame:
    """The one generator scaffold: ``row(rid)`` for every id of
    ``spark.range(n_rows)``, inside ``mapInPandas`` (default: one partition
    per core). ``row`` returns the columns of ``schema`` in order."""
    columns = [field.split()[0] for field in schema.split(",")]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame([row(int(rid)) for rid in b["id"]], columns=columns)

    return spark.range(
        n_rows, numPartitions=partitions or spark.sparkContext.defaultParallelism
    ).mapInPandas(gen, schema=schema)


def generate_images(
    spark: SparkSession,
    n_rows: int,
    n_entities: int | None = None,
    seed: int = SEED,
    caption_null_rate: float = 0.10,
    partitions: int | None = None,
) -> DataFrame:
    """The synthetic `images` table, distributed and deterministic."""
    n_entities = n_entities or max(n_rows // 50, 1)
    return _generate(
        spark, n_rows, partitions, IMAGES_SCHEMA,
        lambda rid: _row(seed, rid, n_entities, caption_null_rate),
    )


def _label_row(seed: int, rid: int, n_entities: int, images_per_entity: int = 50) -> tuple:
    """One label probe as a pure function of (seed, rid) — module-level so the
    driver oracles can regenerate probes outside Spark (same contract as
    ``_row``)."""
    span = images_per_entity * 600
    rng = np.random.default_rng((seed << 35) ^ (rid + 7))
    entity = int(rng.integers(0, int(n_entities * 1.05)))  # ~5% absent entities
    u = rng.random()
    if u < 0.05:
        secs = -int(rng.integers(1, 3600))  # before first feature
    elif u < 0.15:
        # exactly on a feature timestamp bucket boundary (tie probe)
        secs = int(rng.integers(0, images_per_entity)) * 600
    else:
        secs = int(rng.integers(0, span + 3600))
    return (f"e{entity:05d}", _EPOCH + pd.Timedelta(seconds=secs), float(rng.random()))


def generate_labels(
    spark: SparkSession,
    n_rows: int,
    n_entities: int | None = None,
    images_per_entity: int | None = None,
    seed: int = SEED,
    partitions: int | None = None,
) -> DataFrame:
    """Label probes: (entity_id, label_ts, label). label_ts spans
    before-first / between / exactly-on / after-last feature timestamps so the
    strict `<` (leakage-free) tie semantics are pinned by data (FIXTURES.md §2)."""
    n_entities = n_entities or max(n_rows // 50, 1)
    images_per_entity = images_per_entity or 50
    return _generate(
        spark, n_rows, partitions, LABELS_SCHEMA,
        lambda rid: _label_row(seed, rid, n_entities, images_per_entity),
    )


AUDIO_SCHEMA = (
    "clip_id string, entity_id string, ts timestamp, audio binary, "
    "sr int, n_channels int, n_samples int"
)


def generate_audio(
    spark: SparkSession,
    n_rows: int,
    n_entities: int | None = None,
    seed: int = SEED,
    sample_rate: int = 16000,
    partitions: int | None = None,
) -> DataFrame:
    """Synthetic WAV-clip table for the audio family (S5/S6): 1–3 s PCM16
    clips (seeded sum-of-sines + noise), ~30% stereo to exercise the mono
    mixdown. Same pure-function-of-(seed, row_id) contract as the image
    generator; ``n_samples`` rides along so invariants can compute the exact
    expected log-mel example count without decoding."""
    n_entities = n_entities or max(n_rows // 20, 1)
    return _generate(
        spark, n_rows, partitions, AUDIO_SCHEMA,
        lambda rid: _audio_row(seed, rid, n_entities, sample_rate),
    )


def _audio_row(seed: int, rid: int, n_entities: int, sample_rate: int = 16000) -> tuple:
    """One audio clip as a pure function of (seed, rid) — module-level so the
    driver oracles can regenerate clips outside Spark."""
    from ..functions.wav import encode_wav

    rng = np.random.default_rng((seed << 36) ^ (rid + 13))
    entity = rid % n_entities
    seq = rid // n_entities
    ts = _EPOCH + pd.Timedelta(seconds=seq * 600 + int(rng.integers(0, 300)))
    n = int(rng.integers(sample_rate, 3 * sample_rate))
    t = np.arange(n, dtype=np.float64) / sample_rate
    wave = np.zeros(n)
    for _ in range(int(rng.integers(2, 4))):
        f = float(rng.uniform(100, 4000))
        wave += rng.uniform(0.1, 0.4) * np.sin(2 * np.pi * f * t + rng.uniform(0, 6.28))
    wave += rng.normal(0, 0.01, n)
    pcm = np.clip(wave * 12000, -32768, 32767).astype(np.int16)
    ch = 2 if rng.random() < 0.3 else 1
    if ch == 2:
        pcm = np.stack([pcm, np.clip(pcm * 0.8, -32768, 32767).astype(np.int16)], axis=1)
    # real corpora are not all PCM16: a slice ships as IEEE-float32 or PCM24
    # WAV. The sample VALUES are chosen to decode to the identical float32
    # the PCM16 path yields (x/2^15 == (x<<8)/2^23 exactly), so downstream
    # features are bit-identical while the decode-anything path runs on
    # every audio query end to end.
    v = rng.random()
    if v < 0.15:
        payload = encode_wav(pcm.astype(np.float32) / 32768.0, sample_rate)
    elif v < 0.30:
        payload = encode_wav(pcm.astype(np.int32) << 8, sample_rate)
    else:
        payload = encode_wav(pcm, sample_rate)
    return (
        f"clip{rid:08d}", f"e{entity:05d}", ts,
        bytearray(payload), sample_rate, ch, n,
    )


VIDEOS_SCHEMA = (
    "video_id string, entity_id string, ts timestamp, video binary, "
    "fps int, n_frames int, w int, h int"
)


def _video_row(seed: int, rid: int, n_entities: int, fps: int = 4) -> tuple:
    """One MJPEG-AVI clip as a pure function of (seed, rid) — module-level so
    the driver oracles can regenerate clips outside Spark (same contract as
    ``_audio_row``). Frames are the entity's base pattern under horizontal
    motion (np.roll) + per-frame seeded noise, real-JPEG encoded."""
    from ..functions.avi import encode_mjpeg_avi
    from ..functions.jpeg import encode_jpeg

    rng = np.random.default_rng((seed << 38) ^ (rid + 29))
    entity = rid % n_entities
    seq = rid // n_entities
    ts = _EPOCH + pd.Timedelta(seconds=seq * 600 + int(rng.integers(0, 300)))
    w = int(_SIZES_W[rng.integers(0, 3)])  # small sizes: frames are many
    h = int(_SIZES_H[rng.integers(0, 3)])
    n_frames = int(rng.integers(4, 9))
    pix0 = _base_pattern(int(rng.integers(0, _N_BASES)), h, w).astype(np.int16)
    frames = []
    for i in range(n_frames):
        shifted = np.roll(pix0, shift=3 * i, axis=1)
        noise = rng.integers(-3, 4, size=shifted.shape, dtype=np.int16)
        frames.append(encode_jpeg(np.clip(shifted + noise, 0, 255).astype(np.uint8), quality=97))
    blob = encode_mjpeg_avi(frames, fps, w, h)
    return (f"vid{rid:08d}", f"e{entity:05d}", ts, bytearray(blob), fps, n_frames, w, h)


def generate_videos(
    spark: SparkSession,
    n_rows: int,
    n_entities: int | None = None,
    seed: int = SEED,
    fps: int = 4,
    partitions: int | None = None,
) -> DataFrame:
    """Synthetic MJPEG-AVI clip table for the video-scan family (S2): 4–8
    real-JPEG frames per clip in a real RIFF/AVI container. ``n_frames``
    rides along so invariants can compute exact expected frame counts
    without demuxing."""
    n_entities = n_entities or max(n_rows // 5, 1)
    return _generate(
        spark, n_rows, partitions, VIDEOS_SCHEMA,
        lambda rid: _video_row(seed, rid, n_entities, fps),
    )
