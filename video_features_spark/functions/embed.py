"""Deterministic embedding models (image + caption, frame pair, audio) behind
one timm-style registry.

The reference resolves models by name and derives transforms from the model
config (``/root/reference/models/timm/extract_timm.py:38-77``), caches the model
once per process, and runs batched ``no_grad`` forwards
(``models/_base/base_framewise_extractor.py:83-90``). This module mirrors that
surface with *deterministic seeded* encoders: torch/timm/CLIP weights are not
available in this container, so each named model is a seeded random projection
with a fixed preprocessing config. The Spark-side plumbing — registry by name,
per-executor model cache, Arrow-batched forward, L2-normalized float32 output of
the model's advertised dim (CLIP 512, ``docs/models/clip.md:11``; ResNet50 2048,
``docs/models/resnet.md:11``) — is real and identical to what a torch-backed
model would use; swapping in real weights is a one-function change
(``_seeded_weights``). All three encoders share one registry, one weight cache
(``get_model``), one size-grouped preprocess and one projection head
(``_head``); ``operators/audio.py`` adds only the log-mel front end.

Determinism contract: same (model, bytes) → bit-identical embedding on any
executor, any partitioning, any batch split — reductions are per-row float32
matmuls, never cross-row.
"""

from __future__ import annotations

import html
import re
import zlib
from dataclasses import dataclass, field

import numpy as np

_POOL = 8  # pooled grid per channel → 8*8*3 = 192 input features
_FEAT_IN = _POOL * _POOL * 3
_TXT_IN = 512  # hashed caption bag width
_AUDIO_IN = 96 * 64  # one 0.96 s log-mel example: 96 frames × 64 mel bands

# weight layout per modality: (npz member name, input width); every weight
# matrix is (spec.dim, width)
_IMAGE_WEIGHTS = (("w_img", _FEAT_IN), ("w_txt", _TXT_IN))  # image + caption towers
_PAIR_WEIGHTS = (("w", 3 * _FEAT_IN),)  # [feat_a, feat_b, feat_b − feat_a]
_AUDIO_WEIGHTS = (("w", _AUDIO_IN),)


@dataclass(frozen=True)
class ModelSpec:
    name: str
    modality: str  # inputs it serves: image (image + video jobs, captions) | pair | audio
    dim: int
    weights: tuple[tuple[str, int], ...]
    input_size: int = 0  # square preprocess side (image, pair)
    seed_salt: int = 0
    seed: int = field(init=False, default=0)

    def __post_init__(self):
        seed = (zlib.crc32(self.name.encode()) & 0x7FFFFFFF) ^ self.seed_salt
        object.__setattr__(self, "seed", seed)


# registry of named models (timm-style string dispatch; extract_timm.py:38-52).
# Image models serve image and video jobs plus the caption tower. The two-frame
# models mirror the reference's flow family, which takes BOTH frames in one
# forward (``/root/reference/models/raft/raft_src/raft.py:118-177``:
# fnet([image1, image2]) then correlation of the two feature maps): per-frame
# features plus their difference (the motion signal correlation exists to
# expose), through one projection. The audio model is the VGGish head
# (``vggish_src/vggish_slim.py``): one log-mel example → 128-d.
MODEL_REGISTRY: dict[str, ModelSpec] = {
    s.name: s
    for s in [
        ModelSpec("clip-vit-b32-det", "image", 512, _IMAGE_WEIGHTS, input_size=224),
        ModelSpec("clip-small-det", "image", 512, _IMAGE_WEIGHTS, input_size=32),  # sandbox-scale twin
        ModelSpec("resnet50-det", "image", 2048, _IMAGE_WEIGHTS, input_size=224),
        ModelSpec("resnet50-small-det", "image", 2048, _IMAGE_WEIGHTS, input_size=32),
        ModelSpec("timm-tiny-det", "image", 192, _IMAGE_WEIGHTS, input_size=32),
        ModelSpec("raft-small-det", "pair", 128, _PAIR_WEIGHTS, input_size=32, seed_salt=0x5A17),
        ModelSpec("raft-det", "pair", 128, _PAIR_WEIGHTS, input_size=224, seed_salt=0x5A17),
        ModelSpec("vggish-det", "audio", 128, _AUDIO_WEIGHTS),
    ]
}

# per-executor-process model cache — the Spark analog of the reference's
# load-once-per-process model singleton (extract_clip.py:43-69); keyed by
# (name, checkpoint, precision) so re-registering a checkpoint invalidates
# cleanly. Values are (spec, *weights) in the spec's weight order.
_CACHE: dict[tuple, tuple] = {}

# driver-side registry: model name → (SparkFiles name, sha256). Executors do
# NOT see this dict — operators capture the tuple in their UDF closure at
# plan-build time (see features.extract_image_features) and python workers
# resolve the file via SparkFiles.get locally.
_CHECKPOINTS: dict[str, tuple[str, str]] = {}

# driver-local file resolution: register_checkpoint records the source path
# here so driver-side loads (fail-fast get_model, oracles, tests) never
# depend on SparkFiles; executors fall through to SparkFiles.get.
_LOCAL_CKPT_PATHS: dict[str, str] = {}


def use_local_checkpoint_file(filename: str, path: str) -> None:
    """Resolve ``filename`` to a local path instead of SparkFiles — the seam
    oracle/test processes (no SparkContext) use to run the checkpoint-loading
    code path on a file they wrote themselves."""
    import os

    _LOCAL_CKPT_PATHS[filename] = os.path.abspath(path)


def synth_checkpoint_npz(model_name: str, path: str, seed: int) -> None:
    """Write a deterministic ``.npz`` checkpoint (``w_img``/``w_txt``) for an
    image model — a stand-in weight file exercising the FULL real-weights
    path (register → addFile → SparkFiles resolve → SHA256 verify → np.load →
    shape check) where torch and the published downloads are unavailable.
    Weights are a pure function of (model, seed); the zip members carry a
    pinned timestamp so the bytes are reproducible across processes."""
    import io
    import zipfile

    spec = _spec_for(model_name, "image")
    rng = np.random.default_rng(seed)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for name, width in spec.weights:
            arr = (rng.standard_normal((spec.dim, width)) / np.sqrt(width)).astype(np.float32)
            buf = io.BytesIO()
            np.lib.format.write_array(buf, arr)
            z.writestr(zipfile.ZipInfo(name + ".npy", date_time=(1980, 1, 1, 0, 0, 0)),
                       buf.getvalue())


def register_checkpoint(spark, model_name: str, path: str, sha256: str | None = None) -> str:
    """Distribute a real weight checkpoint (.npz with ``w_img``/``w_txt``) for
    an image model to every executor via ``SparkContext.addFile`` and pin its
    SHA256 — the same download-integrity contract the reference enforces
    (``/root/reference/models/clip/clip_src/clip.py:45-74``). Returns the
    digest. Pass ``sha256`` to verify against a published digest; omitted, the
    local file's digest becomes the pin (trust-on-first-register). Only the
    image operators carry the pin into their UDF closures, so pair and audio
    models are rejected."""
    import hashlib
    import os

    _spec_for(model_name, "image")
    with open(path, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    if sha256 is not None and digest != sha256:
        raise ValueError(f"checkpoint {path}: sha256 {digest} != expected {sha256}")
    spark.sparkContext.addFile(path)
    _LOCAL_CKPT_PATHS[os.path.basename(path)] = os.path.abspath(path)
    _CHECKPOINTS[model_name] = (os.path.basename(path), digest)
    for k in [k for k in _CACHE if k[0] == model_name]:
        _CACHE.pop(k)
    return digest


def checkpoint_for(model_name: str) -> tuple[str, str] | None:
    """The (SparkFiles name, sha256) pin an operator should bake into its UDF
    closure — or None for the seeded deterministic weights."""
    return _CHECKPOINTS.get(model_name)


def _load_checkpoint(spec: ModelSpec, filename: str, sha256: str) -> list[np.ndarray]:
    import hashlib
    import os

    path = _LOCAL_CKPT_PATHS.get(filename)
    if path is None or not os.path.exists(path):
        from pyspark import SparkFiles

        path = SparkFiles.get(filename)
    with open(path, "rb") as f:
        data = f.read()
    digest = hashlib.sha256(data).hexdigest()
    if digest != sha256:
        raise ValueError(f"checkpoint {filename}: sha256 {digest} != pinned {sha256}")
    npz = np.load(path)
    weights = [npz[name].astype(np.float32) for name, _ in spec.weights]
    shapes, expected = [w.shape for w in weights], [(spec.dim, k) for _, k in spec.weights]
    if shapes != expected:
        raise ValueError(f"checkpoint {filename}: shapes {shapes} don't match spec {expected}")
    return weights


def _seeded_weights(spec: ModelSpec) -> list[np.ndarray]:
    """Seeded deterministic weights — the no-checkpoint default (torch/timm
    absent in this container; ``register_checkpoint`` is the real-weights
    path). One draw per weight, in the spec's order."""
    rng = np.random.default_rng(spec.seed)
    return [
        rng.standard_normal((spec.dim, width)).astype(np.float32) / np.sqrt(width)
        for _, width in spec.weights
    ]


def _spec_for(name: str, modality: str) -> ModelSpec:
    """The registry spec of ``name``, which must serve ``modality`` inputs —
    the one model-name check. Operators and ``FeatureJobSpec.validate`` run it
    on the driver, before any job is planned."""
    spec = MODEL_REGISTRY.get(name)
    if spec is None or spec.modality != modality:
        served = sorted(n for n, s in MODEL_REGISTRY.items() if s.modality == modality)
        problem = (
            f"unknown model {name!r}" if spec is None
            else f"model {name!r} serves {spec.modality} inputs, not {modality}"
        )
        raise ValueError(f"{problem}; {modality} models: {served}")
    return spec


def get_model(
    name: str,
    checkpoint: tuple[str, str] | None = None,
    precision: str = "fp32",
) -> tuple:
    """Resolve a model by name to ``(spec, *weights)`` — ``(spec, w_img,
    w_txt)`` for an image model, ``(spec, w)`` for a pair or audio model.
    ``checkpoint`` (from ``checkpoint_for``) makes an executor load the
    distributed, SHA256-verified weights; without it the driver-side registry
    is consulted (covers driver-local use), then the seeded deterministic
    weights. ``precision="fp16"`` quantizes the weights through float16 (the
    reference's convert_weights cast, clip_src/model.py:371-392) — compute
    stays float32, so the cast is a deterministic weight quantization,
    halving checkpoint memory per executor at the documented small accuracy
    cost."""
    if precision not in ("fp32", "fp16"):
        raise ValueError(f"precision must be fp32|fp16, got {precision!r}")
    ck = checkpoint or _CHECKPOINTS.get(name)
    key = (name, ck, precision)
    if key not in _CACHE:
        if name not in MODEL_REGISTRY:
            raise KeyError(f"unknown model {name!r}; registry: {sorted(MODEL_REGISTRY)}")
        spec = MODEL_REGISTRY[name]
        weights = _load_checkpoint(spec, *ck) if ck else _seeded_weights(spec)
        if precision == "fp16":
            weights = [w.astype(np.float16).astype(np.float32) for w in weights]
        _CACHE[key] = (spec, *weights)
    return _CACHE[key]


def _model(
    name: str, modality: str, checkpoint: tuple[str, str] | None = None, precision: str = "fp32"
) -> tuple:
    """``get_model`` for a caller that feeds ``modality`` inputs."""
    _spec_for(name, modality)
    return get_model(name, checkpoint, precision)


def _head(x: np.ndarray, w: np.ndarray) -> np.ndarray:
    """The projection head every encoder shares: B×K features → B×D
    ``tanh(x @ w.T)``, L2-normalized float32. The matmul runs through the
    fixed-tile GEMM (preprocess._tiled_matmul) so a row's embedding is
    bit-identical regardless of how many rows share its Arrow batch — BLAS
    kernel choice varies with the m dimension otherwise."""
    from .preprocess import _tiled_matmul

    emb = np.tanh(_tiled_matmul(np.ascontiguousarray(x), w.T))
    norms = np.linalg.norm(emb, axis=1, keepdims=True)
    return (emb / np.maximum(norms, 1e-12)).astype(np.float32)


def _preprocess(images: list[np.ndarray], size: int) -> np.ndarray:
    """Raw uint8 H×W×3 images (mixed sizes) → B×size×size×3 float32 through
    the CLIP preprocess chain. Images are grouped by (H, W) so the chain runs
    as batched GEMMs per size group (sizes repeat heavily in real corpora);
    results are bit-equal to the per-image path (tested)."""
    from .preprocess import clip_preprocess_batch

    out = np.empty((len(images), size, size, 3), np.float32)
    groups: dict[tuple[int, int], list[int]] = {}
    for i, im in enumerate(images):
        groups.setdefault(im.shape[:2], []).append(i)
    for idxs in groups.values():
        out[idxs] = clip_preprocess_batch(np.stack([images[i] for i in idxs]), size)
    return out


def synth_pca_params(dim: int = 64, seed: int = 77) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic stand-in PCA-whitening parameters. The reference loads
    its (matrix, means) pair from an npz checkpoint
    (``vggish_postprocess.py:51-63``); here they are a pure function of the
    seed — a 1/sqrt(dim)-scaled seeded gaussian matrix and a seeded mean
    vector, built element-wise (no LAPACK factorization, whose rounding
    varies with BLAS threading). float32, like the reference's params."""
    rng = np.random.default_rng(seed)
    matrix = (rng.standard_normal((dim, dim)) / np.sqrt(dim)).astype(np.float32)
    means = (rng.standard_normal(dim) * 0.05).astype(np.float32)
    return matrix, means


def pca_whiten_batch(emb: np.ndarray, matrix: np.ndarray, means: np.ndarray) -> np.ndarray:
    """``A @ (x - μ)`` per row — the reference's PCA application
    (``vggish_postprocess.py:75-82``: transpose, subtract the means column
    vector, premultiply by the PCA matrix), row-major here:
    ``(emb - μ) @ A.T`` through the fixed-tile matmul so a row's output is
    bit-identical regardless of how many rows share its Arrow batch."""
    from .preprocess import _tiled_matmul

    centered = emb.astype(np.float32) - means.astype(np.float32)[None, :]
    return _tiled_matmul(
        np.ascontiguousarray(centered), np.ascontiguousarray(matrix.T.astype(np.float32))
    )


def _pool(batch: np.ndarray) -> np.ndarray:
    """B×S×S×3 → B×(_POOL²·3) mean-pooled features (S divisible by _POOL or not —
    integral pooling over equal index ranges)."""
    b, s, _, _ = batch.shape
    edges = (np.arange(_POOL + 1) * s // _POOL).astype(int)
    out = np.empty((b, _POOL, _POOL, 3), np.float32)
    for i in range(_POOL):
        for j in range(_POOL):
            out[:, i, j] = batch[:, edges[i]:edges[i + 1], edges[j]:edges[j + 1]].mean(axis=(1, 2))
    return out.reshape(b, -1)


def preprocess_and_embed(
    images: list[np.ndarray],
    model_name: str,
    checkpoint: tuple[str, str] | None = None,
    precision: str = "fp32",
) -> np.ndarray:
    """Decode-side entry: raw uint8 H×W×3 images (mixed sizes) → B×D
    L2-normalized float32 embeddings. Embedding forward is per-row
    independent, so output order/partitioning never affects values."""
    spec, w_img, _ = _model(model_name, "image", checkpoint, precision)
    return _head(_pool(_preprocess(images, spec.input_size)), w_img)


def preprocess_and_embed_pairs(
    frames_a: list[np.ndarray],
    frames_b: list[np.ndarray],
    model_name: str = "raft-small-det",
    precision: str = "fp32",
) -> np.ndarray:
    """Two aligned frame lists → B×D L2-normalized per-PAIR embeddings (the
    J1→flow-model path: consumes ``consecutive_pair_features``' pairing)
    through a two-frame model (RAFT-shape: model(frame_t, frame_t+1) →
    vector). Unlike the single-frame encoders, frames of DIFFERENT sizes are
    legal in a pair — both go through the same resize+crop chain first,
    exactly how the reference normalizes before its two-frame forward.
    Per-row independent ⇒ bit-identical under any batching/partitioning."""
    if len(frames_a) != len(frames_b):
        raise ValueError(f"pair lists differ: {len(frames_a)} vs {len(frames_b)}")
    spec, w = _model(model_name, "pair", precision=precision)
    fa = _pool(_preprocess(frames_a, spec.input_size))
    fb = _pool(_preprocess(frames_b, spec.input_size))
    return _head(np.concatenate([fa, fb, fb - fa], axis=1), w)


# ---------------------------------------------------------------------------
# Caption-side encoder (CLIP text-tower analog)
# ---------------------------------------------------------------------------

_WORD_RE = re.compile(r"[a-z0-9]+|[^\sa-z0-9]", re.UNICODE)


def clean_caption(text: str) -> str:
    """Text cleanup with the reference tokenizer's semantics
    (simple_tokenizer.py:50-59: ftfy fix → html unescape ×2 → strip; :123 adds
    lowercase + whitespace collapse). ftfy is unavailable → unicode NFC instead."""
    import unicodedata

    t = unicodedata.normalize("NFC", text)
    t = html.unescape(html.unescape(t))
    t = re.sub(r"\s+", " ", t).strip().lower()
    return t


def _hash_token(tok: str) -> int:
    return zlib.crc32(tok.encode("utf-8")) % 512


def embed_captions(
    texts: list[str | None], model_name: str, checkpoint: tuple[str, str] | None = None
) -> np.ndarray:
    """Hashed unigram+bigram bag → seeded projection → L2 norm. Nulls → zero
    vector (backfill upstream is the supported repair path)."""
    _, _, w_txt = _model(model_name, "image", checkpoint)
    dim = w_txt.shape[0]
    out = np.zeros((len(texts), dim), np.float32)
    for i, t in enumerate(texts):
        if not t:
            continue
        toks = _WORD_RE.findall(clean_caption(t))
        if not toks:
            continue
        bag = np.zeros(512, np.float32)
        for j, tok in enumerate(toks):
            bag[_hash_token(tok)] += 1.0
            if j + 1 < len(toks):
                bag[_hash_token(tok + "§" + toks[j + 1])] += 0.5
        emb = np.tanh(w_txt @ bag)
        n = np.linalg.norm(emb)
        if n > 0:
            out[i] = emb / n
    return out
