"""Declarative job spec → DataFrame pipeline (the reference's "config is the
query" surface, Spark-shaped).

The reference drives everything from an OmegaConf DictConfig merged from a
per-feature YAML + CLI overrides (``/root/reference/main.py:8-10``) and
validates/rewrites it in ``sanity_check`` (``utils/utils.py:74-132``). Here the
spec is a frozen dataclass; ``validate`` is the sanity_check analog (device
fallback becomes model-registry lookup, path rewriting becomes partition
columns), and ``build`` assembles the logical plan declaratively — Catalyst
owns the physical plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.embed import MODEL_REGISTRY


@dataclass(frozen=True)
class FeatureJobSpec:
    """One point-in-time feature-extraction job over the input_hint table."""

    images_path: str                 # media table (images OR audio clips)
    labels_path: str
    output_path: str
    model: str = "clip-small-det"
    modality: str = "image"          # image | audio | video (reference feature_type dispatch)
    strict: bool = True              # leakage-free: feature.ts strictly < label_ts
    salt_threshold: int | None = None  # probe rows/entity before hot-key salting
    num_parts: int = 64              # checkpoint/resume granularity
    snapshot_id: str = "snapshot-0"
    precision: str = "fp32"          # fp32 | fp16 weight quantization (image)
    augment_seed: int | None = None  # seeded deterministic augmentation (image)
    extra_feature_cols: tuple[str, ...] = field(default_factory=tuple)

    def validate(self) -> None:
        """sanity_check analog (utils/utils.py:74-132): fail fast on the driver."""
        if self.modality not in ("image", "audio", "video"):
            raise ValueError(f"modality must be image|audio|video, got {self.modality!r}")
        if self.modality in ("image", "video") and self.model not in MODEL_REGISTRY:
            raise ValueError(
                f"unknown model {self.model!r}; registry: {sorted(MODEL_REGISTRY)}"
            )
        if self.precision not in ("fp32", "fp16"):
            raise ValueError(f"precision must be fp32|fp16, got {self.precision!r}")
        if self.num_parts < 1:
            raise ValueError("num_parts must be >= 1")
        if self.salt_threshold is not None and self.salt_threshold < 1:
            raise ValueError("salt_threshold must be >= 1 when set")
        if self.output_path in (self.images_path, self.labels_path):
            raise ValueError("output_path must differ from input paths")  # out≠tmp rule


REQUIRED_IMAGE_COLS = ("image_id", "bytes", "fmt", "entity_id", "ts")
REQUIRED_AUDIO_COLS = ("clip_id", "audio", "entity_id", "ts")
REQUIRED_VIDEO_COLS = ("video_id", "video", "entity_id", "ts")
REQUIRED_LABEL_COLS = ("entity_id", "label_ts")


def build(spark: SparkSession, spec: FeatureJobSpec) -> DataFrame:
    """Assemble the flagship logical plan: scan → decode+embed (Arrow UDF) →
    strict as-of join → leakage-safe training rows. Pure plan construction —
    nothing executes until the caller writes/collects."""
    from ..operators.asof import asof_join
    from ..operators.features import extract_image_features
    from ..sources.tables import read_snapshot

    spec.validate()
    media = read_snapshot(spark, spec.images_path, spec.snapshot_id)
    labels = read_snapshot(spark, spec.labels_path, spec.snapshot_id)
    required = {
        "image": REQUIRED_IMAGE_COLS,
        "audio": REQUIRED_AUDIO_COLS,
        "video": REQUIRED_VIDEO_COLS,
    }[spec.modality]
    for c in required:
        if c not in media.columns:
            raise ValueError(f"{spec.modality} table missing column {c!r}")
    for c in REQUIRED_LABEL_COLS:
        if c not in labels.columns:
            raise ValueError(f"labels table missing column {c!r}")

    if spec.modality == "audio":
        from ..operators.audio import extract_audio_features

        # clip-level feature = the first 0.96 s example's embedding (one row
        # per clip, deterministic)
        feats = extract_audio_features(media, spec.model).filter(F.col("example_idx") == 0)
    elif spec.modality == "video":
        from ..operators.video import extract_video_frames

        # container -> frame stream -> the SAME image embed operator; each
        # frame is a feature row at its derived event time (clip ts + idx/fps).
        # An unreadable container's single error row carries no frame bytes,
        # so its embed fails too and the quarantine filter below drops it.
        frames = (
            extract_video_frames(media)
            .select(
                F.col("video_id").alias("image_id"),
                "entity_id",
                F.col("frame_ts").alias("ts"),
                "bytes",
                "fmt",
            )
        )
        feats = extract_image_features(
            frames, spec.model, precision=spec.precision, augment_seed=spec.augment_seed
        )
    else:
        feats = extract_image_features(
            media, spec.model, precision=spec.precision, augment_seed=spec.augment_seed
        )
    # quarantined rows (error set, embedding null) never enter the build
    # side: a bad row newer than every valid one would otherwise win the
    # as-of match and hand the label a null feature
    right_cols = ["entity_id", "ts", "embedding", *spec.extra_feature_cols]
    return asof_join(
        labels,
        feats.filter(F.col("error").isNull()).select(*right_cols),
        on=["entity_id"],
        left_ts="label_ts",
        right_ts="ts",
        strict=spec.strict,
        salt_threshold=spec.salt_threshold,
    )


def run(spark: SparkSession, spec: FeatureJobSpec) -> dict:
    """Execute the spec end-to-end with the leakage gate + checkpointed write;
    returns the writer's resume stats. Re-run after failure to resume."""
    from ..operators.asof import assert_no_leakage
    from ..sources.checkpoint import checkpointed_write

    joined = build(spark, spec)
    assert_no_leakage(joined, "label_ts", "ts_asof", strict=spec.strict)
    return checkpointed_write(
        joined,
        spec.output_path,
        ["entity_id"],
        num_parts=spec.num_parts,
        snapshot_id=spec.snapshot_id,
    )
