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

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..functions.embed import _spec_for


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

    def validate(self) -> None:
        """sanity_check analog (utils/utils.py:74-132): fail fast on the driver."""
        if self.modality not in ("image", "audio", "video"):
            raise ValueError(f"modality must be image|audio|video, got {self.modality!r}")
        # image and video jobs embed frames with an image model
        _spec_for(self.model, "audio" if self.modality == "audio" else "image")
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

_AQE_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
_AQE_EMPTY_PROPAGATION = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"


def build(spark: SparkSession, spec: FeatureJobSpec) -> DataFrame:
    """Assemble the flagship logical plan: scan → decode+embed (Arrow UDF) →
    strict as-of join → leakage-safe training rows. Pure plan construction —
    nothing executes until the caller writes/collects."""
    return _assemble(spec, *_read_inputs(spark, spec))


def _read_inputs(spark: SparkSession, spec: FeatureJobSpec) -> tuple[DataFrame, DataFrame]:
    """The spec's (media, labels) snapshots, schema-checked."""
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
    return media, labels


def _assemble(
    spec: FeatureJobSpec,
    media: DataFrame,
    labels: DataFrame,
    observation: Observation | None = None,
) -> DataFrame:
    """decode+embed ``media`` and as-of join it onto ``labels``. With an
    ``observation``, the extract output (quarantined rows included) reports
    ``rows_in`` and ``quarantined_rows`` once an action has run the plan."""
    from ..operators.asof import asof_join
    from ..operators.features import extract_image_features

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
        feats = extract_image_features(frames, spec.model)
    else:
        feats = extract_image_features(media, spec.model)
    if observation is not None:
        feats = feats.observe(
            observation,
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("quarantined_rows"),
        )
    # quarantined rows (error set, embedding null) never enter the build
    # side: a bad row newer than every valid one would otherwise win the
    # as-of match and hand the label a null feature
    return asof_join(
        labels,
        feats.filter(F.col("error").isNull()).select("entity_id", "ts", "embedding"),
        on=["entity_id"],
        left_ts="label_ts",
        right_ts="ts",
        strict=spec.strict,
        salt_threshold=spec.salt_threshold,
    )


def run(spark: SparkSession, spec: FeatureJobSpec) -> dict:
    """Execute the spec end-to-end in ONE pass over the plan: scan →
    decode+embed → as-of → leakage guard → checkpointed write. Re-run after
    failure to resume.

    - Resume: partitions the manifest marks complete for this snapshot are
      filtered out of both input tables BELOW the decode+embed UDF, so a
      resume decodes only the images of entities in missing partitions.
    - Leakage: ``leakage_guard`` fails the write's job on the first leaking
      row, before anything commits (no data, no manifest row); that failure
      is re-raised as ``AssertionError("temporal leakage: …")``.

    Returns the writer's stats plus ``rows_in`` (extract output rows this
    run decoded) and ``quarantined_rows`` (those with a decode/embed error).
    """
    from pyspark.errors import SparkRuntimeException

    from ..operators.asof import LEAK_MESSAGE_PREFIX, leakage_guard
    from ..session import session_conf
    from ..sources.checkpoint import checkpointed_write, completed_parts, partition_id

    media, labels = _read_inputs(spark, spec)
    done = completed_parts(spark, spec.output_path, spec.snapshot_id)
    if done:
        # hash the key as the JOINED output types it (int and long keys would
        # otherwise land in different partitions than the writer computes)
        key = F.col("entity_id").cast(_assemble(spec, media, labels).schema["entity_id"].dataType)
        pending = ~partition_id([key], spec.num_parts).isin(*done)
        media, labels = media.filter(pending), labels.filter(pending)
    observation = Observation()
    joined = leakage_guard(
        _assemble(spec, media, labels, observation), "label_ts", "ts_asof", strict=spec.strict
    )
    # AQE replaces a subtree it finds empty at run time by an empty relation,
    # and with it the observed extract stage: the observation would then
    # complete with no metrics (e.g. a resume whose pending entities have no
    # labels). Keep the stage in the plan for this write.
    prior_rules = spark.conf.get(_AQE_EXCLUDED_RULES, None)
    excluded = f"{prior_rules},{_AQE_EMPTY_PROPAGATION}" if prior_rules else _AQE_EMPTY_PROPAGATION
    try:
        with session_conf(spark, _AQE_EXCLUDED_RULES, excluded):
            stats = checkpointed_write(
                joined,
                spec.output_path,
                ["entity_id"],
                num_parts=spec.num_parts,
                snapshot_id=spec.snapshot_id,
            )
    except SparkRuntimeException as e:
        message = (e.getMessageParameters() or {}).get("errorMessage", "")
        if e.getCondition() == "USER_RAISED_EXCEPTION" and message.startswith(LEAK_MESSAGE_PREFIX):
            raise AssertionError(message) from e
        raise
    # read only after the write: the observation completes with the action
    counts = observation.get
    stats["rows_in"] = counts["rows_in"]
    stats["quarantined_rows"] = counts["quarantined_rows"] or 0
    return stats
