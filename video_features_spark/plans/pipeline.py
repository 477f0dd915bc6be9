"""Declarative job spec → DataFrame pipeline (the reference's "config is the
query" surface, Spark-shaped).

The reference drives everything from an OmegaConf DictConfig merged from a
per-feature YAML + CLI overrides (``/root/reference/main.py:8-10``) and
validates/rewrites it in ``sanity_check`` (``utils/utils.py:74-132``). Here the
spec is a frozen dataclass; ``validate`` is the sanity_check analog (device
fallback becomes model-registry lookup, path rewriting becomes partition
columns). ``_assemble`` is the one definition of the flagship plan, leakage
guard included: ``build`` returns it lazily, and ``run`` writes it, dropping
undecodable matches and writing again when one aborts the write — Catalyst
owns the physical plan.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
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


# the column naming one media row of each modality (a video's frames keep
# their clip's video_id, renamed image_id, and differ by their frame ts)
_ID_COL = {"image": "image_id", "audio": "clip_id", "video": "image_id"}
_UNDECODABLE_PREFIX = "undecodable matched media"


def build(spark: SparkSession, spec: FeatureJobSpec) -> DataFrame:
    """The flagship plan, lazily: strict as-of match on media metadata →
    decode+embed (Arrow UDF) of the matched media only → embeddings joined
    back onto the labels → leakage guard. Calling it runs no Spark job;
    ``run`` writes this same plan.

    Evaluating it over a label whose matched media row fails to decode fails
    with Spark's ``USER_RAISED_EXCEPTION`` ("undecodable matched media…").
    Resolving such matches (the label gets its newest earlier decodable row)
    is ``run``'s job."""
    media, labels = _read_inputs(spark, spec)
    return _assemble(spec, _media_rows(spec, media), labels)


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


def _media_rows(spec: FeatureJobSpec, media: DataFrame) -> DataFrame:
    """The rows the match runs on, one per decodable unit: an image, an audio
    clip, or a video frame. Video demuxes (MJPEG-AVI → one JPEG row per
    frame, ts = clip ts + idx/fps) every container twice per write: once for
    the match's frame metadata, once ahead of the matched-frame filter; only
    matched frames are decoded and embedded. A container that fails to
    demux yields one error row with no frame and no ts, which never enters
    the match."""
    if spec.modality != "video":
        return media
    from ..operators.video import extract_video_frames

    return (
        extract_video_frames(media)
        .filter(F.col("error").isNull())
        .select(
            F.col("video_id").alias("image_id"),
            "entity_id",
            F.col("frame_ts").alias("ts"),
            "bytes",
            "fmt",
        )
    )


def _match(
    spec: FeatureJobSpec, rows: DataFrame, labels: DataFrame, failed: pa.Table | None = None
) -> DataFrame:
    """The as-of match on metadata alone: every label plus the id and
    ``ts_asof`` of its newest earlier media row, skipping the ``failed``
    (entity_id, id, ts) keys. Duplicate-(entity_id, ts) rows are resolved
    by the max ``xxhash64(struct(id, ts))`` (``asof._build_tiebreak``), so
    no tie needs decoding."""
    from ..operators.asof import asof_join

    id_col = _ID_COL[spec.modality]
    meta = rows.select("entity_id", "ts", id_col)
    if failed is not None:
        keys = rows.sparkSession.createDataFrame(failed)
        meta = meta.join(F.broadcast(keys), ["entity_id", id_col, "ts"], "left_anti")
    return asof_join(
        labels,
        meta,
        on=["entity_id"],
        left_ts="label_ts",
        right_ts="ts",
        right_cols=[id_col],
        strict=spec.strict,
        salt_threshold=spec.salt_threshold,
    )


def _features(spec: FeatureJobSpec, rows: DataFrame, match: DataFrame) -> DataFrame:
    """decode+embed only the rows ``match`` keeps: (entity_id, id, ts,
    embedding, error), one row per matched key (an (entity_id, id, ts) key
    names one media row). The rows are semi-joined against a broadcast of
    the matched keys, so no exchange carries media bytes; the key set holds
    at most one row per label, which bounds this plan to label tables whose
    keys fit a broadcast. Audio keeps each clip's first 0.96 s example; a
    clip too short for one is a failed match."""
    from ..operators.features import extract_image_features

    id_col = _ID_COL[spec.modality]
    # distinct over EVERY match column: a narrower projection would let
    # column pruning and filter inference reach below the as-of window, and
    # the write's join-back would then need a second, differently pruned
    # as-of exchange. With the same columns and filters both uses share one
    # exchange (ReuseExchange), and the aggregate needs no exchange of its
    # own (its keys include the window's partitioning).
    keys = (
        match.filter(F.col(id_col).isNotNull())
        .distinct()
        .select(F.col(id_col).alias("__id"), F.col("ts_asof").alias("__ts"))
    )
    wanted = rows.join(
        F.broadcast(keys),
        (F.col(id_col) == F.col("__id")) & (F.col("ts").cast("timestamp") == F.col("__ts")),
        "left_semi",
    )
    if spec.modality == "audio":
        from ..operators.audio import extract_audio_features

        return (
            extract_audio_features(wanted, spec.model)
            .filter((F.col("example_idx") == 0) | F.col("error").isNotNull())
            .drop("example_idx")
        )
    return extract_image_features(wanted, spec.model)


def _assemble(
    spec: FeatureJobSpec,
    rows: DataFrame,
    labels: DataFrame,
    failed: pa.Table | None = None,
    observation: Observation | None = None,
) -> DataFrame:
    """The flagship plan: match → decode+embed the matched rows → join their
    embeddings back → leakage guard: (entity_id, label_ts, label payload…,
    embedding, ts_asof). Evaluating a label whose matched row fails to
    decode fails the task with Spark's ``USER_RAISED_EXCEPTION`` (message
    starts "undecodable matched media"); a leaking row fails it the same way
    (``leakage_guard``). With an ``observation``, the decoded rows report
    ``rows_in`` once an action has run the plan."""
    from ..operators.asof import leakage_guard

    id_col = _ID_COL[spec.modality]
    match = _match(spec, rows, labels, failed)
    feats = _features(spec, rows, match)
    if observation is not None:
        feats = feats.observe(observation, F.count(F.lit(1)).alias("rows_in"))
    joined = match.join(
        feats.select(
            "entity_id", id_col, F.col("ts").cast("timestamp").alias("ts_asof"), "embedding", "error"
        ),
        ["entity_id", id_col, "ts_asof"],
        "left",
    )
    msg = F.concat(
        F.lit(f"{_UNDECODABLE_PREFIX} ({id_col}="), F.col(id_col).cast("string"),
        F.lit(", ts="), F.col("ts_asof").cast("string"), F.lit("): "), F.col("error"),
    )
    guarded = joined.filter(
        F.when(F.col("error").isNotNull(), F.raise_error(msg)).otherwise(F.lit(True))
    )
    payload = [c for c in match.columns if c not in (id_col, "ts_asof")]
    return leakage_guard(
        guarded.select(*payload, "embedding", "ts_asof"), "label_ts", "ts_asof", strict=spec.strict
    )


def _undecodable(
    spec: FeatureJobSpec, rows: DataFrame, labels: DataFrame, failed: pa.Table | None
) -> pa.Table:
    """The (entity_id, id, ts) keys of this match whose media fails to
    decode+embed, collected in one labelled action."""
    from ..session import job_description

    id_col = _ID_COL[spec.modality]
    feats = _features(spec, rows, _match(spec, rows, labels, failed))
    with job_description(rows.sparkSession, "plans: undecodable matches"):
        return feats.filter(F.col("error").isNotNull()).select("entity_id", id_col, "ts").toArrow()


def run(spark: SparkSession, spec: FeatureJobSpec) -> dict:
    """Execute the spec end-to-end: the checkpointed write of the plan
    ``build`` returns (scan → metadata as-of match → decode+embed of the
    matched rows → join-back → leakage guard). Re-run after failure to
    resume. The only place undecodable matches are resolved.

    - Resume: partitions the manifest marks complete for this snapshot are
      filtered out of both input tables BELOW the decode+embed UDF, so a
      resume decodes only media of entities in missing partitions.
    - Leakage: ``leakage_guard`` fails the write's job on the first leaking
      row, before anything commits (no data, no manifest row); that failure
      is re-raised as ``AssertionError("temporal leakage: …")``.
    - Undecodable media: the write is optimistic. A matched row that fails
      to decode aborts the write's job the same way, before anything
      commits; ``run`` then collects every failed key of that match in one
      action, drops them from the match's build side and writes again.
      Each round drops at least one key, so the loop ends; clean data runs
      no extra action.

    Returns the writer's stats plus ``rows_in`` (media rows the committed
    write decoded, plus the undecodable matched rows found on the way) and
    ``quarantined_rows`` (those undecodable rows). Media no label matches
    is never decoded and counts in neither.
    """
    from pyspark.errors import SparkRuntimeException

    from ..operators.asof import LEAK_MESSAGE_PREFIX
    from ..session import session_conf
    from ..sources.checkpoint import checkpointed_write, completed_parts, partition_id

    media, labels = _read_inputs(spark, spec)
    done = completed_parts(spark, spec.output_path, spec.snapshot_id)
    if done:
        # hash the key as the JOINED output types it (int and long keys would
        # otherwise land in different partitions than the writer computes)
        joined_key = _match(spec, _media_rows(spec, media), labels).schema["entity_id"].dataType
        pending = ~partition_id([F.col("entity_id").cast(joined_key)], spec.num_parts).isin(*done)
        media, labels = media.filter(pending), labels.filter(pending)
    rows = _media_rows(spec, media)
    # AQE replaces a subtree it finds empty at run time by an empty relation,
    # and with it the observed extract stage: the observation would then
    # complete with no metrics (e.g. a resume whose pending entities have no
    # labels). Keep the stage in the plan for this write.
    prior_rules = spark.conf.get(_AQE_EXCLUDED_RULES, None)
    excluded = f"{prior_rules},{_AQE_EMPTY_PROPAGATION}" if prior_rules else _AQE_EMPTY_PROPAGATION
    # the join-back's keys start with entity_id, the as-of window's
    # partitioning: let the join reuse it, so only the embeddings shuffle
    # (by default Spark re-shuffles the match on all three keys)
    co_partition = "spark.sql.requireAllClusterKeysForCoPartition"
    failed = None
    while True:
        observation = Observation()
        joined = _assemble(spec, rows, labels, failed, observation)
        try:
            with session_conf(spark, _AQE_EXCLUDED_RULES, excluded), \
                    session_conf(spark, co_partition, "false"):
                stats = checkpointed_write(
                    joined,
                    spec.output_path,
                    ["entity_id"],
                    num_parts=spec.num_parts,
                    snapshot_id=spec.snapshot_id,
                )
            break
        except SparkRuntimeException as e:
            message = (e.getMessageParameters() or {}).get("errorMessage", "")
            if e.getCondition() != "USER_RAISED_EXCEPTION":
                raise
            if message.startswith(LEAK_MESSAGE_PREFIX):
                raise AssertionError(message) from e
            if not message.startswith(_UNDECODABLE_PREFIX):
                raise
            found = _undecodable(spec, rows, labels, failed)
            if not found.num_rows:  # nothing to drop: retrying would loop
                raise
            failed = found if failed is None else pa.concat_tables([failed, found])
    # read only after the write: the observation completes with the action
    n_failed = 0 if failed is None else failed.num_rows
    stats["rows_in"] = observation.get["rows_in"] + n_failed
    stats["quarantined_rows"] = n_failed
    return stats
