"""Job-spec gates: validation (the reference sanity_check analog,
/root/reference/utils/utils.py:74-132) and end-to-end spec execution with
resume semantics."""

import os

import pytest

from video_features_spark.plans import FeatureJobSpec, build, run


def test_validate_rejects_bad_specs(tmp_path):
    good = dict(
        images_path=str(tmp_path / "i"), labels_path=str(tmp_path / "l"),
        output_path=str(tmp_path / "o"),
    )
    FeatureJobSpec(**good).validate()
    with pytest.raises(ValueError, match="unknown model"):
        FeatureJobSpec(**good, model="nope").validate()
    with pytest.raises(ValueError, match="num_parts"):
        FeatureJobSpec(**good, num_parts=0).validate()
    with pytest.raises(ValueError, match="salt_threshold"):
        FeatureJobSpec(**good, salt_threshold=0).validate()
    with pytest.raises(ValueError, match="output_path"):
        FeatureJobSpec(
            images_path=str(tmp_path), labels_path=str(tmp_path / "l"),
            output_path=str(tmp_path),
        ).validate()


def test_build_checks_schema(spark, tmp_path):
    p = str(tmp_path / "imgs")
    spark.range(3).write.parquet(p)  # wrong schema on purpose
    spec = FeatureJobSpec(images_path=p, labels_path=p, output_path=str(tmp_path / "o"))
    with pytest.raises(ValueError, match="image table missing"):
        build(spark, spec)


def test_run_end_to_end_and_resume(spark, tmp_path):
    from video_features_spark.sources.datagen import generate_images, generate_labels

    ip, lp, op = (str(tmp_path / d) for d in ("imgs", "lbls", "out"))
    generate_images(spark, 120, n_entities=6).write.parquet(ip)
    generate_labels(spark, 60, n_entities=6).write.parquet(lp)
    spec = FeatureJobSpec(
        images_path=ip, labels_path=lp, output_path=op, num_parts=8
    )
    stats = run(spark, spec)
    assert stats["parts_written"] >= 1 and stats["rows_written"] == 60
    # second run resumes: everything already checkpointed, nothing recomputed
    stats2 = run(spark, spec)
    assert stats2["parts_skipped"] == stats["parts_written"]
    assert stats2["rows_written"] == 0
    assert os.path.isdir(os.path.join(op, "_manifest"))


def test_audio_job_spec_end_to_end_and_resume(spark, tmp_path):
    from video_features_spark.plans.pipeline import FeatureJobSpec, run
    from video_features_spark.sources.datagen import generate_audio, generate_labels

    clips = str(tmp_path / "clips")
    labels = str(tmp_path / "labels")
    out = str(tmp_path / "out")
    generate_audio(spark, 30, n_entities=5).write.parquet(clips)
    generate_labels(spark, 20, n_entities=5).write.parquet(labels)
    spec = FeatureJobSpec(
        images_path=clips, labels_path=labels, output_path=out,
        model="vggish-det", modality="audio", num_parts=4,
    )
    stats = run(spark, spec)
    assert stats["parts_written"] > 0 and stats["rows_written"] == 20
    # re-run resumes to a no-op
    stats2 = run(spark, spec)
    assert stats2["parts_written"] == 0 and stats2["parts_skipped"] == stats["parts_written"]


def test_job_spec_validates_modality_and_precision(tmp_path):
    import pytest as _pytest

    from video_features_spark.plans.pipeline import FeatureJobSpec

    base = dict(images_path="a", labels_path="b", output_path="c")
    with _pytest.raises(ValueError, match="modality"):
        FeatureJobSpec(**base, modality="text").validate()
    FeatureJobSpec(**base, modality="video").validate()  # S2 path is real now
    with _pytest.raises(ValueError, match="precision"):
        FeatureJobSpec(**base, precision="int8").validate()
    FeatureJobSpec(**base, modality="audio", model="vggish-det").validate()
    FeatureJobSpec(**base, precision="fp16", augment_seed=7).validate()


def test_video_job_spec_end_to_end_and_resume(spark, tmp_path):
    """S2 composition through the job spec: MJPEG-AVI clips → frame stream →
    embed → strict as-of → checkpointed write; re-run resumes to a no-op."""
    from pyspark.sql import functions as F

    from video_features_spark.plans.pipeline import FeatureJobSpec, run
    from video_features_spark.sources.datagen import generate_labels, generate_videos

    clips = str(tmp_path / "clips")
    labels = str(tmp_path / "labels")
    out = str(tmp_path / "out")
    generate_videos(spark, 10, n_entities=5).write.parquet(clips)
    generate_labels(spark, 20, n_entities=5).write.parquet(labels)
    spec = FeatureJobSpec(
        images_path=clips, labels_path=labels, output_path=out,
        modality="video", num_parts=4,
    )
    stats = run(spark, spec)
    assert stats["parts_written"] > 0 and stats["rows_written"] == 20
    joined = spark.read.parquet(out + "/data")
    assert joined.filter(F.col("embedding").isNotNull()).count() > 0
    stats2 = run(spark, spec)
    assert stats2["parts_written"] == 0 and stats2["parts_skipped"] == stats["parts_written"]


def test_build_skips_quarantined_newest_image(spark, tmp_path):
    """An undecodable image newer than every valid one must not win the
    as-of match: the label gets the newest VALID feature, never the bad
    row's timestamp with a null embedding."""
    import datetime as dt

    from video_features_spark.sources.datagen import (
        IMAGES_SCHEMA,
        LABELS_SCHEMA,
        generate_images,
    )

    imgs = generate_images(spark, 40, n_entities=1).toPandas().sort_values("ts")
    imgs.iloc[-1, imgs.columns.get_loc("bytes")] = b"not an image"
    ip, lp = str(tmp_path / "imgs"), str(tmp_path / "lbls")
    spark.createDataFrame(imgs, IMAGES_SCHEMA).write.parquet(ip)
    label_ts = imgs["ts"].iloc[-1].to_pydatetime() + dt.timedelta(hours=1)
    spark.createDataFrame(
        [(imgs["entity_id"].iloc[0], label_ts, 1.0)], LABELS_SCHEMA
    ).write.parquet(lp)
    spec = FeatureJobSpec(images_path=ip, labels_path=lp, output_path=str(tmp_path / "o"))
    (row,) = build(spark, spec).collect()
    assert row["ts_asof"] == imgs["ts"].iloc[-2].to_pydatetime()
    assert row["embedding"] is not None
