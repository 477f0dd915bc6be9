"""Job-spec gates: validation (the reference sanity_check analog,
/root/reference/utils/utils.py:74-132) and end-to-end spec execution with
resume semantics."""

import datetime as dt
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
    # only the images some label matches are decoded, each once
    assert stats["rows_in"] == _matched_images(ip, lp) and stats["quarantined_rows"] == 0
    # second run resumes: everything already checkpointed, nothing recomputed
    stats2 = run(spark, spec)
    assert stats2["parts_skipped"] == stats["parts_written"]
    assert stats2["rows_written"] == 0
    assert stats2["rows_in"] == 0  # completed partitions pruned below the UDF
    assert os.path.isdir(os.path.join(op, "_manifest"))


def _matched_images(images_path, labels_path, entities=None):
    """The number of distinct images some label matches: a strict as-of
    oracle (``pd.merge_asof``, ``allow_exact_matches=False``) over the input
    files, optionally restricted to the given entities."""
    import pandas as pd
    import pyarrow.parquet as pq

    imgs = pq.read_table(images_path, columns=["image_id", "entity_id", "ts"]).to_pandas()
    labels = pq.read_table(labels_path, columns=["entity_id", "label_ts"]).to_pandas()
    for df, ts in ((imgs, "ts"), (labels, "label_ts")):
        df["entity_id"] = df["entity_id"].astype(str)
        df[ts] = pd.to_datetime(df[ts], utc=True)
    if entities is not None:
        imgs = imgs[imgs["entity_id"].isin(entities)]
        labels = labels[labels["entity_id"].isin(entities)]
    matched = pd.merge_asof(
        labels.sort_values("label_ts"), imgs.sort_values("ts"), left_on="label_ts",
        right_on="ts", by="entity_id", direction="backward", allow_exact_matches=False,
    )
    return matched["image_id"].nunique()


def _digest(df):
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
    ).first()


@pytest.mark.parametrize("label_key,image_key", [("string", "string"), ("int", "long")])
def test_resume_recomputes_exactly_the_lost_partitions(spark, tmp_path, label_key, image_key):
    """Crash between the data write and the manifest append of 2 of 8
    partitions: the rerun decodes only the images of entities in those
    partitions, rewrites exactly them, and the output is unchanged. The
    int/long case pins the pruning hash to the JOINED key type (hashing the
    labels' int key as an int would prune the wrong partitions)."""
    import shutil

    from pyspark.sql import functions as F

    from video_features_spark.sources.checkpoint import (
        PART_COL,
        load_manifest,
        partition_id,
        read_checkpointed,
        verify_manifest,
    )
    from video_features_spark.sources.datagen import generate_images, generate_labels

    def keyed(df, key_type):
        return df.withColumn("entity_id", F.expr("substring(entity_id, 2)").cast(key_type))

    ip, lp, op = (str(tmp_path / d) for d in ("imgs", "lbls", "out"))
    keyed(generate_images(spark, 120, n_entities=24), image_key).write.parquet(ip)
    keyed(generate_labels(spark, 96, n_entities=24), label_key).write.parquet(lp)
    spec = FeatureJobSpec(images_path=ip, labels_path=lp, output_path=op, num_parts=8)
    first = run(spark, spec)
    assert first["rows_in"] == _matched_images(ip, lp) and first["rows_written"] == 96
    cold = _digest(read_checkpointed(spark, op))

    part_rows = dict(load_manifest(spark, op).select(PART_COL, "row_count").collect())
    lost = sorted(part_rows)[:2]
    kept = [r for r in load_manifest(spark, op).collect() if r[PART_COL] not in lost]
    schema = load_manifest(spark, op).schema
    shutil.rmtree(os.path.join(op, "_manifest"))
    spark.createDataFrame(kept, schema).write.parquet(os.path.join(op, "_manifest"))

    stats = run(spark, spec)
    # the writer's key type: the joined output widens int labels to long
    key = F.col("entity_id").cast("long" if image_key == "long" else "string")
    lost_images = spark.read.parquet(ip).filter(partition_id([key], 8).isin(*lost))
    assert 0 < lost_images.count() < 120
    lost_entities = {str(r["entity_id"]) for r in lost_images.select("entity_id").distinct().collect()}
    assert stats["rows_in"] == _matched_images(ip, lp, lost_entities)
    assert stats["parts_written"] == 2
    assert stats["rows_written"] == sum(part_rows[p] for p in lost)
    assert verify_manifest(spark, op).count() == 0
    assert _digest(read_checkpointed(spark, op)) == cold


def test_run_fails_on_leakage_before_anything_commits(spark, tmp_path, monkeypatch):
    """A leaking row fails the write's job: run() raises AssertionError
    ("temporal leakage…") and commits no data file and no manifest row. The
    leak is planted by letting the as-of join admit an equal-timestamp
    feature while the spec (and so the guard) stays strict."""
    import video_features_spark.operators.asof as asof_mod
    from video_features_spark.sources.checkpoint import load_manifest
    from video_features_spark.sources.datagen import LABELS_SCHEMA, generate_images

    imgs = generate_images(spark, 12, n_entities=3)
    ip, lp, op = (str(tmp_path / d) for d in ("imgs", "lbls", "out"))
    imgs.write.parquet(ip)
    first = imgs.orderBy("ts").select("entity_id", "ts").first()
    spark.createDataFrame([(first["entity_id"], first["ts"], 1.0)], LABELS_SCHEMA).write.parquet(lp)

    real_asof = asof_mod.asof_join
    monkeypatch.setattr(
        asof_mod, "asof_join", lambda *a, **kw: real_asof(*a, **{**kw, "strict": False})
    )
    spec = FeatureJobSpec(images_path=ip, labels_path=lp, output_path=op, num_parts=4)
    with pytest.raises(AssertionError, match=r"^temporal leakage") as info:
        run(spark, spec)
    assert first["entity_id"] in str(info.value)
    data = os.path.join(op, "data")
    assert not os.path.exists(data) or not [
        f for _, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")
    ]
    assert load_manifest(spark, op) is None
    # the same tables pass once the as-of join is strict again
    monkeypatch.setattr(asof_mod, "asof_join", real_asof)
    assert run(spark, spec)["rows_written"] == 1


def test_run_restores_session_conf(spark, tmp_path, monkeypatch):
    """run() sets two SQL confs for its write: a caller's values of both
    survive a run that aborts on leakage (planted as in the test above) and
    a run that commits. The shared session is not mutated for good."""
    import video_features_spark.operators.asof as asof_mod
    from video_features_spark.sources.datagen import LABELS_SCHEMA, generate_images

    caller = {
        "spark.sql.adaptive.optimizer.excludedRules": "org.apache.spark.sql.catalyst.optimizer.EliminateLimits",
        "spark.sql.requireAllClusterKeysForCoPartition": "true",
    }
    imgs = generate_images(spark, 12, n_entities=3)
    ip, lp, op = (str(tmp_path / d) for d in ("imgs", "lbls", "out"))
    imgs.write.parquet(ip)
    first = imgs.orderBy("ts").select("entity_id", "ts").first()
    spark.createDataFrame([(first["entity_id"], first["ts"], 1.0)], LABELS_SCHEMA).write.parquet(lp)
    spec = FeatureJobSpec(images_path=ip, labels_path=lp, output_path=op, num_parts=4)
    real_asof = asof_mod.asof_join
    for key, value in caller.items():
        spark.conf.set(key, value)
    try:
        monkeypatch.setattr(
            asof_mod, "asof_join", lambda *a, **kw: real_asof(*a, **{**kw, "strict": False})
        )
        with pytest.raises(AssertionError, match=r"^temporal leakage"):
            run(spark, spec)
        assert {key: spark.conf.get(key) for key in caller} == caller
        monkeypatch.setattr(asof_mod, "asof_join", real_asof)
        assert run(spark, spec)["rows_written"] == 1
        assert {key: spark.conf.get(key) for key in caller} == caller
    finally:
        for key in caller:
            spark.conf.unset(key)


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


def test_job_spec_validates_modality_and_model():
    base = dict(images_path="a", labels_path="b", output_path="c")
    with pytest.raises(ValueError, match="modality"):
        FeatureJobSpec(**base, modality="text").validate()
    FeatureJobSpec(**base, modality="video").validate()  # S2 path is real now
    FeatureJobSpec(**base, modality="audio", model="vggish-det").validate()
    # a model must serve the spec's modality: the audio head cannot embed
    # frames and an image model cannot embed log-mel examples
    with pytest.raises(ValueError, match="'clip-small-det' serves image inputs, not audio"):
        FeatureJobSpec(**base, modality="audio", model="clip-small-det").validate()
    for modality in ("image", "video"):
        for model in ("vggish-det", "raft-small-det"):
            with pytest.raises(ValueError, match=f"'{model}' serves .* inputs, not image"):
                FeatureJobSpec(**base, modality=modality, model=model).validate()


def test_operators_reject_mismatched_model_before_any_job(spark):
    """A wrong model name fails on the driver while the plan is built — not
    inside a task, and not by silently seeding weights from the name."""
    import datetime as dt

    from video_features_spark.operators.audio import extract_audio_features
    from video_features_spark.operators.temporal_features import consecutive_pair_embeddings

    ts = dt.datetime(2024, 1, 1)
    clips = spark.createDataFrame(
        [("c0", "e0", ts, b"RIFF")], "clip_id string, entity_id string, ts timestamp, audio binary"
    )
    frames = spark.createDataFrame(
        [("e0", ts, b"\x89PNG", "png")], "entity_id string, ts timestamp, bytes binary, fmt string"
    )
    sc = spark.sparkContext
    sc.setJobGroup("mismatched-model", "must stay empty")
    try:
        with pytest.raises(ValueError, match="unknown model 'no-such-model'; audio models"):
            extract_audio_features(clips, "no-such-model")
        with pytest.raises(ValueError, match="'clip-small-det' serves image inputs, not pair"):
            consecutive_pair_embeddings(frames, "clip-small-det")
        assert sc.statusTracker().getJobIdsForGroup("mismatched-model") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_video_job_spec_end_to_end_and_resume(spark, tmp_path):
    """S2 composition through the job spec: MJPEG-AVI clips → frame stream →
    embed → strict as-of → checkpointed write; re-run resumes to a no-op."""
    from pyspark.sql import functions as F

    from video_features_spark.plans.pipeline import FeatureJobSpec, run
    from video_features_spark.sources.checkpoint import read_checkpointed
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
    joined = read_checkpointed(spark, out)
    assert joined.filter(F.col("embedding").isNotNull()).count() > 0
    stats2 = run(spark, spec)
    assert stats2["parts_written"] == 0 and stats2["parts_skipped"] == stats["parts_written"]


def _job_descriptions(spark, group):
    """The descriptions of the Spark jobs launched under ``group``."""
    store = spark.sparkContext._jsc.sc().statusStore()  # noqa: SLF001
    out = []
    for j in spark.sparkContext.statusTracker().getJobIdsForGroup(group):
        desc = store.job(j).description()
        out.append(desc.get() if desc.isDefined() else None)
    return out


def _in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)


def test_build_is_lazy_and_run_skips_quarantined_newest_image(spark, tmp_path):
    """An undecodable image newer than every valid one: calling ``build``
    launches no Spark job, evaluating its plan fails on the matched bad row,
    and ``run`` gives the label the newest VALID feature, never the bad
    row's timestamp with a null embedding."""
    from pyspark.errors import SparkRuntimeException

    from video_features_spark.sources.checkpoint import read_checkpointed
    from video_features_spark.sources.datagen import (
        IMAGES_SCHEMA,
        LABELS_SCHEMA,
        generate_images,
    )

    imgs = generate_images(spark, 40, n_entities=1).toPandas().sort_values("ts")
    imgs.iloc[-1, imgs.columns.get_loc("bytes")] = b"not an image"
    ip, lp, op = (str(tmp_path / d) for d in ("imgs", "lbls", "o"))
    spark.createDataFrame(imgs, IMAGES_SCHEMA).write.parquet(ip)
    label_ts = imgs["ts"].iloc[-1].to_pydatetime() + dt.timedelta(hours=1)
    spark.createDataFrame(
        [(imgs["entity_id"].iloc[0], label_ts, 1.0)], LABELS_SCHEMA
    ).write.parquet(lp)
    spec = FeatureJobSpec(images_path=ip, labels_path=lp, output_path=op)
    plan = _in_group(spark, "plans-build", lambda: build(spark, spec))
    assert _job_descriptions(spark, "plans-build") == []
    with pytest.raises(SparkRuntimeException, match="undecodable matched media"):
        plan.collect()
    assert run(spark, spec)["quarantined_rows"] == 1
    (row,) = read_checkpointed(spark, op).collect()
    assert row["ts_asof"] == imgs["ts"].iloc[-2].to_pydatetime()
    assert row["embedding"] is not None


def test_run_requeues_labels_past_undecodable_matches(spark, tmp_path, monkeypatch):
    """The two newest images of an entity are undecodable: the optimistic
    write aborts twice (once per newly matched bad image, nothing committed
    either time), and the label ends up with the third-newest image's
    feature. Both bad images are counted as quarantined and as decoded."""
    import glob

    import video_features_spark.sources.checkpoint as ckpt
    from video_features_spark.sources.checkpoint import read_checkpointed
    from video_features_spark.sources.datagen import IMAGES_SCHEMA, LABELS_SCHEMA, generate_images

    imgs = generate_images(spark, 40, n_entities=2).toPandas().sort_values("ts")
    e0 = imgs[imgs["entity_id"] == "e00000"]
    for i in e0.index[-2:]:
        imgs.at[i, "bytes"] = b"not an image"
    ip, lp, op = (str(tmp_path / d) for d in ("imgs", "lbls", "out"))
    spark.createDataFrame(imgs, IMAGES_SCHEMA).write.parquet(ip)
    after = imgs.groupby("entity_id")["ts"].max()
    spark.createDataFrame(
        [(e, ts.to_pydatetime() + dt.timedelta(hours=1), 1.0) for e, ts in after.items()],
        LABELS_SCHEMA,
    ).write.parquet(lp)

    aborted = []
    real_write = ckpt.checkpointed_write

    def spy(df, base, *args, **kwargs):
        try:
            return real_write(df, base, *args, **kwargs)
        except Exception:
            aborted.append((glob.glob(f"{base}/data/**/*.parquet", recursive=True),
                            os.path.exists(f"{base}/_manifest")))
            raise

    monkeypatch.setattr(ckpt, "checkpointed_write", spy)
    spec = FeatureJobSpec(images_path=ip, labels_path=lp, output_path=op, num_parts=4)
    stats = _in_group(spark, "plans-requeue", lambda: run(spark, spec))
    assert aborted == [([], False), ([], False)]
    assert _job_descriptions(spark, "plans-requeue").count("plans: undecodable matches") >= 2
    assert stats["quarantined_rows"] == 2
    assert stats["rows_in"] == 2 + 2  # the two committed matches + the two bad images
    assert stats["rows_written"] == 2
    row = read_checkpointed(spark, op).filter("entity_id = 'e00000'").first()
    assert row["ts_asof"] == e0["ts"].iloc[-3].to_pydatetime()
    assert row["embedding"] is not None


def test_clean_run_decodes_only_matches_and_collects_no_failures(spark, tmp_path):
    """An undecodable image that no label matches is never decoded: the run
    is clean (no abort, no failure-collection job), decodes exactly the one
    matched image, and computes the as-of exchange once (the key set and the
    join-back share it)."""
    from video_features_spark.sources.datagen import IMAGES_SCHEMA, LABELS_SCHEMA, generate_images

    imgs = generate_images(spark, 20, n_entities=1).toPandas().sort_values("ts")
    imgs.at[imgs.index[-1], "bytes"] = b"not an image"
    ip, lp, op = (str(tmp_path / d) for d in ("imgs", "lbls", "out"))
    spark.createDataFrame(imgs, IMAGES_SCHEMA).write.parquet(ip)
    prev, newest = imgs["ts"].iloc[-2], imgs["ts"].iloc[-1]
    spark.createDataFrame(
        [("e00000", (prev + (newest - prev) / 2).to_pydatetime(), 1.0)], LABELS_SCHEMA
    ).write.parquet(lp)
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    before = store.executionsList().size()

    spec = FeatureJobSpec(images_path=ip, labels_path=lp, output_path=op, num_parts=4)
    stats = _in_group(spark, "plans-clean", lambda: run(spark, spec))
    assert stats["rows_in"] == 1 and stats["quarantined_rows"] == 0
    assert "plans: undecodable matches" not in _job_descriptions(spark, "plans-clean")
    execs = store.executionsList()
    writes = [
        execs.apply(i) for i in range(before, execs.size())
        if execs.apply(i).description() == "checkpoint: write data"
    ]
    assert len(writes) == 1
    assert "ReusedExchange" in writes[0].physicalPlanDescription()


def test_duplicate_ts_images_resolve_by_id_hash(spark, tmp_path):
    """Two images of one entity at the same ts: the match keeps the one with
    the max xxhash64(struct(image_id, ts)), decided on metadata alone."""
    from pyspark.sql import functions as F

    from video_features_spark.operators.features import extract_image_features
    from video_features_spark.sources.datagen import IMAGES_SCHEMA, LABELS_SCHEMA, generate_images

    imgs = generate_images(spark, 2, n_entities=1).toPandas()
    imgs["ts"] = imgs["ts"].iloc[0]
    ip, lp = str(tmp_path / "imgs"), str(tmp_path / "lbls")
    spark.createDataFrame(imgs, IMAGES_SCHEMA).write.parquet(ip)
    label_ts = imgs["ts"].iloc[0].to_pydatetime() + dt.timedelta(hours=1)
    spark.createDataFrame([("e00000", label_ts, 1.0)], LABELS_SCHEMA).write.parquet(lp)

    feats = (
        extract_image_features(spark.read.parquet(ip))
        .withColumn("h", F.xxhash64(F.struct("image_id", F.col("ts").cast("timestamp"))))
        .collect()
    )
    winner, loser = sorted(feats, key=lambda r: r["h"], reverse=True)
    assert winner["embedding"] != loser["embedding"]
    spec = FeatureJobSpec(images_path=ip, labels_path=lp, output_path=str(tmp_path / "o"))
    (row,) = build(spark, spec).collect()
    assert row["embedding"] == winner["embedding"]


def test_corrupt_video_container_never_matches(spark, tmp_path):
    """A container that fails to demux yields one error row with no frame and
    no ts; it never enters the match (a null ts would sort before every
    label of its entity), and the run stays clean."""
    from pyspark.sql import functions as F

    from video_features_spark.plans.pipeline import _match, _media_rows, _read_inputs
    from video_features_spark.sources.datagen import (
        LABELS_SCHEMA,
        VIDEOS_SCHEMA,
        generate_labels,
        generate_videos,
    )

    vids = generate_videos(spark, 10, n_entities=5).toPandas()
    bad = vids.iloc[0]
    vids.at[vids.index[0], "video"] = b"not a container"
    clips, labels, out = (str(tmp_path / d) for d in ("clips", "labels", "out"))
    spark.createDataFrame(vids, VIDEOS_SCHEMA).write.parquet(clips)
    early = spark.createDataFrame(
        [(bad["entity_id"], vids["ts"].min().to_pydatetime() - dt.timedelta(days=1), 0.0)],
        LABELS_SCHEMA,
    )
    generate_labels(spark, 20, n_entities=5).unionByName(early).write.parquet(labels)
    spec = FeatureJobSpec(
        images_path=clips, labels_path=labels, output_path=out, modality="video", num_parts=4
    )
    media, lbls = _read_inputs(spark, spec)
    assert _match(spec, _media_rows(spec, media), lbls).filter(
        F.col("image_id") == bad["video_id"]
    ).count() == 0
    stats = run(spark, spec)
    assert stats["rows_written"] == 21 and stats["quarantined_rows"] == 0
