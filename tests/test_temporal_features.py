"""Gates for consecutive-pair features (J1/flow), stack mean-pooling
(A1/S3D), zero-shot classification (J2/W6)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from video_features_spark.operators.features import extract_image_features
from video_features_spark.operators.temporal_features import (
    consecutive_pair_embeddings,
    consecutive_pair_features,
    consecutive_pair_flow_fields,
    stack_mean_pool,
    zero_shot_classify,
)
from video_features_spark.sources.datagen import generate_images

N, N_ENT = 120, 4


@pytest.fixture(scope="module")
def images(spark):
    df = generate_images(spark, N, n_entities=N_ENT).cache()
    df.count()
    return df


def test_pair_features_counts_and_order(spark, images):
    """T frames per entity → exactly T-1 pairs (reference flow semantics);
    every pair is strictly forward in time."""
    res = consecutive_pair_features(images).cache()
    per_entity = {r["entity_id"]: r["n"] for r in
                  res.groupBy("entity_id").agg(F.count("*").alias("n")).collect()}
    want = {r["entity_id"]: r["n"] - 1 for r in
            images.groupBy("entity_id").agg(F.count("*").alias("n")).collect()}
    assert per_entity == want
    assert res.filter(F.col("next_ts") <= F.col("ts")).count() == 0
    # same-size consecutive images must yield features; mismatched sizes error
    ok = res.filter("error is null")
    assert ok.count() > 0
    assert ok.filter("mean_abs_motion is null").count() == 0


def test_pair_features_values_match_local(spark, images):
    """Spot-check one pair against a local numpy computation."""
    from video_features_spark.functions.codec import decode_image

    rows = (images.filter(F.col("entity_id") == "e00000")
            .orderBy("ts").limit(2).collect())
    a = decode_image(bytes(rows[0]["bytes"]), rows[0]["fmt"])
    b = decode_image(bytes(rows[1]["bytes"]), rows[1]["fmt"])
    res = (consecutive_pair_features(images)
           .filter((F.col("entity_id") == "e00000") & (F.col("ts") == rows[0]["ts"]))
           .first())
    if a.shape == b.shape:
        diff = np.abs(a.astype(np.int16) - b.astype(np.int16))
        assert res["error"] is None
        assert abs(res["mean_abs_motion"] - float(diff.mean())) < 1e-9
    else:
        assert res["error"] is not None


def test_stack_mean_pool_matches_manual(spark, images):
    feats = extract_image_features(images).cache()
    res = stack_mean_pool(feats, stack_size=8, step_size=4).cache()
    # complete-stacks-only count: per entity floor((n-8)/4)+1
    ns = {r["entity_id"]: r["n"] for r in
          feats.groupBy("entity_id").agg(F.count("*").alias("n")).collect()}
    want_counts = {e: max((n - 8) // 4 + 1, 0) for e, n in ns.items()}
    got_counts = {r["entity_id"]: r["n"] for r in
                  res.groupBy("entity_id").agg(F.count("*").alias("n")).collect()}
    assert got_counts == want_counts
    # manual check of the first stack of one entity
    ent = feats.filter(F.col("entity_id") == "e00001").orderBy("ts").collect()
    manual = np.array([r["embedding"] for r in ent[:8]], np.float32).mean(axis=0)
    got = res.filter((F.col("entity_id") == "e00001") & (F.col("stack_start_idx") == 0)).first()
    assert np.allclose(np.array(got["stack_embedding"], np.float32), manual, rtol=1e-5, atol=1e-6)
    assert got["stack_ts"] == ent[7]["ts"]  # fire-at-stack-full timestamp


def test_zero_shot_classify(spark, images):
    feats = extract_image_features(images.limit(20))
    classes = ["a photo of a cat", "a photo of a dog", "a landscape", "a vehicle", "food"]
    res = zero_shot_classify(feats, classes, top_k=3).cache()
    assert res.groupBy("image_id").count().filter("count != 3").count() == 0
    # softmax normalizes over ALL classes (reference semantics), so the
    # surviving top-3 sum to < 1 while a full-k run sums to exactly 1
    probs = res.groupBy("image_id").agg(F.sum("prob").alias("p")).collect()
    assert all(0 < r["p"] < 1 + 1e-9 for r in probs)
    full = zero_shot_classify(feats, classes, top_k=len(classes)).cache()
    fp = full.groupBy("image_id").agg(F.sum("prob").alias("p")).collect()
    assert all(abs(r["p"] - 1.0) < 1e-6 for r in fp)
    # truncating to top-k must not change the prob values themselves
    j = res.select("image_id", "class_id", "prob").join(
        full.select("image_id", "class_id", F.col("prob").alias("prob_full")),
        ["image_id", "class_id"],
    )
    assert j.count() == res.count()
    assert j.filter(F.abs(F.col("prob") - F.col("prob_full")) > 1e-9).count() == 0
    assert res.filter((F.col("rank") == 1) & (F.col("prob") <= 0)).count() == 0


PAIR_OPERATORS = {
    "features": consecutive_pair_features,
    "embeddings": consecutive_pair_embeddings,
    "flow": consecutive_pair_flow_fields,
}


def _rows_by_pair(df):
    return {(r["entity_id"], r["ts"]): tuple(r) for r in df.collect()}


def test_pair_operators_identical_across_partitionings(spark, images):
    """The one pairing path (lead window) gives the identical pair set and
    values for 1, 3 and 7 input partitions, for all three pair operators.
    Equality is exact: pair embeddings must be bit-identical."""
    for name, op in PAIR_OPERATORS.items():
        want = _rows_by_pair(op(images))
        assert len(want) == N - N_ENT, name
        for k in (1, 3, 7):
            assert _rows_by_pair(op(images.repartition(k))) == want, (name, k)


def test_pair_operators_quarantine_undecodable_frame(spark, images):
    """One undecodable image in the middle of an entity quarantines exactly
    the two pairs that contain it (null outputs, ``error`` naming the decode
    exception's class) in every pair operator; every other row equals the
    clean run's."""
    from video_features_spark.functions.codec import decode_image

    garbage = b"not-an-image-payload"
    with pytest.raises(Exception) as exc:
        decode_image(garbage, "png")
    err_cls = type(exc.value).__name__
    ent = images.filter(F.col("entity_id") == "e00001").orderBy("ts").collect()
    mid = len(ent) // 2
    bad = images.withColumn(
        "bytes",
        F.when(F.col("image_id") == ent[mid]["image_id"], F.lit(garbage))
        .otherwise(F.col("bytes")),
    ).cache()
    hit = {("e00001", ent[mid - 1]["ts"]), ("e00001", ent[mid]["ts"])}
    for name, op in PAIR_OPERATORS.items():
        clean, got = _rows_by_pair(op(images)), _rows_by_pair(op(bad))
        assert set(got) == set(clean), name
        for key in hit:
            row = got[key]
            assert row[-1].startswith(f"{err_cls}: "), (name, row[-1])
            assert all(v is None for v in row[3:-1]), name
        assert {k: v for k, v in got.items() if k not in hit} == {
            k: v for k, v in clean.items() if k not in hit
        }, name
    bad.unpersist()


def test_pair_embeddings_deterministic_and_pair_sensitive(spark):
    """Two-input pair encoder (RAFT shape): bit-identical across
    partitionings, one row per consecutive pair, order-sensitive (swapping
    the frames changes the embedding — the diff block sees direction)."""
    import numpy as np

    from video_features_spark.functions.embed import preprocess_and_embed_pairs
    from video_features_spark.operators.temporal_features import consecutive_pair_embeddings
    from video_features_spark.sources.datagen import generate_images

    imgs = generate_images(spark, 30, n_entities=3).cache()
    a = {(r["entity_id"], r["ts"]): np.array(r["embedding"], np.float32)
         for r in consecutive_pair_embeddings(imgs).collect()}
    b = {(r["entity_id"], r["ts"]): np.array(r["embedding"], np.float32)
         for r in consecutive_pair_embeddings(imgs.repartition(7)).collect()}
    assert len(a) == 30 - 3 and set(a) == set(b)
    assert all((a[k] == b[k]).all() for k in a)
    assert all(abs(np.linalg.norm(v) - 1.0) < 1e-4 for v in a.values())
    # direction sensitivity on raw kernels
    rng = np.random.default_rng(5)
    f1 = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    f2 = rng.integers(0, 256, (48, 64, 3), dtype=np.uint8)  # mixed sizes legal
    fwd = preprocess_and_embed_pairs([f1], [f2])
    rev = preprocess_and_embed_pairs([f2], [f1])
    assert not np.allclose(fwd, rev)


def test_pair_flow_field_dense_grid(spark, images):
    """RAFT output-semantics analog: every pair emits a dense 2x8x8 motion
    grid; identical frames yield a zero field; the kernel is deterministic
    across calls and mixed frame sizes are legal (both downsample to the
    grid)."""
    from video_features_spark.functions.flow import pair_flow_field
    from video_features_spark.operators.temporal_features import (
        consecutive_pair_flow_fields,
    )

    res = consecutive_pair_flow_fields(images, grid=8).cache()
    n_imgs = images.count()
    assert res.count() == n_imgs - N_ENT
    ok = res.filter("error is null")
    assert ok.count() == res.count()
    assert ok.filter(F.size("flow") != 128).count() == 0

    # kernel-level invariants
    rng = np.random.default_rng(7)
    a = rng.integers(0, 255, (64, 48, 3), dtype=np.uint8)
    b = rng.integers(0, 255, (32, 80, 3), dtype=np.uint8)  # mixed sizes legal
    f1 = pair_flow_field(a, b)
    assert f1.shape == (2, 8, 8) and f1.dtype == np.float32
    assert np.array_equal(f1, pair_flow_field(a, b))  # deterministic
    zero = pair_flow_field(a, a)
    assert np.abs(zero).max() == 0.0
    with pytest.raises(ValueError):
        pair_flow_field(a[:4, :4], b)  # smaller than the grid


def test_flow_visualization_colorwheel_semantics():
    """Published Baker et al. wheel semantics (the reference renders RAFT
    fields with the same spec, utils/flow_viz.py): 55 hues anchored at pure
    R/G/B at the segment boundaries; zero motion renders white; direction
    changes hue; magnitude saturates; output deterministic uint8."""
    from video_features_spark.functions.flow import flow_colorwheel, flow_to_rgb

    w = flow_colorwheel()
    assert w.shape == (55, 3) and w.min() >= 0.0 and w.max() <= 1.0
    assert (w[0] == [1, 0, 0]).all()      # RY start: pure red
    assert (w[21] == [0, 1, 0]).all()     # GC start: pure green
    assert (w[36] == [0, 0, 1]).all()     # BM start: pure blue

    zero = flow_to_rgb(np.zeros((2, 5, 5)))
    assert zero.dtype == np.uint8 and (zero == 255).all()
    right = np.zeros((2, 3, 3)); right[0] += 1.0
    up = np.zeros((2, 3, 3)); up[1] += 1.0
    r_img, u_img = flow_to_rgb(right), flow_to_rgb(up)
    assert not (r_img == u_img).all()     # direction changes hue
    assert (flow_to_rgb(right) == r_img).all()  # deterministic
    half = flow_to_rgb(right * 0.5, max_mag=1.0)
    assert half.mean() > r_img.mean()     # lower magnitude -> closer to white
