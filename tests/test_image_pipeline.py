"""End-to-end image pipeline gates, Spark-shaped versions of the reference's
golden-fixture tests (/root/reference/tests/utils.py:107-135): decode-pixel
invariants, embedding allclose vs pinned fixtures, determinism across
parallelism levels, zero temporal leakage."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from video_features_spark.functions.codec import decode_image
from video_features_spark.functions.embed import embed_captions, preprocess_and_embed
from video_features_spark.operators import asof_join, backfill, sessionize
from video_features_spark.operators.asof import assert_no_leakage
from video_features_spark.operators.features import (
    embed_caption_column,
    extract_image_features,
    image_text_similarity,
)
from video_features_spark.sources.datagen import generate_images, generate_labels

N, N_ENT = 200, 5


@pytest.fixture(scope="module")
def images(spark):
    df = generate_images(spark, N, n_entities=N_ENT).cache()
    df.count()
    return df


def test_schema_and_rowcount(images):
    assert images.count() == N
    names = dict(zip(images.schema.names, [f.dataType.simpleString() for f in images.schema.fields]))
    assert names == {
        "image_id": "string", "entity_id": "string", "ts": "timestamp",
        "bytes": "binary", "w": "int", "h": "int", "fmt": "string",
        "caption": "string", "phash": "bigint",
    }
    assert images.select("image_id").distinct().count() == N  # A5 distinct guard


def test_decoded_pixels_and_caption_equality(images):
    """input_hint per-row invariants: decode matches declared (w, h); caption
    survives the Spark round-trip byte-identically."""
    rows = images.limit(20).collect()
    for r in rows:
        img = decode_image(bytes(r["bytes"]), r["fmt"])
        assert img.shape == (r["h"], r["w"], 3)
    # deterministic regeneration → captions byte-equal across independent scans
    from video_features_spark.sources.datagen import _row

    for r in rows:
        rid = int(r["image_id"][3:])
        regen = _row(42, rid, N_ENT, 0.10)
        assert regen[7] == r["caption"]
        assert bytes(regen[3]) == bytes(r["bytes"])


def test_phash_skew_exists(images):
    """The generator must produce hot phash buckets (forces the salting path)."""
    counts = [r["cnt"] for r in images.groupBy("phash").agg(F.count("*").alias("cnt"))
              .orderBy(F.desc("cnt")).limit(5).collect()]
    assert counts[0] >= N * 0.05, f"no hot bucket: top counts {counts}"


def test_embeddings_allclose_vs_local_fixture(spark, images):
    """numpy.allclose between Spark-computed embeddings and the same pinned
    extractor run locally (reference make_ref philosophy)."""
    feats = extract_image_features(images, "clip-small-det")
    got = {r["image_id"]: np.array(r["embedding"], np.float32)
           for r in feats.limit(50).collect()}
    rows = {r["image_id"]: r for r in images.filter(F.col("image_id").isin(*got)).collect()}
    for iid, emb in got.items():
        img = decode_image(bytes(rows[iid]["bytes"]), rows[iid]["fmt"])
        ref = preprocess_and_embed([img], "clip-small-det")[0]
        assert np.allclose(emb, ref, rtol=1e-5, atol=1e-6)
        assert abs(float(np.linalg.norm(emb)) - 1.0) < 1e-7  # L2-normalized


def test_embedding_deterministic_across_parallelism(spark):
    """Same rows, 1 partition vs 8 partitions → bit-identical embeddings
    (SURVEY §7 risk: float reduction order must not vary with partitioning)."""
    a = extract_image_features(generate_images(spark, 64, n_entities=4, partitions=1))
    b = extract_image_features(generate_images(spark, 64, n_entities=4, partitions=8))
    pa = {r["image_id"]: r["embedding"] for r in a.collect()}
    pb = {r["image_id"]: r["embedding"] for r in b.collect()}
    assert pa.keys() == pb.keys()
    for k in pa:
        assert pa[k] == pb[k]  # exact, not just allclose


def test_error_quarantine(spark, images):
    """Bad payloads must yield error rows, not job failure (reference skips the
    whole file on error, base_extractor.py:40-53; we quarantine the row)."""
    corrupted = images.withColumn(
        "bytes",
        F.when(F.col("image_id").endswith("0"), F.lit(bytearray(b"garbage")))
        .otherwise(F.col("bytes")),
    )
    feats = extract_image_features(corrupted).cache()
    bad = feats.filter("error is not null")
    good = feats.filter("error is null")
    assert bad.count() == images.filter(F.col("image_id").endswith("0")).count()
    assert bad.filter(F.col("embedding").isNotNull()).count() == 0
    assert good.count() + bad.count() == N
    # a quarantined row leaves its batch neighbours untouched: every good
    # row's embedding is bit-identical to a clean run over the same images
    clean = {r["image_id"]: r["embedding"] for r in extract_image_features(images).collect()}
    kept = good.select("image_id", "embedding").collect()
    assert kept and all(
        np.array(r["embedding"], np.float32).tobytes()
        == np.array(clean[r["image_id"]], np.float32).tobytes()
        for r in kept
    )


def test_flagship_asof_leakage_free(spark, images):
    feats = extract_image_features(images)
    labels = generate_labels(spark, 100, n_entities=N_ENT, images_per_entity=N // N_ENT)
    joined = asof_join(
        labels, feats.select("entity_id", "ts", "embedding"),
        on=["entity_id"], left_ts="label_ts", right_ts="ts", strict=True,
    ).cache()
    assert_no_leakage(joined, "label_ts", "ts_asof", strict=True)
    assert joined.count() == 100
    assert joined.filter(F.col("ts_asof").isNotNull()).count() > 0
    # strictness pinned: no matched feature ts equals its label ts
    assert joined.filter(F.col("ts_asof") == F.col("label_ts")).count() == 0


def test_caption_backfill(spark, images):
    filled = backfill(images, ["entity_id"], "ts", ["caption"])
    before = images.filter("caption is null").count()
    after = filled.filter("caption_filled is null").count()
    assert before > 0 and after < before


def test_embedding_backfill_array_column(spark, images):
    """North rule: backfill of missing *embeddings* — the fill value is an
    array<float> column, carried intact from the donor row."""
    feats = extract_image_features(images)
    holey = feats.withColumn(
        "embedding",
        F.when(F.xxhash64("image_id") % 3 == 0, None).otherwise(F.col("embedding")),
    )
    filled = backfill(holey, ["entity_id"], "ts", ["embedding"])
    n_null_before = holey.filter("embedding is null").count()
    n_null_after = filled.filter("embedding_filled is null").count()
    assert n_null_before > 0 and n_null_after < n_null_before
    # a filled row's vector equals the nearest preceding non-null row's vector
    r = (
        filled.filter(F.col("embedding").isNull() & F.col("embedding_filled").isNotNull())
        .limit(1).collect()
    )
    if r:
        ent, ts, vec = r[0]["entity_id"], r[0]["ts"], r[0]["embedding_filled"]
        donor = (
            holey.filter((F.col("entity_id") == ent) & (F.col("ts") < ts)
                         & F.col("embedding").isNotNull())
            .orderBy(F.desc("ts")).limit(1).collect()
        )
        assert donor and donor[0]["embedding"] == vec


def test_caption_embedding_and_similarity(spark, images):
    caps = embed_caption_column(images.select("image_id", "caption", "entity_id", "ts", "bytes", "fmt"))
    feats = extract_image_features(images).join(
        caps.select("image_id", "caption_embedding"), "image_id"
    )
    sim = image_text_similarity(feats)
    rows = sim.filter("caption_embedding is not null").limit(5).collect()
    assert all(r["img_txt_sim"] is not None for r in rows)
    # null captions → zero vector → zero similarity
    null_caps = [r["image_id"] for r in images.filter("caption is null").limit(3).collect()]
    if null_caps:
        z = sim.filter(F.col("image_id").isin(null_caps)).collect()
        assert all(abs(r["img_txt_sim"]) < 1e-6 for r in z)


def test_caption_embedding_matches_local(spark, images):
    caps = embed_caption_column(images).filter("caption is not null").limit(10).collect()
    for r in caps:
        ref = embed_captions([r["caption"]], "clip-small-det")[0]
        assert np.allclose(np.array(r["caption_embedding"], np.float32), ref, rtol=1e-5, atol=1e-6)


def test_phash_sessionize(spark, images):
    s = sessionize(images, ["phash"], "ts", gap_seconds=3600)
    assert s.count() == N
    assert s.agg(F.max("session_id")).first()[0] >= 1


def test_registered_checkpoint_is_distributed_verified_and_used(spark, tmp_path):
    """The real-weights path: .npz → SparkContext.addFile → SHA256 pin →
    executor workers load THROUGH SparkFiles inside the Arrow UDF. Constant
    weights make every embedding dim equal after tanh+L2 — impossible under
    the seeded weights, so this proves the checkpoint is what ran."""
    import numpy as np
    import pytest as _pytest

    from video_features_spark.functions import embed
    from video_features_spark.sources.datagen import generate_images

    spec = embed.MODEL_REGISTRY["clip-small-det"]
    w_img = np.full((spec.dim, embed._FEAT_IN), 0.01, np.float32)
    w_txt = np.full((spec.dim, 512), 0.01, np.float32)
    ck = tmp_path / "clip-small-det.npz"
    np.savez(ck, w_img=w_img, w_txt=w_txt)
    try:
        digest = embed.register_checkpoint(spark, "clip-small-det", str(ck))
        assert len(digest) == 64
        # a wrong published digest is rejected before distribution
        with _pytest.raises(ValueError, match="sha256"):
            embed.register_checkpoint(spark, "clip-small-det", str(ck), sha256="0" * 64)
        imgs = generate_images(spark, 12, n_entities=2)
        feats = extract_image_features(imgs, "clip-small-det")
        row = feats.filter(F.col("error").isNull()).first()
        emb = np.array(row["embedding"], np.float32)
        expected = 1.0 / np.sqrt(spec.dim)
        assert np.allclose(emb, expected, atol=1e-5), "checkpoint weights not used"
    finally:
        embed._CHECKPOINTS.pop("clip-small-det", None)
        embed._CACHE.clear()


def test_real_jpeg_decode_prefers_pil():
    """Real-JPEG payloads decode via PIL wherever it exists (the preferred
    production codec, codec.py:146-155); skipped — not silently absent — in
    containers without PIL."""
    PIL = pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    from video_features_spark.functions.codec import decode_image, psnr

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 255, size=(40, 56, 3), dtype=np.uint8)
    buf = io.BytesIO()
    Image.fromarray(arr).save(buf, format="JPEG", quality=95)
    out = decode_image(buf.getvalue(), "jpeg")
    assert out.shape == arr.shape and out.dtype == np.uint8
    assert psnr(arr, out) > 25.0


def test_pca_whiten_batch_semantics_and_batch_independence():
    """A4 whitening (vggish_postprocess.py:75-82 semantics): matches the
    reference's np.dot(A, (X.T - mu)).T formulation, and a row's output is
    bit-identical whether whitened alone or inside a large batch (the
    fixed-tile matmul contract every embedding kernel honors)."""
    import numpy as np

    from video_features_spark.functions.embed import pca_whiten_batch, synth_pca_params

    rng = np.random.default_rng(4)
    emb = rng.standard_normal((300, 64)).astype(np.float32)
    matrix, means = synth_pca_params(64)
    out = pca_whiten_batch(emb, matrix, means)
    assert out.shape == (300, 64) and out.dtype == np.float32
    ref = np.dot(matrix.astype(np.float64),
                 (emb.T.astype(np.float64) - means.astype(np.float64)[:, None])).T
    assert np.allclose(out, ref, atol=1e-4)
    # batch-size independence: rows 10..20 alone == same rows from the batch
    alone = pca_whiten_batch(emb[10:20], matrix, means)
    assert np.array_equal(alone, out[10:20])
    # params are a pure function of the seed
    m2, mu2 = synth_pca_params(64)
    assert np.array_equal(matrix, m2) and np.array_equal(means, mu2)
