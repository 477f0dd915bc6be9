"""Structured Streaming gates: streaming answers must equal the batch
operators' answers on the same (replayed) input; custom stateful op carries
state across micro-batches."""

import pytest
from pyspark.sql import functions as F

from video_features_spark.operators.features import extract_image_features
from video_features_spark.operators.windows import tumbling_window_agg
from video_features_spark.sources.datagen import generate_images


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events replayed as a 4-file stream (forces multiple micro-batches with
    maxFilesPerTrigger)."""
    d = str(tmp_path_factory.mktemp("stream_events"))
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(4).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def _run_stream(spark, sdf, name, mode="update"):
    import tempfile

    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")  # fresh per run: a stale
    # checkpoint pins the old input paths and poisons the next pytest session
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _read_stream(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)


def test_stream_tumbling_equals_batch(spark, events_dir):
    from video_features_spark.streaming import stream_tumbling_agg

    sdf = _read_stream(spark, events_dir)
    # complete mode: a finite replay's final table is the full answer (append
    # would only emit watermark-closed windows, i.e. nothing at stream end)
    res = _run_stream(
        spark, stream_tumbling_agg(sdf, ["user_id"], "ts", "1 day", watermark="365 days"),
        "t_tumbling", mode="complete",
    ).select("user_id", "win_start", "n_events", "sum_value")
    batch = tumbling_window_agg(
        spark.read.parquet(events_dir), ["user_id"], "ts", "1 day",
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        ],
    ).select("user_id", "win_start", "n_events", "sum_value")
    # both sides accumulate in decimal (associative) ⇒ parity is bit-exact
    # regardless of streaming-partial vs batch-partial merge order
    got = {tuple(r) for r in res.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_stream_sessionize_counts(spark, events_dir):
    from video_features_spark.streaming import stream_sessionize

    sdf = _read_stream(spark, events_dir)
    res = _run_stream(
        spark, stream_sessionize(sdf, ["user_id"], "ts", gap="30 minutes", watermark="365 days"),
        "t_sessions", mode="complete",
    )
    # session row counts must cover every input event exactly once
    total = res.agg(F.sum("n_events")).first()[0]
    assert total == spark.read.parquet(events_dir).count()
    assert res.filter(F.col("session_end") < F.col("session_start")).count() == 0


def test_stream_dedup(spark, events_dir):
    from video_features_spark.streaming import stream_dedup

    sdf = _read_stream(spark, events_dir)
    res = _run_stream(
        spark, stream_dedup(sdf, ["user_id", "event_type"], "ts", watermark="365 days"),
        "t_dedup", mode="append",
    )
    n_keys = (
        spark.read.parquet(events_dir).select("user_id", "event_type").distinct().count()
    )
    assert res.count() == n_keys


def test_stream_embed_equals_batch(spark, tmp_path):
    d = str(tmp_path / "imgs")
    generate_images(spark, 60, n_entities=4).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    res = _run_stream(spark, extract_image_features(sdf), "t_embed", mode="append")
    batch = extract_image_features(spark.read.parquet(d))
    got = {r["image_id"]: r["embedding"] for r in res.collect()}
    want = {r["image_id"]: r["embedding"] for r in batch.collect()}
    assert got == want  # one code path: stream == batch bit-for-bit


def test_stream_running_state_across_microbatches(spark, events_dir):
    from video_features_spark.streaming import stream_running_entity_state

    sdf = _read_stream(spark, events_dir).withColumnRenamed("user_id", "entity_id")
    res = _run_stream(spark, stream_running_entity_state(sdf), "t_state", mode="update")
    # final state per entity (last update row) must equal the batch totals
    final = (
        res.groupBy("entity_id").agg(F.max("n_so_far").alias("n"))
    )
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.col("user_id").cast("string").alias("entity_id"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {r["entity_id"]: r["n"] for r in final.collect()}
    want = {r["entity_id"]: r["n"] for r in batch.collect()}
    assert got == want


def test_stream_asof_lookup_equals_batch(spark, sf_dir, tmp_path):
    """Streaming point-in-time lookup (stream probes vs static feature
    snapshot) must reproduce the batch as-of join exactly, including
    left-outer nulls for probes with no earlier feature."""
    from video_features_spark.operators import asof_join
    from video_features_spark.streaming import stream_asof_lookup

    probes_dir = str(tmp_path / "probes")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "user_id", "ts")
    # one orphan probe (no orders for user -1) pins the left-outer contract
    orphan = ev.limit(1).select(
        F.lit(-999).alias("event_id"), F.lit(-1).alias("user_id"), F.col("ts")
    )
    ev = ev.unionByName(orphan)
    ev.repartition(3).write.parquet(probes_dir)
    feat = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("feat_price"))
        .withColumnRenamed("o_custkey", "user_id")
    )
    sdf = _read_stream(spark, probes_dir)
    res = _run_stream(
        spark,
        stream_asof_lookup(
            sdf, feat, on=["user_id"], left_ts="ts", right_ts="o_orderdate",
            strict=True, watermark="3650 days",
        ),
        "t_asof_lookup", mode="complete",
    )
    got = {
        (r["event_id"], r["feat_price"], r["o_orderdate_asof"]) for r in res.collect()
    }
    batch = asof_join(
        ev, feat, on=["user_id"], left_ts="ts", right_ts="o_orderdate", strict=True
    )
    want = {
        (r["event_id"], r["feat_price"], r["o_orderdate_asof"]) for r in batch.collect()
    }
    assert len(got) == ev.count()
    assert got == want
    # left-outer contract: the orphan probe survives with null features
    assert any(e == -999 and p is None for e, p, _ in got)


def test_stream_video_frames_equals_batch(spark, tmp_path):
    """S2 on a stream: extract_video_frames is mapInPandas, so the SAME
    operator runs on a streaming DataFrame unchanged — container demux +
    ts derivation bit-identical to batch (one code path, like embed)."""
    from video_features_spark.operators.video import extract_video_frames
    from video_features_spark.sources.datagen import generate_videos

    d = str(tmp_path / "vids")
    generate_videos(spark, 6, n_entities=3).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    res = _run_stream(spark, extract_video_frames(sdf), "t_vid", mode="append")
    batch = extract_video_frames(spark.read.parquet(d))
    key = lambda r: (r["video_id"], r["frame_idx"])  # noqa: E731
    got = {key(r): (r["frame_ts"], bytes(r["bytes"])) for r in res.collect()}
    want = {key(r): (r["frame_ts"], bytes(r["bytes"])) for r in batch.collect()}
    assert got == want


def test_stream_near_dup_lookup_equals_batch(spark, tmp_path):
    """Streaming admission-control near-dup (new docs streamed against a
    static corpus) must find exactly the pairs the batch near_dup_join
    finds, with identical jaccard values — the in-row signature design is
    what makes the MinHash chain streaming-legal at all."""
    from video_features_spark.operators.dedup import near_dup_join
    from video_features_spark.streaming.ops import stream_near_dup_lookup

    base = "the quick brown fox jumps over the lazy dog again and again and again"
    corpus = spark.createDataFrame(
        [(100 + i, base + f" corpus variation {i}") for i in range(6)]
        + [(200, "entirely different content about mountain weather patterns")],
        "corpus_id long, text string",
    )
    rows = [
        (i, base + f" stream variation {i % 3}", f"2026-01-01 0{i}:00:00")
        for i in range(8)
    ] + [(99, "unrelated text that matches nothing in the corpus", "2026-01-01 09:00:00")]
    incoming = spark.createDataFrame(rows, "doc_id long, text string, ts string").select(
        "doc_id", "text", F.col("ts").cast("timestamp").alias("ts")
    )
    d = str(tmp_path / "stream_docs")
    incoming.repartition(3).write.mode("overwrite").parquet(d)

    sdf = _read_stream(spark, d)
    got = _run_stream(
        spark,
        stream_near_dup_lookup(sdf, corpus, threshold=0.35, watermark="10 days"),
        "t_near_dup", mode="append",
    )
    batch = near_dup_join(
        spark.read.parquet(d), corpus, threshold=0.35, left_extra_cols=("ts",)
    )
    g = {(r["doc_id"], r["corpus_id"]): r["jaccard"] for r in got.collect()}
    b = {(r["doc_id"], r["corpus_id"]): r["jaccard"] for r in batch.collect()}
    assert len(b) > 0  # the fixture must actually produce matches
    assert set(g) == set(b)
    for k in g:
        assert abs(g[k] - b[k]) < 1e-12
    assert all(doc != 99 for doc, _ in g)  # the unrelated doc matches nothing
