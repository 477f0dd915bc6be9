"""Resume-from-checkpoint gates (SURVEY §5: kill after partition k, rerun,
identical output, no recompute of completed partitions)."""

import glob
import os
import re
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from video_features_spark.operators.features import extract_image_features
from video_features_spark.sources.checkpoint import (
    PART_COL,
    checkpointed_write,
    load_manifest,
    read_checkpointed,
    verify_manifest,
    with_partition_id,
)
from video_features_spark.sources.datagen import generate_images

N_PARTS = 8


@pytest.fixture()
def base(tmp_path):
    return str(tmp_path / "ckpt")


def _features(spark, n=120):
    imgs = generate_images(spark, n, n_entities=6)
    return extract_image_features(imgs, "clip-small-det").drop("error")


def test_full_write_then_all_skipped(spark, base):
    feats = _features(spark)
    s1 = checkpointed_write(feats, base, ["entity_id"], num_parts=N_PARTS)
    assert s1["parts_skipped"] == 0 and s1["rows_written"] == 120
    s2 = checkpointed_write(feats, base, ["entity_id"], num_parts=N_PARTS)
    assert s2["parts_skipped"] == s1["parts_written"]
    assert s2["rows_written"] == 0
    assert read_checkpointed(spark, base).count() == 120


def test_resume_after_partial_failure(spark, base):
    """Simulate a job killed mid-run: first run covers only some partitions
    (failure injected by filtering), resume completes the rest; final output
    equals a clean one-shot run exactly."""
    feats = _features(spark)
    keyed = with_partition_id(feats, ["entity_id"], N_PARTS)
    survived = [r[PART_COL] for r in keyed.select(PART_COL).distinct().collect()][:2]
    partial = keyed.filter(F.col(PART_COL).isin(survived)).drop(PART_COL)
    s1 = checkpointed_write(partial, base, ["entity_id"], num_parts=N_PARTS)
    assert s1["parts_written"] == len(survived)

    s2 = checkpointed_write(feats, base, ["entity_id"], num_parts=N_PARTS)
    assert s2["parts_skipped"] == len(survived)  # completed parts NOT recomputed

    got = read_checkpointed(spark, base)
    assert got.count() == 120
    # value-identical to a clean run (embeddings deterministic, so exact)
    clean = {r["image_id"]: r["embedding"] for r in _features(spark).collect()}
    res = {r["image_id"]: r["embedding"] for r in got.collect()}
    assert res == clean


def test_no_recompute_proof_via_accumulator(spark, base):
    """The expensive stage must not run for completed partitions: count UDF
    invocations with an accumulator across the resume run."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("int")
    def expensive(x):
        acc.add(1)
        return x

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("k")
    ).withColumn("v", expensive(F.col("id").cast("int")))

    checkpointed_write(df, base, ["k"], num_parts=4)
    first_calls = acc.value
    assert first_calls >= 100
    checkpointed_write(df, base, ["k"], num_parts=4)
    assert acc.value == first_calls, "resume run recomputed completed partitions"


def test_verify_manifest_detects_corruption(spark, base):
    feats = _features(spark)
    checkpointed_write(feats, base, ["entity_id"], num_parts=N_PARTS)
    assert verify_manifest(spark, base).count() == 0  # healthy
    # corrupt the write: delete one of its data files
    os.remove(sorted(_parquet_files(f"{base}/data/write-0"))[0])
    bad = verify_manifest(spark, base)
    assert bad.count() >= 1  # drift detected


def test_snapshot_isolation(spark, base):
    """Different snapshot ids keep independent completion state (lineage)."""
    feats = _features(spark, n=60)
    checkpointed_write(feats, base, ["entity_id"], num_parts=4, snapshot_id="snapA")
    s = checkpointed_write(feats, base, ["entity_id"], num_parts=4, snapshot_id="snapB")
    assert s["parts_skipped"] == 0  # snapB starts fresh
    m = load_manifest(spark, base)
    assert {r["snapshot_id"] for r in m.select("snapshot_id").distinct().collect()} == {"snapA", "snapB"}


def test_verify_clean_after_multi_snapshot_overwrite(spark, base):
    """Re-using a base with a NEW snapshot overwrites partitions; verify must
    trust only the latest manifest row per partition — no false drift."""
    from video_features_spark.sources.checkpoint import checkpointed_write, verify_manifest

    df1 = spark.range(100).withColumn("k", F.col("id") % 10).withColumn("v", F.lit(1))
    checkpointed_write(df1, base, ["k"], num_parts=4, snapshot_id="snap-1")
    df2 = spark.range(100).withColumn("k", F.col("id") % 10).withColumn("v", F.lit(2))
    checkpointed_write(df2, base, ["k"], num_parts=4, snapshot_id="snap-2")
    drift = verify_manifest(spark, base)
    assert drift.count() == 0, drift.collect()


def test_compact_manifest_keeps_latest_and_verifies(spark, base):
    """The append-only manifest compacts to one row per partition (latest
    manifest_seq); resume still skips everything and verify still reports no
    drift against the surviving rows."""
    from video_features_spark.sources.checkpoint import compact_manifest

    df1 = spark.range(100).withColumn("k", F.col("id") % 10).withColumn("v", F.lit(1))
    checkpointed_write(df1, base, ["k"], num_parts=4, snapshot_id="snap-1")
    df2 = spark.range(100).withColumn("k", F.col("id") % 10).withColumn("v", F.lit(2))
    checkpointed_write(df2, base, ["k"], num_parts=4, snapshot_id="snap-2")
    stats = compact_manifest(spark, base)
    assert stats["rows_before"] == 8 and stats["rows_after"] == 4
    assert verify_manifest(spark, base).count() == 0
    # resume against the compacted manifest: latest snapshot fully skipped
    again = checkpointed_write(df2, base, ["k"], num_parts=4, snapshot_id="snap-2")
    assert again["parts_skipped"] == 4 and again["parts_written"] == 0


def _visible(base):
    """The manifest files a reader lists (hidden staged files excluded)."""
    return sorted(_parquet_files(f"{base}/_manifest"))


def _two_snapshots(spark, base):
    """Two writes of every part (8 manifest rows, 4 of them latest)."""
    for v in (1, 2):
        df = spark.range(100).withColumn("k", F.col("id") % 10).withColumn("v", F.lit(v))
        checkpointed_write(df, base, ["k"], num_parts=4, snapshot_id=f"snap-{v}")
    return df


def test_appends_after_compaction_land_in_the_manifest_dir(spark, base):
    """Compaction rewrites ``_manifest`` in place: one file after each
    compaction, the next append lands beside it, resume and verify stay
    exact, and the base holds only the manifest, the schema and the data.
    Writes and reads delete no manifest file; compaction removes exactly
    the files it replaced."""
    from video_features_spark.sources.checkpoint import compact_manifest, completed_parts

    df = spark.range(100).withColumn("k", F.col("id") % 10).withColumn("v", F.lit(1))
    checkpointed_write(df, base, ["k"], num_parts=4, snapshot_id="snap-1")
    assert compact_manifest(spark, base) == {"rows_before": 4, "rows_after": 4}
    compacted = _visible(base)
    assert len(compacted) == 1
    df2 = df.withColumn("v", F.lit(2))
    checkpointed_write(df2, base, ["k"], num_parts=4, snapshot_id="snap-2")
    before = _visible(base)
    assert len(before) == 2 and compacted[0] in before
    read_checkpointed(spark, base).collect()
    completed_parts(spark, base, "snap-2")
    assert verify_manifest(spark, base).count() == 0
    assert _visible(base) == before
    for _ in range(2):
        previous = _visible(base)
        assert compact_manifest(spark, base)["rows_after"] == 4
        assert len(_visible(base)) == 1 and not set(previous) & set(_visible(base))
    assert sorted(os.listdir(base)) == ["_manifest", "_schema.json", "data"]
    assert os.listdir(f"{base}/data") == ["write-1"]
    again = checkpointed_write(df2, base, ["k"], num_parts=4, snapshot_id="snap-2")
    assert again["parts_skipped"] == 4 and again["parts_written"] == 0
    assert len(_visible(base)) == 2


def test_compaction_crash_before_publish_leaves_the_manifest_unchanged(spark, base, monkeypatch):
    """The compactor dies after writing its file under the hidden name and
    before renaming it into place: the manifest's files and rows are those
    of before, and the next compaction completes and removes the staged
    file."""
    from video_features_spark.sources import checkpoint as C

    df = _two_snapshots(spark, base)
    before, rows = _visible(base), C._read_manifest(base)

    def crash(*_):
        raise RuntimeError("compactor died before publishing")

    with monkeypatch.context() as m:
        m.setattr(C.os, "replace", crash)
        with pytest.raises(RuntimeError, match="before publishing"):
            C.compact_manifest(spark, base)
    assert _visible(base) == before
    order = [(PART_COL, "ascending"), ("manifest_seq", "ascending")]
    assert C._read_manifest(base).sort_by(order).equals(rows.sort_by(order))
    assert verify_manifest(spark, base).count() == 0
    assert [f for f in os.listdir(f"{base}/_manifest") if f.startswith(".")]  # the staged file
    assert C.compact_manifest(spark, base) == {"rows_before": 8, "rows_after": 4}
    assert len(_visible(base)) == 1
    assert os.listdir(f"{base}/_manifest") == [os.path.basename(f) for f in _visible(base)]
    again = checkpointed_write(df, base, ["k"], num_parts=4, snapshot_id="snap-2")
    assert again["parts_skipped"] == 4 and again["parts_written"] == 0


def test_compaction_crash_mid_removal_keeps_resume_read_and_verify_exact(spark, base, monkeypatch):
    """The compactor dies after its first removal: the duplicate rows it
    leaves collapse, so resume, the read and verify are exact, and the next
    compaction leaves one file and only the named write dir."""
    from video_features_spark.sources import checkpoint as C

    df = _two_snapshots(spark, base)
    digest = _digest(read_checkpointed(spark, base))
    real_remove, removed = os.remove, []

    def remove_once(path):
        if removed:
            raise RuntimeError("compactor died mid-removal")
        removed.append(path)
        real_remove(path)

    with monkeypatch.context() as m:
        m.setattr(C.os, "remove", remove_once)
        with pytest.raises(RuntimeError, match="mid-removal"):
            C.compact_manifest(spark, base)
    assert len(removed) == 1 and len(_visible(base)) == 2
    assert C._read_manifest(base).num_rows == 8  # compacted rows + an old file's
    assert C.completed_parts(spark, base, "snap-2") == set(range(4))
    assert _digest(read_checkpointed(spark, base)) == digest
    assert verify_manifest(spark, base).count() == 0
    again = checkpointed_write(df, base, ["k"], num_parts=4, snapshot_id="snap-2")
    assert again["parts_skipped"] == 4 and again["parts_written"] == 0
    assert C.compact_manifest(spark, base)["rows_after"] == 4
    assert len(_visible(base)) == 1
    assert sorted(os.listdir(base)) == ["_manifest", "_schema.json", "data"]
    assert os.listdir(f"{base}/data") == ["write-1"]
    assert _digest(read_checkpointed(spark, base)) == digest


def test_reader_racing_a_compaction_gets_every_live_row(spark, base, monkeypatch):
    """A compaction runs between a reader's listing and its read and removes
    every file the reader listed: the reader lists again and returns the
    complete manifest. A file that stays missing is raised."""
    from video_features_spark.sources import checkpoint as C

    _two_snapshots(spark, base)
    latest = C._latest(C._read_manifest(base))
    real_listing = C._manifest_files
    raced = []

    def listing_then_compaction(b):
        files = real_listing(b)
        if not raced:  # the compactor's own listing passes through
            raced.append(files)
            C.compact_manifest(spark, b)
        return files

    monkeypatch.setattr(C, "_manifest_files", listing_then_compaction)
    got = C._read_manifest(base)
    assert len(raced[0]) == 2 and not any(os.path.exists(f) for f in raced[0])
    assert got.sort_by(PART_COL).equals(latest.sort_by(PART_COL))
    # a file missing from two listings in a row is no race: raise, not loop
    os.symlink(os.path.join(base, "gone"), os.path.join(base, "_manifest", "part-dangling.parquet"))
    with pytest.raises(FileNotFoundError):
        C._read_manifest(base)


MANIFEST_SCHEMA = (
    "struct<__part:int,row_count:bigint,checksum:decimal(38,0),key_min:string,"
    "key_max:string,snapshot_id:string,manifest_seq:int>"
)


def _parquet_files(path):
    return glob.glob(f"{path}/*.parquet")


def test_write_is_aqe_sized_and_labelled(spark, base):
    """The data write adds no exchange: a small write with the default 64
    parts launches no more than defaultParallelism tasks per stage and lands
    one write dir per call holding at most one file per writer task (no
    file per part), appends exactly one manifest file per call, runs only
    jobs under its two labels (the append and the dir listing run none),
    and leaves the caller's job group and description as they were."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    tracker = sc.statusTracker()
    df = spark.range(120).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    group = "ckpt-write-shape"
    sc.setJobGroup(group, "caller description")
    try:
        s = checkpointed_write(df, base, ["k"])
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        assert sc.getLocalProperty("spark.jobGroup.id") == group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert s["parts_total"] == 64 and s["rows_written"] == 120

    by_label: dict[str, list[int]] = {}
    for j in tracker.getJobIdsForGroup(group):
        desc = store.job(j).description()
        by_label.setdefault(desc.get() if desc.isDefined() else None, []).append(j)
    assert set(by_label) == {"checkpoint: write data", "checkpoint: manifest rows"}
    write_tasks = [
        tracker.getStageInfo(sid).numTasks
        for j in by_label["checkpoint: write data"]
        for sid in tracker.getJobInfo(j).stageIds
    ]
    assert max(write_tasks) <= sc.defaultParallelism, write_tasks

    assert os.listdir(f"{base}/data") == ["write-0"]
    assert 1 <= len(_parquet_files(f"{base}/data/write-0")) <= max(write_tasks)
    assert len(_parquet_files(f"{base}/_manifest")) == 1
    checkpointed_write(df, base, ["k"], snapshot_id="snapshot-1")
    assert len(_parquet_files(f"{base}/_manifest")) == 2
    assert sorted(os.listdir(f"{base}/data")) == ["write-0", "write-1"]
    m = load_manifest(spark, base)
    assert m.schema.simpleString() == MANIFEST_SCHEMA
    assert verify_manifest(spark, base).count() == 0


def test_empty_first_write_creates_empty_manifest(spark, base):
    df = spark.range(0).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    s = checkpointed_write(df, base, ["k"], num_parts=4)
    assert s["parts_written"] == 0 and s["rows_written"] == 0
    assert len(_parquet_files(f"{base}/_manifest")) == 1
    m = load_manifest(spark, base)
    assert m.schema.simpleString() == MANIFEST_SCHEMA and m.count() == 0


def _tagged(spark, fn):
    """``fn()``'s result and the ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"ckpt-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


def test_manifest_state_and_compaction_run_no_spark_job(spark, base):
    """The manifest is driver metadata: resume state and compaction read and
    write it with pyarrow, launching no Spark job."""
    from video_features_spark.sources.checkpoint import compact_manifest, completed_parts

    df = spark.range(100).withColumn("k", F.col("id") % 10)
    checkpointed_write(df, base, ["k"], num_parts=4)
    assert _tagged(spark, lambda: completed_parts(spark, base, "snapshot-0")) == (set(range(4)), [])
    stats, jobs = _tagged(spark, lambda: compact_manifest(spark, base))
    assert jobs == [] and stats["rows_after"] == 4
    assert completed_parts(spark, base, "snapshot-0") == set(range(4))


def test_reads_of_a_wide_base_list_on_the_driver(spark, base):
    """A base with more write dirs than Spark's parallel-discovery threshold
    (32): defining ``read_checkpointed`` or ``verify_manifest`` launches no
    Spark job at all. The dirs are listed on the driver, not in a
    distributed listing job, and the stored schema replaces the parquet
    footer read."""
    df = spark.range(400).withColumn("k", F.col("id") % 200)
    keyed = with_partition_id(df, ["k"], 64)
    parts = sorted(r[PART_COL] for r in keyed.select(PART_COL).distinct().collect())[:34]
    for p in parts:  # one write dir per part
        checkpointed_write(keyed.filter(F.col(PART_COL) == p).drop(PART_COL), base, ["k"], num_parts=64)
    assert len(os.listdir(f"{base}/data")) == len(parts) > 32
    read, jobs = _tagged(spark, lambda: read_checkpointed(spark, base))
    assert jobs == [] and read.columns == ["id", "k"]
    assert read.count() == keyed.filter(F.col(PART_COL).isin(parts)).count()
    drift, jobs = _tagged(spark, lambda: verify_manifest(spark, base))
    assert jobs == [] and drift.count() == 0


def test_non_local_base_is_refused(spark):
    """The manifest is kept with local file I/O: a base on another filesystem
    raises before anything reads or writes it (it would otherwise read as "no
    manifest" and create a local ``s3a:`` dir)."""
    from video_features_spark.sources.checkpoint import compact_manifest, completed_parts

    remote = "s3a://no-such-bucket/ckpt"
    df = spark.range(10).withColumn("k", F.col("id") % 2)
    for call in (
        lambda: checkpointed_write(df, remote, ["k"], num_parts=2),
        lambda: load_manifest(spark, remote),
        lambda: completed_parts(spark, remote, "snapshot-0"),
        lambda: verify_manifest(spark, remote),
        lambda: compact_manifest(spark, remote),
    ):
        with pytest.raises(ValueError, match="s3a://no-such-bucket/ckpt"):
            call()


def test_generation_pointer_base_is_refused(spark, base):
    """A base in the retired generation-pointer layout (a ``_manifest.ptr``
    naming ``_manifest.g<N>``) raises, naming the pointer file, before
    anything reads or writes it: its ``_manifest`` dir is missing or stale,
    so a write would reuse a seq its live manifest names."""
    from video_features_spark.sources.checkpoint import compact_manifest, completed_parts

    df = spark.range(10).withColumn("k", F.col("id") % 2)
    checkpointed_write(df, base, ["k"], num_parts=2)
    pointer = os.path.join(base, "_manifest.ptr")
    with open(pointer, "w") as f:
        f.write("0")
    before = sorted(os.path.relpath(os.path.join(d, n), base) for d, _, ns in os.walk(base) for n in ns)
    for call in (
        lambda: checkpointed_write(df, base, ["k"], num_parts=2, snapshot_id="snapshot-1"),
        lambda: load_manifest(spark, base),
        lambda: completed_parts(spark, base, "snapshot-0"),
        lambda: read_checkpointed(spark, base),
        lambda: verify_manifest(spark, base),
        lambda: compact_manifest(spark, base),
    ):
        with pytest.raises(ValueError, match=re.escape(pointer)):
            call()
    assert sorted(os.path.relpath(os.path.join(d, n), base) for d, _, ns in os.walk(base) for n in ns) == before


def test_file_uri_base_is_the_local_path(spark, base):
    df = spark.range(100).withColumn("k", F.col("id") % 10)
    checkpointed_write(df, f"file://{base}", ["k"], num_parts=4)
    assert checkpointed_write(df, base, ["k"], num_parts=4)["parts_skipped"] == 4
    assert verify_manifest(spark, f"file://{base}").count() == 0


def test_crash_mid_append_rewrites_exactly_the_unrecorded_parts(spark, base, monkeypatch):
    """The driver dies after the manifest file is written but before it is
    renamed into place: the hidden partial file is never read (by the
    manifest reader, by verify or by a plain ``pq.read_table``), the rerun
    rewrites exactly the partitions whose rows never landed, after which
    verify reports no drift, and the next compaction removes the partial
    files."""
    from video_features_spark.sources import checkpoint as C

    df = spark.range(200).withColumn("k", F.col("id") % 20).withColumn("v", F.col("id") * 3)
    keyed = with_partition_id(df, ["k"], N_PARTS)
    parts = sorted(r[PART_COL] for r in keyed.select(PART_COL).distinct().collect())
    first, rest = parts[:3], parts[3:]
    assert rest
    partial = keyed.filter(F.col(PART_COL).isin(first)).drop(PART_COL)

    def crash(*_):
        raise RuntimeError("driver died mid-append")

    def write_and_crash(frame):
        with monkeypatch.context() as m:
            m.setattr(C.os, "replace", crash)
            with pytest.raises(RuntimeError, match="mid-append"):
                checkpointed_write(frame, base, ["k"], num_parts=N_PARTS)

    # the very first append dies: the manifest dir holds only a hidden file
    write_and_crash(partial)
    assert load_manifest(spark, base) is None
    assert checkpointed_write(partial, base, ["k"], num_parts=N_PARTS)["parts_written"] == len(first)

    write_and_crash(df)
    manifest_dir = f"{base}/_manifest"
    hidden = [f for f in os.listdir(manifest_dir) if f.startswith(".part-")]
    assert len(hidden) == 2  # both partial appends are still there, hidden
    assert pq.read_table(manifest_dir).num_rows == len(first)
    assert sorted(C._read_manifest(base)[PART_COL].to_pylist()) == first
    # the data of every part landed; the manifest records only the first write
    assert sorted(r[PART_COL] for r in verify_manifest(spark, base).collect()) == rest

    s = checkpointed_write(df, base, ["k"], num_parts=N_PARTS)
    assert s["parts_skipped"] == len(first) and s["parts_written"] == len(rest)
    assert s["rows_written"] == keyed.filter(F.col(PART_COL).isin(rest)).count()
    assert verify_manifest(spark, base).count() == 0
    assert sorted(C._read_manifest(base)[PART_COL].to_pylist()) == parts
    assert read_checkpointed(spark, base).count() == 200
    # the next compaction removes both staged files with the files it replaced
    C.compact_manifest(spark, base)
    assert os.listdir(manifest_dir) == [os.path.basename(f) for f in _visible(base)]
    assert read_checkpointed(spark, base).count() == 200


def _digest(df):
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h")).first()
    return r["n"], r["h"]


def test_crash_before_append_is_invisible_and_rerun_reuses_its_dir(spark, base, tmp_path, monkeypatch):
    """A write dies after its data committed and before its manifest append:
    its rows are not read, ``verify_manifest`` reports exactly its parts, and
    the rerun writes the same write dir again; the result equals an
    uninterrupted write."""
    from video_features_spark.sources import checkpoint as C

    df = spark.range(200).withColumn("k", F.col("id") % 20).withColumn("v", F.col("id") * 3)
    keyed = with_partition_id(df, ["k"], N_PARTS)
    parts = sorted(r[PART_COL] for r in keyed.select(PART_COL).distinct().collect())
    first, rest = parts[:3], parts[3:]
    checkpointed_write(keyed.filter(F.col(PART_COL).isin(first)).drop(PART_COL), base, ["k"], num_parts=N_PARTS)

    def crash(*_):
        raise RuntimeError("driver died before the append")

    with monkeypatch.context() as m:
        m.setattr(C, "_stage", crash)
        with pytest.raises(RuntimeError, match="before the append"):
            checkpointed_write(df, base, ["k"], num_parts=N_PARTS)
    assert sorted(os.listdir(f"{base}/data")) == ["write-0", "write-1"]
    assert read_checkpointed(spark, base).count() == keyed.filter(F.col(PART_COL).isin(first)).count()
    assert sorted(r[PART_COL] for r in verify_manifest(spark, base).collect()) == rest

    s = checkpointed_write(df, base, ["k"], num_parts=N_PARTS)
    assert s["parts_skipped"] == len(first) and s["parts_written"] == len(rest)
    assert sorted(os.listdir(f"{base}/data")) == ["write-0", "write-1"]
    assert verify_manifest(spark, base).count() == 0
    clean = str(tmp_path / "clean")
    checkpointed_write(df, clean, ["k"], num_parts=N_PARTS)
    assert _digest(read_checkpointed(spark, base)) == _digest(read_checkpointed(spark, clean))


def test_rewrite_under_a_new_snapshot_reads_only_the_new_write(spark, base):
    """A new snapshot rewrites every part into a new write dir: the read
    returns only the new values, and compaction deletes the superseded dir
    without changing the read."""
    from video_features_spark.sources.checkpoint import compact_manifest

    df1 = spark.range(100).withColumn("k", F.col("id") % 10).withColumn("v", F.lit(1))
    checkpointed_write(df1, base, ["k"], num_parts=4, snapshot_id="snap-1")
    df2 = spark.range(100).withColumn("k", F.col("id") % 10).withColumn("v", F.lit(2))
    checkpointed_write(df2, base, ["k"], num_parts=4, snapshot_id="snap-2")
    before = sorted(read_checkpointed(spark, base).collect())
    assert len(before) == 100 and {r["v"] for r in before} == {2}
    compact_manifest(spark, base)
    assert os.listdir(f"{base}/data") == ["write-1"]
    assert sorted(read_checkpointed(spark, base).collect()) == before
    # a hive-partitioned reader of the data dir sees the data columns only
    flat = pq.read_table(f"{base}/data", partitioning="hive", ignore_prefixes=[".", "_SUCCESS"])
    assert flat.column_names == ["id", "k", "v", PART_COL] and flat.num_rows == 100
    assert verify_manifest(spark, base).count() == 0


def test_write_of_another_schema_is_refused_before_writing(spark, base):
    df = spark.range(100).withColumn("k", F.col("id") % 10)
    checkpointed_write(df, base, ["k"], num_parts=4)
    with pytest.raises(ValueError, match="v:string"):
        checkpointed_write(df.withColumn("v", F.lit("x")), base, ["k"], num_parts=4, snapshot_id="s2")
    assert os.listdir(f"{base}/data") == ["write-0"]
    assert load_manifest(spark, base).count() == 4
