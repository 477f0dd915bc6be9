"""Per-partition checkpoint/lineage manifests + resume-by-anti-join.

Spark-native replacement for the reference's skip-if-done protocol
(``/root/reference/models/_base/base_extractor.py:95-127``: outputs exist AND
load without error → skip; re-check before overwrite at ``:73-76``) and its
racy multi-worker coordination (shared FS + shuffled inputs, ``README.md:70-84``,
which admits collisions "rewrite previously extracted features").

Design
------
- Work is bucketed into ``num_parts`` deterministic partitions by key hash
  (``__part = pmod(xxhash64(keys), num_parts)``) — the resume granule.
- Data lands under ``<base>/data`` partitioned by ``__part`` with DYNAMIC
  partition overwrite: re-running a partition replaces exactly that partition →
  idempotent under crash-and-retry, no cross-run races. The write repartitions
  on ``__part`` with no count, so each partition dir gets one file and AQE
  sizes the writer tasks to the data, not to ``num_parts``.
- The manifest (``<base>/_manifest``, or the ``_manifest.ptr``-named
  generation dir once a compaction has run) appends one row per completed
  partition: job/snapshot id, partition id, key range, row count, content
  checksum (sum of per-row xxhash64 — order-independent,
  partitioning-independent). The rows are aggregated from the read-back of
  what landed, collected to the driver (at most ``num_parts`` of them) and
  appended as one file per write.
  A partition whose data wrote but whose manifest row didn't (crash between
  the two) is simply recomputed and overwritten — safe, never corrupt.
- Resume = filter the input's partition ids against the manifest's completed
  ids (``completed_parts``): only missing partitions are written.
  ``checkpointed_write`` applies that filter to the frame it is given, i.e.
  ABOVE any Python UDF inside it (Catalyst cannot push a filter through
  ``MapInArrow``), so a generic caller still pays the UDF for completed
  partitions. A caller that knows how its key reaches its inputs prunes
  them below the UDF itself (``plans.run`` does, with ``partition_id``);
  the writer's filter stays as the backstop.
- ``verify_manifest`` recounts + re-checksums the data and reports drift —
  the "loads without error" half of the reference's check, done with
  aggregates instead of re-reading into the model.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..session import job_description, session_conf

PART_COL = "__part"


def _data_path(base: str) -> str:
    return os.path.join(base, "data")


def _manifest_path(base: str) -> str:
    return os.path.join(base, "_manifest")


def _manifest_ptr_path(base: str) -> str:
    return os.path.join(base, "_manifest.ptr")


def _gen_dir(base: str, gen: int) -> str:
    return os.path.join(base, f"_manifest.g{gen}")


def _current_generation(base: str) -> "int | None":
    """The compaction generation the pointer file names, or None while the
    base is still on the legacy ``_manifest`` layout (pre-first-compaction)."""
    try:
        with open(_manifest_ptr_path(base)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _resolve_manifest_dir(base: str) -> str:
    """Where the live manifest lives: the pointer's generation dir once a
    compaction has run, else the legacy append dir. The pointer is flipped
    only AFTER its generation dir is fully written, so the resolved dir is
    always complete — readers racing a compaction see either the old or the
    new generation, never a partial one."""
    gen = _current_generation(base)
    return _manifest_path(base) if gen is None else _gen_dir(base, gen)


def partition_id(keys: Sequence[str | Column], num_parts: int) -> Column:
    """Deterministic partition id of the key columns — same key always lands
    in the same part regardless of cluster size or input order. The hash
    depends on the key's TYPE (an int and a long of equal value differ)."""
    return F.pmod(F.xxhash64(*keys), F.lit(num_parts)).cast("int")


def with_partition_id(df: DataFrame, key_cols: Sequence[str], num_parts: int) -> DataFrame:
    return df.withColumn(PART_COL, partition_id(key_cols, num_parts))


def _content_checksum(cols: Sequence[str]):
    """Order-independent content hash: sum of per-row xxhash64 over all output
    columns, accumulated in decimal(38,0) (an int64 sum overflows ANSI mode).
    Any lost/duplicated/altered row changes it."""
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("checksum")


def load_manifest(spark: SparkSession, base_path: str) -> DataFrame | None:
    path = _resolve_manifest_dir(base_path)
    # a read of a missing path is a failed query, and every failed query is
    # posted to the session's query listeners (an Observation's listener logs
    # an ERROR stack trace for it): skip the read when a plain local path is
    # absent (a URI with a scheme is left to the reader)
    if not urlparse(path).scheme and not os.path.isdir(path):
        return None
    try:
        return spark.read.parquet(path)
    except Exception:  # noqa: BLE001 - first run: no manifest yet
        return None


def _manifest_state(manifest: DataFrame, snapshot_id: str) -> tuple[set[int], int]:
    """(partition ids complete for ``snapshot_id``, highest ``manifest_seq``)
    in one aggregation."""
    row = manifest.agg(
        F.collect_set(F.when(F.col("snapshot_id") == snapshot_id, F.col(PART_COL))).alias("done"),
        F.max("manifest_seq").alias("seq"),
    ).first()
    return set(row["done"]), row["seq"] or 0


def completed_parts(spark: SparkSession, base_path: str, snapshot_id: str) -> set[int]:
    """Partition ids the manifest under ``base_path`` marks complete for
    ``snapshot_id`` (empty before the first write)."""
    manifest = load_manifest(spark, base_path)
    return set() if manifest is None else _manifest_state(manifest, snapshot_id)[0]


def checkpointed_write(
    df: DataFrame,
    base_path: str,
    key_cols: Sequence[str],
    num_parts: int = 64,
    snapshot_id: str = "snapshot-0",
) -> dict:
    """Compute + write only the partitions the manifest doesn't mark complete.

    Returns {"parts_total", "parts_skipped", "parts_written", "rows_written"}.
    Call again after any failure: completed partitions are not recomputed.
    """
    spark = df.sparkSession
    keyed = with_partition_id(df, key_cols, num_parts)

    manifest = load_manifest(spark, base_path)
    done: set[int] = set()
    seq = 0
    if manifest is not None:
        done, last_seq = _manifest_state(manifest, snapshot_id)
        # monotone write sequence: verify_manifest trusts only the LATEST row
        # per partition, so re-writing a base with a new snapshot never leaves
        # stale rows that report false drift
        seq = last_seq + 1

    todo = keyed.filter(~F.col(PART_COL).isin(*done)) if done else keyed
    out_cols = [c for c in keyed.columns if c != PART_COL]

    stats = {"parts_total": num_parts, "parts_skipped": len(done)}
    # dynamic partition overwrite ONLY for this write
    with session_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"), \
            job_description(spark, "checkpoint: write data"):
        # no count: AQE coalesces this REPARTITION_BY_COL exchange to the
        # data size, never repartition(num_parts, col); one reducer per part id
        (
            todo.repartition(F.col(PART_COL))
            .write.mode("overwrite")
            .partitionBy(PART_COL)
            .parquet(_data_path(base_path))
        )
    # manifest rows from what LANDED; the explicit schema lets a write that
    # landed no file (empty input) read back as empty
    with job_description(spark, "checkpoint: manifest rows"):
        written = spark.read.schema(keyed.schema).parquet(_data_path(base_path))
        new_parts = written.filter(~F.col(PART_COL).isin(*done)) if done else written
        manifest_rows = (
            new_parts.groupBy(PART_COL)
            .agg(
                F.count(F.lit(1)).alias("row_count"),
                _content_checksum(out_cols),
                F.min(key_cols[0]).cast("string").alias("key_min"),
                F.max(key_cols[0]).cast("string").alias("key_max"),
            )
            .withColumn("snapshot_id", F.lit(snapshot_id))
            .withColumn("manifest_seq", F.lit(seq))
        )
        # at most num_parts rows: one collect feeds the append and the stats
        rows = manifest_rows.collect()
    # an empty write still appends, so the manifest dir exists after it
    with job_description(spark, "checkpoint: append manifest"):
        appended = spark.createDataFrame(rows, schema=manifest_rows.schema).coalesce(1)
        appended.write.mode("append").parquet(_resolve_manifest_dir(base_path))
    stats["parts_written"] = len(rows)
    stats["rows_written"] = sum(r["row_count"] for r in rows)
    return stats


def read_checkpointed(spark: SparkSession, base_path: str) -> DataFrame:
    return spark.read.parquet(_data_path(base_path)).drop(PART_COL)


def compact_manifest(spark: SparkSession, base_path: str) -> dict:
    """Rewrite the append-only manifest down to the LATEST row per partition
    (max ``manifest_seq`` — earlier rows describe overwritten data). The
    manifest grows by one row per partition per (re)run; resume and verify
    filter it every time, so long-lived bases compact periodically to keep
    those reads O(partitions).

    Swap protocol — GENERATION POINTER, no directory rename (object-store
    safe: S3/GCS renames are copy+delete, not atomic): the compacted rows are
    written to a fresh ``_manifest.g<N+1>`` dir, then a one-line pointer file
    ``_manifest.ptr`` is atomically replaced to name the new generation
    (``os.replace`` of a file on POSIX; a single small-object PUT on an
    object store — both atomic at the granularity that matters). Readers
    resolve the pointer first, so at every instant they see a COMPLETE
    manifest: the old generation before the flip, the new one after. A crash
    before the flip leaves an orphan generation dir (overwritten by the next
    compaction); a crash after the flip leaves the superseded dir (removed by
    the next compaction). Only this function deletes anything — readers
    never modify the base, so a racing ``load_manifest`` can never destroy
    an in-flight compaction's work.

    Appends continue to land in the resolved current dir; run compaction
    while no writer is appending (same single-compactor discipline as
    before — the pointer protocol removes the reader/compactor race, not the
    writer/compactor one).

    Returns {"rows_before", "rows_after", "generation"}."""
    import shutil

    from pyspark.sql import Window

    manifest = load_manifest(spark, base_path)
    if manifest is None:
        raise FileNotFoundError(f"no manifest under {base_path}")
    gen = _current_generation(base_path)
    cur_dir = _resolve_manifest_dir(base_path)
    next_gen = 0 if gen is None else gen + 1

    before = manifest.count()
    latest = Window.partitionBy(PART_COL).orderBy(F.desc("manifest_seq"))
    compacted = (
        manifest.withColumn("__rn", F.row_number().over(latest))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    new_dir = _gen_dir(base_path, next_gen)
    # mode=overwrite also absorbs an orphan dir of the same generation left
    # by a compaction that crashed before its pointer flip
    compacted.write.mode("overwrite").parquet(new_dir)
    after = spark.read.parquet(new_dir).count()
    _flip_pointer(base_path, next_gen)
    # GRACE-PERIOD cleanup: the JUST-superseded manifest (cur_dir) survives
    # until the NEXT compaction — a reader that resolved the pointer an
    # instant before the flip may still be reading it. Only strictly-older
    # generations (and the legacy dir once a generation supersedes it) are
    # removed now; best-effort — failures leave garbage, never corruption
    # (readers follow the pointer).
    keep = {os.path.basename(new_dir), os.path.basename(cur_dir)}
    for d in os.listdir(base_path):
        if d.startswith("_manifest.g") and d not in keep:
            shutil.rmtree(os.path.join(base_path, d), ignore_errors=True)
    legacy = _manifest_path(base_path)
    if cur_dir != legacy and os.path.exists(legacy):
        shutil.rmtree(legacy, ignore_errors=True)
    return {"rows_before": before, "rows_after": after, "generation": next_gen}


def _flip_pointer(base_path: str, gen: int) -> None:
    """Atomically point readers at generation ``gen``: write-temp + replace
    (one file, one atomic primitive — the object-store analog is a single
    small-object PUT of ``_manifest.ptr``)."""
    ptr = _manifest_ptr_path(base_path)
    tmp = ptr + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(gen))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, ptr)


def verify_manifest(spark: SparkSession, base_path: str) -> DataFrame:
    """Recount + re-checksum every data partition against its LATEST manifest
    row (max manifest_seq — earlier rows describe overwritten data); returns
    the partitions that disagree (empty DataFrame == healthy)."""
    from pyspark.sql import Window

    manifest = load_manifest(spark, base_path)
    if manifest is None:
        raise FileNotFoundError(f"no manifest under {base_path}")
    latest = Window.partitionBy(PART_COL).orderBy(F.desc("manifest_seq"))
    manifest = (
        manifest.withColumn("__rn", F.row_number().over(latest))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    data = spark.read.parquet(_data_path(base_path))
    out_cols = [c for c in data.columns if c != PART_COL]
    actual = data.groupBy(PART_COL).agg(
        F.count(F.lit(1)).alias("actual_rows"), _content_checksum(out_cols).alias("actual_checksum")
    )
    return (
        manifest.join(actual, PART_COL, "full")
        .filter(
            (F.col("row_count") != F.col("actual_rows"))
            | (F.col("checksum") != F.col("actual_checksum"))
            | F.col("row_count").isNull()
            | F.col("actual_rows").isNull()
        )
    )
