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
  generation dir once a compaction has run) gets one row per completed
  partition per write: job/snapshot id, partition id, key range, row count,
  content checksum (sum of per-row xxhash64 — order-independent,
  partitioning-independent), aggregated from the read-back of what landed.
  It is driver metadata (at most ``num_parts`` rows per write), kept with
  pyarrow and local file I/O: the append is one file written under a hidden
  ``.`` name and ``os.replace``d into place (no reader lists a partial one).
  A write runs two labelled Spark actions (write data, manifest rows);
  resume state, the append and compaction run none. A base that is not a
  local path or ``file:`` URI is a ``ValueError``.
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
import shutil
import uuid
from collections.abc import Sequence
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..session import job_description, session_conf

PART_COL = "__part"


def _local_base(base: str) -> str:
    """``base`` as a local path: the manifest is kept with local file I/O, so
    any other URI scheme is refused before anything touches the base."""
    url = urlparse(base)
    if url.scheme not in ("", "file"):
        raise ValueError(f"checkpoint base {base!r} is not a local path or file: URI")
    return url.path if url.scheme else base


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


def _read_manifest(base: str) -> pa.Table | None:
    """The live manifest of local ``base`` as one Arrow table, or None while
    it has no visible file. Hidden (``.``/``_``-prefixed) files are not
    listed, so an append that died before its rename is never read."""
    path = _resolve_manifest_dir(base)
    table = pq.read_table(path) if os.path.isdir(path) else None
    return table if table is not None and table.num_columns else None


def _latest(table: pa.Table) -> pa.Table:
    """The LATEST row per partition (max ``manifest_seq``): earlier rows
    describe data a later write overwrote."""
    rows = table.sort_by([(PART_COL, "ascending"), ("manifest_seq", "descending")])
    parts = rows[PART_COL].to_pylist()
    first = [i for i, p in enumerate(parts) if i == 0 or p != parts[i - 1]]
    return rows.take(pa.array(first, pa.int64()))


def _done(table: pa.Table, snapshot_id: str) -> set[int]:
    return set(table.filter(pc.field("snapshot_id") == snapshot_id)[PART_COL].to_pylist())


def load_manifest(spark: SparkSession, base_path: str) -> DataFrame | None:
    table = _read_manifest(_local_base(base_path))
    return None if table is None else spark.createDataFrame(table)


def completed_parts(spark: SparkSession, base_path: str, snapshot_id: str) -> set[int]:
    """Partition ids the manifest under ``base_path`` marks complete for
    ``snapshot_id`` (empty before the first write); no Spark job."""
    table = _read_manifest(_local_base(base_path))
    return set() if table is None else _done(table, snapshot_id)


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
    base_path = _local_base(base_path)
    keyed = with_partition_id(df, key_cols, num_parts)

    manifest = _read_manifest(base_path)
    done = set() if manifest is None else _done(manifest, snapshot_id)
    # monotone write sequence: verify_manifest trusts only the LATEST row per
    # partition, so re-writing a base with a new snapshot never leaves stale
    # rows that report false drift
    seq = 0 if manifest is None else (pc.max(manifest["manifest_seq"]).as_py() or 0) + 1

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
        written = _read_data(spark, base_path, keyed.schema)
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
        rows = manifest_rows.toArrow()
    # an empty write still appends, so the manifest dir exists after it
    manifest_dir = _resolve_manifest_dir(base_path)
    os.makedirs(manifest_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    hidden = os.path.join(manifest_dir, "." + name)
    pq.write_table(rows, hidden)
    os.replace(hidden, os.path.join(manifest_dir, name))
    stats["parts_written"] = rows.num_rows
    stats["rows_written"] = pc.sum(rows["row_count"]).as_py() or 0
    return stats


def _read_data(spark: SparkSession, base_path: str, schema=None) -> DataFrame:
    """The data table under ``base_path``. Its part dirs (up to
    ``num_parts`` of them) are listed on the driver: above
    ``parallelPartitionDiscovery.threshold`` paths (32) Spark would list them
    in a distributed job, which costs more than it saves on the local bases
    the manifest requires."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    with session_conf(spark, "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)):
        return reader.parquet(_data_path(base_path))


def read_checkpointed(spark: SparkSession, base_path: str) -> DataFrame:
    return _read_data(spark, base_path).drop(PART_COL)


def compact_manifest(spark: SparkSession, base_path: str) -> dict:
    """Rewrite the append-only manifest (one row per partition per (re)run)
    down to the ``_latest`` row per partition, keeping its reads O(partitions).

    Swap protocol — GENERATION POINTER, no directory rename (renames on
    S3/GCS are copy+delete, not atomic): one ``pq.write_table`` into a fresh
    ``_manifest.g<N+1>`` dir (no Spark job), then the one-line pointer file
    ``_manifest.ptr`` is atomically replaced to name it. Readers resolve the
    pointer first, so they always see a COMPLETE generation. A crash before
    the flip leaves an orphan dir (replaced by the next compaction), one
    after it the superseded dir (removed by the next compaction). Only this
    function deletes anything; its flip and cleanup are local file I/O, so
    a non-local base is refused (``ValueError``). Appends land in the
    resolved current dir: run compaction while no writer is appending (the
    pointer removes the reader/compactor race, not the writer/compactor one).

    Returns {"rows_before", "rows_after", "generation"}."""
    base_path = _local_base(base_path)
    manifest = _read_manifest(base_path)
    if manifest is None:
        raise FileNotFoundError(f"no manifest under {base_path}")
    gen = _current_generation(base_path)
    cur_dir = _resolve_manifest_dir(base_path)
    next_gen = 0 if gen is None else gen + 1

    compacted = _latest(manifest)
    new_dir = _gen_dir(base_path, next_gen)
    # a fresh dir also absorbs an orphan of the same generation left by a
    # compaction that crashed before its pointer flip
    shutil.rmtree(new_dir, ignore_errors=True)
    os.makedirs(new_dir)
    pq.write_table(compacted, os.path.join(new_dir, "part-00000.parquet"))
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
    return {"rows_before": manifest.num_rows, "rows_after": compacted.num_rows, "generation": next_gen}


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
    base_path = _local_base(base_path)
    table = _read_manifest(base_path)
    if table is None:
        raise FileNotFoundError(f"no manifest under {base_path}")
    manifest = spark.createDataFrame(_latest(table))
    data = _read_data(spark, base_path)
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
