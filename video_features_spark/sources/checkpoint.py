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
- Each write lands as plain parquet files in a dir of its own,
  ``<base>/data/write-<seq>`` (``seq`` = max ``manifest_seq`` + 1), with
  ``__part`` an ordinary column: no ``partitionBy``, no dynamic overwrite,
  no shuffle, so it makes one file per non-empty input partition. No
  reader needs rows clustered by part, and a file per part per write costs
  a ``chmod`` fork each on a Hadoop without ``libhadoop``.
- Visibility lives in the manifest, as in an Iceberg-style table: a part's
  live rows are those of the write its LATEST manifest row names. A rerun
  of a part supersedes exactly that part; a write whose manifest append
  never happened is never read, and the next write reuses its seq and
  replaces its dir (the one deletion outside ``compact_manifest``, which
  deletes every write dir no compacted row names).
- The manifest (``<base>/_manifest``, the one layout) gets one row per
  completed partition per write: job/snapshot id, partition id, key range,
  row count, content checksum (sum of per-row xxhash64 — order-independent,
  partitioning-independent), aggregated from the read-back of the write's
  dir. It is driver metadata (at most ``num_parts`` rows per write), kept
  with pyarrow and local file I/O: the append is one file written under a
  hidden ``.`` name and ``os.replace``d into place (no reader lists a
  partial one), and ``compact_manifest`` rewrites the dir in place the
  same way. So is the data's Spark schema, stored once per base
  (``_schema.json``) and passed to every read, so no read infers it from
  a footer; a write of another schema is a ``ValueError``. A write runs
  two labelled Spark actions (write data, manifest rows); resume state,
  the append and compaction run none. A base that is not a local path or
  ``file:`` URI, or that holds the retired ``_manifest.ptr``, is a
  ``ValueError``.
- Resume = filter the input's partition ids against the manifest's completed
  ids (``completed_parts``): only missing partitions are written.
  ``checkpointed_write`` applies that filter to the frame it is given, i.e.
  ABOVE any Python UDF inside it (Catalyst cannot push a filter through
  ``MapInArrow``), so a generic caller still pays the UDF for completed
  partitions. A caller that knows how its key reaches its inputs prunes
  them below the UDF itself (``plans.run`` does, with ``partition_id``);
  the writer's filter stays as the backstop.
- ``verify_manifest`` recounts + re-checksums the data of the write each
  latest manifest row names and reports drift — the "loads without error"
  half of the reference's check, done with aggregates instead of
  re-reading into the model.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Sequence
from functools import reduce
from operator import or_
from pathlib import Path
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructType

from ..session import job_description

PART_COL = "__part"
WRITE_COL = "__write"


def _local_base(base: str) -> str:
    """``base`` as a local path: the manifest is kept with local file I/O, so
    any other URI scheme is refused before anything touches the base. So is
    a base in the retired generation-pointer layout: its ``_manifest`` dir is
    missing or stale, and a write would reuse a seq its live manifest names."""
    url = urlparse(base)
    if url.scheme not in ("", "file"):
        raise ValueError(f"checkpoint base {base!r} is not a local path or file: URI")
    path = url.path if url.scheme else base
    pointer = os.path.join(path, "_manifest.ptr")
    if os.path.exists(pointer):
        raise ValueError(f"{pointer} marks a generation-pointer manifest layout, which is no longer read")
    return path


def _data_path(base: str) -> str:
    return os.path.join(base, "data")


def _write_dir(base: str, seq: int) -> str:
    # not ``key=value``: a hive-partitioned reader of ``data`` (pyarrow's
    # included) then sees only the data columns
    return os.path.join(_data_path(base), f"write-{seq}")


def _write_seqs(base: str) -> list[int]:
    """The seqs of the write dirs under ``base``, named by a manifest row
    or not."""
    return sorted(int(d[len("write-"):]) for d in os.listdir(_data_path(base)) if d.startswith("write-"))


def _schema_path(base: str) -> str:
    return os.path.join(base, "_schema.json")


def _manifest_path(base: str) -> str:
    return os.path.join(base, "_manifest")


def _new_manifest_file(base: str) -> str:
    return os.path.join(_manifest_path(base), f"part-{uuid.uuid4().hex}.parquet")


def _manifest_files(base: str) -> list[str]:
    """The visible files of ``base``'s manifest dir. Hidden (``.``/``_``-
    prefixed) names are skipped: an append or a compaction that died before
    its rename left its file under one (the next compaction removes it)."""
    path = _manifest_path(base)
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(os.path.join(path, n) for n in names if not n.startswith((".", "_")))


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


def _listed_manifest(base: str) -> tuple[list[str], pa.Table | None]:
    """The visible manifest files of local ``base`` and their rows as one
    Arrow table (None while there is no file). A compaction publishes its
    file before it removes the ones it replaces, so when a listed file
    vanishes before it is read, a fresh listing holds all of its rows. A
    file that is missing from two equal listings is not such a race."""
    listed = None
    while True:
        files = _manifest_files(base)
        try:
            return files, pq.read_table(files) if files else None
        except FileNotFoundError:
            if files == listed:
                raise
            listed = files


def _read_manifest(base: str) -> pa.Table | None:
    return _listed_manifest(base)[1]


def _latest(table: pa.Table) -> pa.Table:
    """The LATEST row per partition (max ``manifest_seq``): earlier rows
    describe data a later write overwrote. Duplicate rows, which a
    compaction that died during its removals leaves, collapse to one."""
    rows = table.sort_by([(PART_COL, "ascending"), ("manifest_seq", "descending")])
    parts = rows[PART_COL].to_pylist()
    first = [i for i, p in enumerate(parts) if i == 0 or p != parts[i - 1]]
    return rows.take(pa.array(first, pa.int64()))


def _required_manifest(base: str) -> pa.Table:
    table = _read_manifest(base)
    if table is None:
        raise FileNotFoundError(f"no manifest under {base}")
    return table


def _stage(path: str, write) -> str:
    """``write`` the file for ``path`` under a hidden ``.`` name beside it
    and return that name; ``os.replace`` it into place to publish it, so no
    reader ever lists a partial file."""
    hidden = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    write(hidden)
    return hidden


def _stored_schema(base: str) -> StructType | None:
    try:
        with open(_schema_path(base)) as f:
            return StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return None


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

    The rows land in one new write dir, ``data/write-<seq>``, as one file
    per non-empty partition of ``df``'s plan: the write adds no exchange, so
    the caller's partitioning decides the file count. A ``df`` whose schema
    differs from the one the base already holds is a ``ValueError``, raised
    before anything is written.

    Returns {"parts_total", "parts_skipped", "parts_written", "rows_written"}.
    Call again after any failure: completed partitions are not recomputed.
    """
    spark = df.sparkSession
    base_path = _local_base(base_path)
    keyed = with_partition_id(df, key_cols, num_parts)
    stored = _stored_schema(base_path)
    if stored is not None and stored.simpleString() != keyed.schema.simpleString():
        raise ValueError(
            f"checkpoint base {base_path!r} holds {stored.simpleString()}, "
            f"not {keyed.schema.simpleString()}"
        )

    manifest = _read_manifest(base_path)
    done = set() if manifest is None else _done(manifest, snapshot_id)
    # monotone write sequence: a part's LATEST manifest row names the write
    # its live rows are in. The max row is always some part's latest, so it
    # survives compaction and a seq is never named twice.
    seq = 0 if manifest is None else (pc.max(manifest["manifest_seq"]).as_py() or 0) + 1

    todo = keyed.filter(~F.col(PART_COL).isin(*done)) if done else keyed
    out_cols = [c for c in keyed.columns if c != PART_COL]

    stats = {"parts_total": num_parts, "parts_skipped": len(done)}
    write_dir = _write_dir(base_path, seq)
    # no manifest row names ``seq``: the dir holds at most the remains of a
    # write that died before its append, so overwriting it loses nothing
    with job_description(spark, "checkpoint: write data"):
        todo.write.mode("overwrite").parquet(write_dir)
    # manifest rows from what LANDED in this write's dir; the explicit schema
    # reads no footer and lets a write of no rows read back as empty
    with job_description(spark, "checkpoint: manifest rows"):
        manifest_rows = (
            spark.read.schema(keyed.schema).parquet(write_dir)
            .groupBy(PART_COL)
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
    os.makedirs(_manifest_path(base_path), exist_ok=True)
    append = _new_manifest_file(base_path)
    staged = _stage(append, lambda p: pq.write_table(rows, p))
    if stored is None:  # public before the first manifest row: reads need it
        schema_file = _schema_path(base_path)
        os.replace(_stage(schema_file, lambda p: Path(p).write_text(keyed.schema.json())), schema_file)
    os.replace(staged, append)
    stats["parts_written"] = rows.num_rows
    stats["rows_written"] = pc.sum(rows["row_count"]).as_py() or 0
    return stats


def _read_writes(spark: SparkSession, base_path: str, seqs) -> DataFrame:
    """The rows of the writes ``seqs``, each tagged with its seq in
    ``__write``. Every write dir is read as a root path of its own, so
    Spark lists it on the driver however many there are (it would list
    more than ``parallelPartitionDiscovery.threshold`` subdirs of one root
    in a distributed job), and the stored schema replaces the parquet
    footer read: defining the frame runs no Spark job."""
    schema = _stored_schema(base_path)
    frames = [
        spark.read.schema(schema).parquet(_write_dir(base_path, seq)).withColumn(WRITE_COL, F.lit(seq))
        for seq in seqs
    ]
    if not frames:
        return spark.createDataFrame([], schema.add(WRITE_COL, IntegerType()))
    return reduce(DataFrame.unionByName, frames)


def read_checkpointed(spark: SparkSession, base_path: str) -> DataFrame:
    """The live rows: each part's rows in the write its latest manifest row
    names. Superseded and uncommitted writes are never read."""
    base_path = _local_base(base_path)
    latest = _latest(_required_manifest(base_path))
    by_write: dict[int, list[int]] = {}
    for part, seq in zip(latest[PART_COL].to_pylist(), latest["manifest_seq"].to_pylist()):
        by_write.setdefault(seq, []).append(part)
    live = reduce(
        or_,
        ((F.col(WRITE_COL) == seq) & F.col(PART_COL).isin(*parts) for seq, parts in by_write.items()),
        F.lit(False),
    )
    return _read_writes(spark, base_path, by_write).filter(live).drop(PART_COL, WRITE_COL)


def compact_manifest(spark: SparkSession, base_path: str) -> dict:
    """Rewrite the append-only manifest (one row per partition per (re)run)
    down to the ``_latest`` row per partition, keeping its reads O(partitions),
    and delete every write dir no compacted row names.

    In place, in the one ``_manifest`` dir, with no Spark job: list its
    visible files once, publish their latest rows as one new file (hidden
    name, then ``os.replace``, as an append is published), then remove
    exactly the listed files, and then every hidden staged ``.part-*`` file:
    the remains of an append or a compaction that died before its publish.
    The compacted file is public before anything is removed, so a reader
    racing the compaction still gets every live row (``_listed_manifest``
    re-lists when a listed file has gone). A crash before the publish
    leaves the manifest as it was; one during the removals leaves duplicate
    rows, which ``_latest`` and ``_done`` collapse, and the next compaction
    leaves one file. Only this function deletes manifest files. Run it
    while no writer is appending: an append's file is not listed, so it
    survives (unless it is still staged), but the write dir it names is
    deleted with the unnamed ones.

    The write dirs go right after the removals: a reader reads only the
    dirs its latest rows name, and the compacted rows are those same rows.
    The rest are superseded writes, or remains of a write that died before
    its append.

    Returns {"rows_before", "rows_after"}."""
    base_path = _local_base(base_path)
    files, manifest = _listed_manifest(base_path)
    if manifest is None:
        raise FileNotFoundError(f"no manifest under {base_path}")
    compacted = _latest(manifest)

    def write_durably(path):  # on disk before the files it replaces go
        with open(path, "wb") as f:
            pq.write_table(compacted, f)
            f.flush()
            os.fsync(f.fileno())

    target = _new_manifest_file(base_path)
    os.replace(_stage(target, write_durably), target)
    for f in files:
        os.remove(f)
    manifest_dir = _manifest_path(base_path)
    for name in os.listdir(manifest_dir):
        if name.startswith(".part-"):  # staged by a writer that died before its publish
            os.remove(os.path.join(manifest_dir, name))
    named = set(compacted["manifest_seq"].to_pylist())
    for seq in _write_seqs(base_path):
        if seq not in named:
            shutil.rmtree(_write_dir(base_path, seq), ignore_errors=True)
    return {"rows_before": manifest.num_rows, "rows_after": compacted.num_rows}


def verify_manifest(spark: SparkSession, base_path: str) -> DataFrame:
    """Recount + re-checksum the data of the write each LATEST manifest row
    names (earlier rows describe superseded writes, which are not drift),
    and flag a part with data but no manifest row at all; returns the
    (part, write) groups that disagree (empty DataFrame == healthy)."""
    base_path = _local_base(base_path)
    latest = _latest(_required_manifest(base_path))
    manifest = spark.createDataFrame(latest).withColumnRenamed("manifest_seq", WRITE_COL)
    data = _read_writes(spark, base_path, _write_seqs(base_path))
    out_cols = [c for c in data.columns if c not in (PART_COL, WRITE_COL)]
    actual = data.groupBy(PART_COL, WRITE_COL).agg(
        F.count(F.lit(1)).alias("actual_rows"), _content_checksum(out_cols).alias("actual_checksum")
    )
    recorded = latest[PART_COL].to_pylist()
    return (
        manifest.join(actual, [PART_COL, WRITE_COL], "full")
        .filter(
            (F.col("row_count") != F.col("actual_rows"))
            | (F.col("checksum") != F.col("actual_checksum"))
            | F.col("actual_rows").isNull()
            | (F.col("row_count").isNull() & ~F.col(PART_COL).isin(*recorded))
        )
    )
