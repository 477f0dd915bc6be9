"""Table sources: the snapshot-pinned read, scan parallelism, and the names
of the driver-generated TPC-H-ish test schema's tables.

Spark-side analog of the reference's path-list source
(``/root/reference/utils/utils.py:135-175`` — CLI list / txt file → work list):
the "work list" is a table, discovery/pruning is the scan's job, and the
reference's manual input shuffling for load balancing is subsumed by Spark task
scheduling.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def spread_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Lift scan parallelism when the input arrives in fewer partitions than
    the session can use (input skew: a single-row-group parquet file scans
    as ONE task, serializing every per-row transform above it — the driver
    testdata tables are exactly that shape). Hash-repartition on
    ``key_cols`` (deterministic, no sort-before-repartition pass; Murmur3 over
    thousands of distinct ids spreads evenly; no keys = round-robin). No-op
    when the input is already parallel (the 100 TB case — real corpora arrive
    in thousands of splits) or streaming, so this never adds a shuffle at
    scale; locally it trades one tiny exchange for full-session parallelism
    of the work above it. The target is the session's scheduling
    parallelism, not a constant. Results are unchanged (content-identical,
    redistributed)."""
    if df.isStreaming:
        return df
    try:
        # probe ONLY scan-shaped plans: on a plan containing shuffles (joins,
        # aggregates, repartitions) `.rdd` forces AQE to EXECUTE the upstream
        # stages as a throwaway job — and such plans are already parallel
        # anyway. Plan inspection is planning-time only, no execution.
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        nodes = {
            ln.split("'")[0].strip("+-: ").split(" ")[0]
            for ln in plan.splitlines()
            if ln.strip()
        }
        if not nodes <= {"Project", "Filter", "Relation", "LogicalRDD", "MapInPandas"}:
            return df
        target = df.sparkSession.sparkContext.defaultParallelism
        nparts = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 - parallelism probe must never break a plan
        return df
    if nparts >= target:
        return df
    return df.repartition(target, *key_cols)


# has_iceberg's answer per SparkContext applicationId
_ICEBERG: dict[str, bool] = {}


def has_iceberg(spark: SparkSession) -> bool:
    """True when an Iceberg runtime is on the classpath (production clusters);
    without one the snapshot source falls back to parquet.

    The probe is a ``Class.forName`` (without a runtime it fails: 0.18 s for
    the two reads of a cold ``plans.run``), so it runs once per SparkContext
    and the answer is kept under the context's ``applicationId``. Only a new
    context (after ``spark.stop()``) invalidates it; a jar added to a
    running context is not seen."""
    app = spark.sparkContext.applicationId
    if app not in _ICEBERG:
        try:
            # py4j package attributes resolve lazily — Class.forName is the real probe
            spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")  # noqa: SLF001
            _ICEBERG[app] = True
        except Exception:  # noqa: BLE001
            _ICEBERG[app] = False
    return _ICEBERG[app]


def read_snapshot(
    spark: SparkSession, table: str, snapshot_id: int | str | None = None
) -> DataFrame:
    """Snapshot-pinned table read — the north rule's "reads Iceberg snapshots".

    With Iceberg on the classpath: a time-travel read of exactly
    ``snapshot_id`` (reproducible input set, the id recorded in checkpoint
    manifests). Without it (this sandbox): a plain parquet read — the
    directory IS the immutable snapshot here, and ``snapshot_id`` is carried
    through ``checkpointed_write(..., snapshot_id=...)`` lineage rows so the
    resume/verify contract is identical either way. The parquet read passes
    the schema ``_parquet_schema`` reads on the driver, so defining it runs
    no Spark job.
    """
    if has_iceberg(spark):
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            sid = str(snapshot_id)
            # numeric → a snapshot id; anything else → a named tag/branch
            reader = reader.option("snapshot-id" if sid.isdigit() else "tag", sid)
        return reader.load(table)
    schema = _parquet_schema(spark, table)
    return (spark.read.schema(schema) if schema is not None else spark.read).parquet(table)


def _parquet_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, read on the driver
    instead of in the one-task job Spark runs for it: Spark's own footer
    reader and converter over the file its inference reads, the first data
    file by path. None, to let Spark infer, under schema merging and for
    globs, empty dirs, partition dirs and summary (``_metadata``) files."""
    if spark.conf.get("spark.sql.parquet.mergeSchema").lower() == "true":
        return None
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()  # noqa: SLF001
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):  # a glob or a missing path: Spark resolves or reports it
        return None
    listed = [fs.getFileStatus(root)] if fs.isFile(root) else list(fs.listStatus(root))
    names = [st.getPath().getName() for st in listed]
    data = [st for st, n in zip(listed, names) if not n.startswith(("_", "."))]
    if not data or any(st.isDirectory() for st in listed) or {"_metadata", "_common_metadata"} & set(names):
        return None
    first = min(data, key=lambda st: st.getPath().toString())
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    footer = parquet.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(first, conf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(first.getPath(), footer),
        parquet.ParquetToSparkSchemaConverter(spark._jsparkSession.sessionState().conf()),  # noqa: SLF001
    )
    return StructType.fromJson(json.loads(schema.json()))
