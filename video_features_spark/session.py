"""SparkSession factory with scale-oriented defaults.

Replaces the reference's hand-rolled multi-process scheduler
(``/root/reference/README.md:70-84``: independent single-GPU processes on a shared
filesystem, shuffled inputs, skip-if-done) with Spark's scheduler. The configs here
are the ones that matter at 100 TB: AQE (runtime re-plan + skew-join splitting),
Arrow batch sizing (the analog of the reference's ``batch_size`` knob,
``/root/reference/configs/clip.yml:4``), and a shuffle-partition count sized to the
parallelism level.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

# Arrow batch size plays the role of the reference's inference batch_size
# (/root/reference/models/_base/base_framewise_extractor.py:83-90): it bounds
# per-batch memory inside every pandas UDF.
DEFAULT_ARROW_BATCH = 2048


def get_spark(
    app_name: str = "video_features_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a real
    cluster this function is a no-op passthrough: ``spark-submit`` owns master and
    sizing, and the getOrCreate() picks the existing session up.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or max(2 * cores, 32)

    # make this package importable inside Python UDF workers regardless of the
    # caller's cwd: local-mode workers inherit the driver process env (a
    # sys.path.insert on the driver does NOT propagate). On a real cluster
    # spark-submit --py-files owns this instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(DEFAULT_ARROW_BATCH))
        # pandas UDFs carrying image bytes: keep task size sane at scale
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextlib.contextmanager
def session_conf(spark: SparkSession, key: str, value: str):
    """Set one SQL conf for the block and restore the prior setting after it:
    a shared session must not be mutated for good."""
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


@contextlib.contextmanager
def job_description(spark: SparkSession, text: str):
    """Label the jobs the block launches; restore the prior description (a
    caller's job group and description survive) after it."""
    sc = spark.sparkContext
    prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(prior)
