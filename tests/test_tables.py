"""Snapshot-source dispatch gates: the Iceberg branch (stubbed runtime — none
ships in this sandbox) must build a time-travel read with the right option for
snapshot-id vs tag, and the parquet fallback must read the schema Spark would
infer, without a job."""

import os
from types import SimpleNamespace

from video_features_spark.sources import tables


class _FakeReader:
    def __init__(self):
        self.fmt = None
        self.options = {}
        self.loaded = None

    def format(self, f):
        self.fmt = f
        return self

    def option(self, k, v):
        self.options[k] = v
        return self

    def load(self, path):
        self.loaded = path
        return "ICEBERG_DF"


class _FakeSpark:
    def __init__(self):
        self.read = _FakeReader()


def test_read_snapshot_iceberg_numeric_pins_snapshot_id(monkeypatch):
    monkeypatch.setattr(tables, "has_iceberg", lambda spark: True)
    fs = _FakeSpark()
    out = tables.read_snapshot(fs, "db.features", snapshot_id=123456789)
    assert out == "ICEBERG_DF"
    assert fs.read.fmt == "iceberg"
    assert fs.read.options == {"snapshot-id": "123456789"}
    assert fs.read.loaded == "db.features"


def test_read_snapshot_iceberg_string_pins_tag(monkeypatch):
    monkeypatch.setattr(tables, "has_iceberg", lambda spark: True)
    fs = _FakeSpark()
    tables.read_snapshot(fs, "db.features", snapshot_id="v2024-01")
    assert fs.read.options == {"tag": "v2024-01"}


def test_read_snapshot_iceberg_unpinned_reads_head(monkeypatch):
    monkeypatch.setattr(tables, "has_iceberg", lambda spark: True)
    fs = _FakeSpark()
    tables.read_snapshot(fs, "db.features")
    assert fs.read.fmt == "iceberg" and fs.read.options == {}


class _NoIcebergSpark:
    """A session without an Iceberg runtime that counts its class probes."""

    def __init__(self, app_id):
        self.probes = 0
        self.sparkContext = SimpleNamespace(applicationId=app_id)
        lang = SimpleNamespace(Class=SimpleNamespace(forName=self._for_name))
        self._jvm = SimpleNamespace(java=SimpleNamespace(lang=lang))
        self.read = SimpleNamespace(parquet=lambda path: f"PARQUET:{path}")

    def _for_name(self, name):
        self.probes += 1
        raise RuntimeError(f"java.lang.ClassNotFoundException: {name}")


def test_read_snapshot_probes_iceberg_once_per_context(monkeypatch):
    """A second read in one SparkContext does not probe the classpath again;
    a new context (new applicationId) does."""
    monkeypatch.setattr(tables, "_ICEBERG", {})
    monkeypatch.setattr(tables, "_parquet_schema", lambda spark, path: None)
    fs = _NoIcebergSpark("app-1")
    assert tables.read_snapshot(fs, "a.parquet") == "PARQUET:a.parquet"
    assert tables.read_snapshot(fs, "b.parquet", snapshot_id=7) == "PARQUET:b.parquet"
    assert fs.probes == 1
    fs.sparkContext.applicationId = "app-2"
    tables.read_snapshot(fs, "a.parquet")
    assert fs.probes == 2


def test_read_snapshot_parquet_fallback(spark, sf_dir):
    assert tables.has_iceberg(spark) is False  # sandbox ships no runtime
    df = tables.read_snapshot(spark, f"{sf_dir}/events.parquet", snapshot_id=1)
    assert df.count() == 1000


def test_read_snapshot_reads_the_inferred_schema_without_a_job(spark, sf_dir, tmp_path):
    """The parquet read's schema, read on the driver, equals the one
    ``spark.read.parquet`` infers (TIMESTAMP_NTZ from naive pyarrow
    timestamps, TIMESTAMP from tz-aware ones and from Spark's own INT96,
    nested and unsigned types), and defining the read launches no Spark job.
    A partitioned directory and one with a summary file are left to Spark's
    inference."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    naive = pa.table({"ts": pa.array([dt.datetime(2024, 1, 1)], pa.timestamp("us")), "k": [1]})
    pq.write_table(naive, str(tmp_path / "naive.parquet"))
    aware = pa.table({
        "ts": pa.array([dt.datetime(2024, 1, 1)], pa.timestamp("ms", tz="UTC")),
        "xs": pa.array([[1.5, 2.5]], pa.list_(pa.float32())),
        "s": pa.array([{"a": b"x", "b": 2}]),
        "u": pa.array([7], pa.uint32()),
    })
    for d in ("aware", "summary"):
        os.makedirs(tmp_path / d)
        for i in range(2):
            pq.write_table(aware, str(tmp_path / d / f"part-{i}.parquet"))
    pq.write_metadata(aware.schema, str(tmp_path / "summary" / "_common_metadata"))
    spark.sql("select timestamp'2024-01-01 00:00:00' ts, map('a', 1) m, 1.5bd d").write.parquet(
        str(tmp_path / "spark")
    )
    spark.range(4).selectExpr("id", "id % 2 k").write.partitionBy("k").parquet(str(tmp_path / "parts"))
    paths = [f"{sf_dir}/events.parquet", f"{sf_dir}/documents.parquet"] + [
        str(tmp_path / d) for d in ("naive.parquet", "aware", "spark")
    ]
    sc = spark.sparkContext
    sc.setJobGroup("read-snapshot", "read-snapshot")
    try:
        read = [tables.read_snapshot(spark, p) for p in paths]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert list(sc.statusTracker().getJobIdsForGroup("read-snapshot")) == []
    for p, df in zip(paths, read):
        assert df.schema == spark.read.parquet(p).schema
    assert read[2].schema["ts"].dataType.simpleString() == "timestamp_ntz"
    assert read[3].schema["ts"].dataType.simpleString() == "timestamp"
    assert read[4].collect() == spark.read.parquet(paths[4]).collect()
    for p in (str(tmp_path / "summary"), str(tmp_path / "parts")):
        assert tables._parquet_schema(spark, p) is None
        assert tables.read_snapshot(spark, p).schema == spark.read.parquet(p).schema
