"""Python-worker setup: the per-task zip-directory re-read is skipped for
archives that did not change, only inside Python workers, and only on the
Python versions that re-read eagerly."""

import importlib.util
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from video_features_spark import _worker

eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python 3.13+ defers the re-read itself; nothing is installed"
)


def _write_zip(path, modules):
    """Write ``modules`` (name -> source) as a fresh file at ``path``."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@eager_reread
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"vfs_zip_a": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p))

    _worker._invalidate_if_changed(importer)  # first sight of the archive: read it
    _worker._invalidate_if_changed(importer)
    _worker._invalidate_if_changed(zipimport.zipimporter(path))
    assert reads == [path]

    _write_zip(path, {"vfs_zip_a": "X = 1\n", "vfs_zip_b": "Y = 2\n"})
    _worker._invalidate_if_changed(importer)
    assert reads == [path, path]
    spec = importer.find_spec("vfs_zip_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


def test_driver_zipimport_is_never_patched(spark):
    """The install is a no-op outside a Python worker, and running library
    UDFs leaves the driver's zipimport as it was."""
    from video_features_spark.operators.features import embed_caption_column

    original = zipimport.zipimporter.invalidate_caches
    _worker.cache_zip_directories()
    df = spark.createDataFrame([("a cat",), ("two dogs",)], "caption string")
    assert len(embed_caption_column(df).collect()) == 2
    assert zipimport.zipimporter.invalidate_caches is original
    assert original is not _worker._invalidate_if_changed


@eager_reread
def test_reused_worker_keeps_the_installed_invalidation(spark):
    """Every library UDF installs the invalidation on its worker's first
    task; a later task on the same (reused) worker finds it installed."""

    def probe(batches):
        from video_features_spark import _worker as w

        installed = zipimport.zipimporter.invalidate_caches is w._invalidate_if_changed
        w.cache_zip_directories()  # what every library UDF body does first
        for _ in batches:
            yield pd.DataFrame({"pid": [os.getpid()], "installed": [installed]})

    reports = []
    for _ in range(24):  # single-task jobs cycle through the idle workers
        reports += spark.range(1, numPartitions=1).mapInPandas(probe, "pid long, installed boolean").collect()
        if len({r["pid"] for r in reports}) < len(reports):
            break
    seen, later = set(), []
    for r in reports:
        if r["pid"] in seen:
            later.append(r["installed"])
        seen.add(r["pid"])
    assert later and all(later)
