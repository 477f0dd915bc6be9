"""The gated driver queries materialize once and release what they made: no
cached RDD, no streaming memory-sink view and no checkpoint base outlives a
query call, also when a gate fails."""

import glob
import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


def _persistent_rdds(spark) -> set:
    # other tests' localCheckpoints share the session: compare ids, not sizes
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_gated_and_stream_queries_leave_no_cache_or_view(spark, sf_dir):
    before = _persistent_rdds(spark)
    qs = entrymod.queries()
    for name in ("image_phash_sessions", "audio_logmel", "stream_tumbling"):
        assert qs[name](spark, sf_dir).collect(), name
    assert _persistent_rdds(spark) - before == set()
    assert [t.name for t in spark.catalog.listTables() if t.name.startswith("qst_")] == []


def test_failing_gate_releases_the_cache(spark):
    df = spark.range(10)
    before = _persistent_rdds(spark)
    with pytest.raises(AssertionError, match="invariant violated: ten rows: got 10"):
        entrymod._gated(df, entrymod._count_is(11, "ten rows"))
    assert not df.is_cached
    assert _persistent_rdds(spark) - before == set()


def test_checkpoint_resume_leaves_no_base(spark, sf_dir):
    def bases() -> set:
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "vfs_ckpt_resume_*")))

    before = bases()
    row = entrymod.queries()["checkpoint_resume"](spark, sf_dir).collect()
    assert len(row) == 1 and row[0]["drift_rows"] == 0
    assert bases() - before == set()
