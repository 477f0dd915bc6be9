"""Gates for the oracle-parity replicas in __spark_entry__.py: the pure-Python
Spark-hash twins and the Spark-typed float folds are correctness-critical (the
driver's value-hash compare needs BIT-exact oracles), so their equivalences are
pinned here, not just in ad-hoc validation runs."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


def test_xxhash64_long_matches_spark(spark):
    from pyspark.sql import functions as F

    vals = [0, 1, -1, 42, 2**62, -(2**62), 123456789]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r.v: r.h for r in df.select("v", F.xxhash64("v").alias("h")).collect()}
    for v in vals:
        assert entrymod._xxhash64_long(v) == got[v]


def test_xxhash64_bytes_matches_spark(spark):
    from pyspark.sql import functions as F

    texts = ["", "a", "abcd", "hello world", "x" * 7, "y" * 8, "z" * 31,
             "w" * 32, "q" * 100, "naïve café 🌊", "1,2,3,44,555"]
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = {r.s: r.h for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for t in texts:
        assert entrymod._xxhash64_bytes(t.encode("utf-8")) == got[t]


def test_asof_tiebreak_hash_matches_spark(spark):
    """struct(array<float>, timestamp) — the asof._build_tiebreak shape."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(1)
    rows = []
    for i in range(8):
        emb = rng.standard_normal(16).astype(np.float32)
        if i == 0:
            emb[:3] = [0.0, -0.0, 1.5]  # -0.0 normalization pin
        rows.append((i, emb.tolist(), f"2024-01-{i+1:02d} 12:34:56"))
    df = spark.createDataFrame(rows, "i int, emb array<float>, ts string").select(
        "i", "emb", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {r.i: r.h for r in df.select("i", F.xxhash64(F.struct("emb", "ts")).alias("h")).collect()}
    for i, emb, ts in rows:
        micros = int(pd.Timestamp(ts).value // 1000)
        assert entrymod._asof_tiebreak_hash(emb, micros) == got[i]


def test_seq_folds_match_spark_aggregate(spark):
    """float32 products + sequential float64 accumulation — Spark's exact
    typing for aggregate folds over array<float> (don't 'simplify' to np.sum:
    pairwise summation breaks bit-parity)."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(0)
    vecs = [rng.standard_normal(512).astype(np.float32) for _ in range(10)]
    df = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(vecs)], "i int, emb array<float>")
    got = {
        r.i: (r.sq, r.dot)
        for r in df.select(
            "i",
            F.aggregate("emb", F.lit(0.0), lambda a, x: a + x * x).alias("sq"),
            F.aggregate(
                F.zip_with("emb", "emb", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
            ).alias("dot"),
        ).collect()
    }
    for i, v in enumerate(vecs):
        assert entrymod._seq_fold_sq(v) == got[i][0]
        assert entrymod._seq_fold_dot(v, v) == got[i][1]


def test_batch_helpers_equal_scalar():
    rng = np.random.default_rng(7)
    embs = rng.standard_normal((50, 64)).astype(np.float32)
    embs[0, :5] = 0.0
    other = rng.standard_normal((50, 64)).astype(np.float32)
    micros = [1700000000_000_000 + i * 977 for i in range(50)]
    assert entrymod._seq_fold_sq_batch(embs) == [entrymod._seq_fold_sq(v) for v in embs]
    assert entrymod._seq_fold_dot_batch(embs, other) == [
        entrymod._seq_fold_dot(a, b) for a, b in zip(embs, other)
    ]
    assert entrymod._asof_tiebreak_hash_batch(embs, micros) == [
        entrymod._asof_tiebreak_hash(v, m) for v, m in zip(embs, micros)
    ]


def test_dlit_roundtrips_exactly():
    """Scientific-notation literals parse back to the identical double in
    DuckDB (bare decimals go through DECIMAL and land 1 ulp off)."""
    import duckdb

    rng = np.random.default_rng(3)
    vals = [float(v) for v in rng.standard_normal(200)] + [
        0.9999999411458873, 1.0000000585193238, 1e-300, -1e300, 0.0
    ]
    con = duckdb.connect()
    sql = "SELECT " + ", ".join(f"{entrymod._dlit(v)}::DOUBLE AS c{i}" for i, v in enumerate(vals))
    row = con.execute(sql).fetchone()
    for v, got in zip(vals, row):
        assert got == v, f"{v!r} -> {got!r}"
