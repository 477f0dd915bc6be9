"""As-of join correctness, strict and non-strict, salted and unsalted: vs
DuckDB's native ASOF JOIN, and vs a pandas reference (``pd.merge_asof`` after
keeping the max-tiebreak-hash row of each duplicate (key, ts)) that shares no
join code with the operator."""

import pytest
from pyspark.sql import functions as F

from tests.utils import assert_frames_match
from video_features_spark.operators import asof_join
from video_features_spark.operators.asof import _build_tiebreak, assert_no_leakage, leakage_guard

# Test ids name the join's one physical plan: the union + window pass.
_WINDOW = pytest.mark.parametrize("plan", ["window"])


def _feat(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # unique (key, ts) build side => deterministic as-of answer for any engine
    return (
        orders.groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("feat_price"))
        .withColumnRenamed("o_custkey", "user_id")
    )


def _oracle(duck, strict):
    op = ">" if strict else ">="
    return duck.execute(
        f"""
        WITH feat AS (
          SELECT o_custkey AS user_id, o_orderdate, max(o_totalprice) AS feat_price
          FROM orders GROUP BY 1, 2
        )
        SELECT e.user_id, e.ts, e.event_id,
               f.feat_price, f.o_orderdate AS o_orderdate_asof
        FROM events e ASOF LEFT JOIN feat f
          ON e.user_id = f.user_id AND e.ts {op} f.o_orderdate
        """
    ).df()


@_WINDOW
@pytest.mark.parametrize("strict", [True, False])
def test_asof_matches_duckdb(spark, duck, sf_dir, plan, strict):
    probe = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "ts", "event_id")
    res = asof_join(
        probe, _feat(spark, sf_dir), on=["user_id"], left_ts="ts",
        right_ts="o_orderdate", strict=strict,
    )
    assert_frames_match(res.toPandas(), _oracle(duck, strict))


@_WINDOW
def test_asof_salted_matches_unsalted(spark, sf_dir, plan):
    probe = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "ts", "event_id")
    feat = _feat(spark, sf_dir)
    plain = asof_join(probe, feat, ["user_id"], "ts", "o_orderdate")
    # threshold low enough that many keys are "hot" => salting path exercised
    salted = asof_join(
        probe, feat, ["user_id"], "ts", "o_orderdate",
        salt_threshold=2, num_salts=4,
    )
    assert_frames_match(salted.toPandas(), plain.toPandas())


def test_leakage_gate(spark, sf_dir):
    probe = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "ts", "event_id")
    res = asof_join(probe, _feat(spark, sf_dir), ["user_id"], "ts", "o_orderdate", strict=True)
    assert_no_leakage(res, "ts", "o_orderdate_asof", strict=True)
    # matched rows exist at all (the gate isn't vacuous)
    assert res.filter(F.col("o_orderdate_asof").isNotNull()).count() > 0


@pytest.mark.parametrize("strict", [True, False])
def test_leakage_guard_equal_timestamp(spark, strict):
    """A feature AT the label timestamp leaks under strict and is admitted
    under non-strict; a feature after it leaks under both; no match never
    leaks. The guard (in-plan raise) and assert_no_leakage (count) agree."""
    from pyspark.errors import SparkRuntimeException

    rows = [
        ("a", "2024-01-02 00:00:00", "2024-01-01 00:00:00"),
        ("b", "2024-01-02 00:00:00", None),
        ("c", "2024-01-02 00:00:00", "2024-01-02 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "entity_id string, label_ts string, ts_asof string").select(
        "entity_id", F.col("label_ts").cast("timestamp"), F.col("ts_asof").cast("timestamp")
    )
    guarded = leakage_guard(df, "label_ts", "ts_asof", strict=strict)
    if strict:
        with pytest.raises(SparkRuntimeException, match="temporal leakage.*entity_id=c") as info:
            guarded.collect()
        assert info.value.getCondition() == "USER_RAISED_EXCEPTION"
        with pytest.raises(AssertionError, match="temporal leakage: ts_asof >= label_ts: 1 rows"):
            assert_no_leakage(df, "label_ts", "ts_asof", strict=True)
    else:
        assert sorted(r["entity_id"] for r in guarded.collect()) == ["a", "b", "c"]
        assert_no_leakage(df, "label_ts", "ts_asof", strict=False)
    later = df.withColumn("ts_asof", F.col("ts_asof") + F.expr("INTERVAL 1 SECOND"))
    with pytest.raises(SparkRuntimeException, match="entity_id=c"):
        leakage_guard(later, "label_ts", "ts_asof", strict=strict).collect()


# ---------------------------------------------------------------------------
# Property-based: random tiny tables vs a local pd.merge_asof reference
# ---------------------------------------------------------------------------

import pandas as pd
from hypothesis import HealthCheck, example, given, settings, strategies as st

_row = st.tuples(st.integers(0, 3), st.integers(0, 20))  # (entity, ts-seconds)


def _ref_asof(probe: pd.DataFrame, build: pd.DataFrame, strict: bool) -> pd.DataFrame:
    probe = probe.sort_values("ts", kind="mergesort").reset_index(drop=True)
    build = build.sort_values("fts", kind="mergesort").reset_index(drop=True)
    out = pd.merge_asof(
        probe, build, left_on="ts", right_on="fts", by="e",
        direction="backward", allow_exact_matches=not strict,
    )
    return out.rename(columns={"fts": "fts_asof"})


def _ref_asof_max_hash(probe, build, strict: bool) -> pd.DataFrame:
    """Reference for build sides with duplicate (e, fts) and different
    payloads: Spark computes each build row's tiebreak hash (the hash alone —
    its Python twin is pinned in test_oracle_parity), pandas keeps the
    max-hash row per (e, fts), and ``_ref_asof`` joins."""
    p = probe.toPandas().astype({"ts": "datetime64[ns]"})
    b = build.select("e", "fts", "payload", _build_tiebreak(["payload"], F.col("fts")).alias("h"))
    b = b.toPandas().astype({"e": p["e"].dtype, "fts": "datetime64[ns]", "h": "int64"})
    b = b.sort_values("h", kind="mergesort").drop_duplicates(["e", "fts"], keep="last")
    return _ref_asof(p, b.drop(columns="h"), strict)


def _rows(pdf: pd.DataFrame, cols) -> list:
    """Sorted row tuples, every missing value (None/NaN/NaT) as None."""
    return sorted(
        tuple(None if pd.isna(v) else v for v in row) for row in pdf[list(cols)].itertuples(index=False)
    )


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    probe_rows=st.lists(_row, min_size=1, max_size=25),
    build_rows=st.lists(_row, min_size=0, max_size=25),
    strict=st.booleans(),
)
def test_asof_property_vs_pandas(spark, probe_rows, build_rows, strict):
    """Duplicate probe timestamps, empty build sides, equal-ts boundaries,
    entities present on only one side — all must match pd.merge_asof. Build
    keys deduped: multiple build rows at one (entity, ts) are ambiguous by
    construction (any engine may pick either payload)."""
    base = pd.Timestamp("2024-01-01")
    probe = pd.DataFrame(
        {"e": [r[0] for r in probe_rows],
         "ts": [base + pd.Timedelta(seconds=r[1]) for r in probe_rows]}
    )
    probe["pid"] = range(len(probe))
    build = pd.DataFrame(
        {"e": pd.array([r[0] for r in build_rows], dtype="int64"),
         "fts": pd.to_datetime([base + pd.Timedelta(seconds=r[1]) for r in build_rows])}
    ).drop_duplicates(["e", "fts"])
    build["val"] = (build["e"] * 1000 + build["fts"].astype("int64") % 997).astype("int64")

    sp = spark.createDataFrame(probe, "e long, ts timestamp, pid long")
    sb = (
        spark.createDataFrame(build, "e long, fts timestamp, val long")
        if len(build)
        else spark.createDataFrame([], "e long, fts timestamp, val long")
    )
    got = (
        asof_join(sp, sb, on=["e"], left_ts="ts", right_ts="fts", strict=strict)
        .toPandas()
        .sort_values("pid", kind="mergesort")
        .reset_index(drop=True)
    )
    ref = _ref_asof(probe, build, strict).sort_values("pid", kind="mergesort").reset_index(drop=True)
    assert got["pid"].tolist() == ref["pid"].tolist()
    assert got["val"].astype("float64").equals(ref["val"].astype("float64"))
    got_ts = pd.to_datetime(got["fts_asof"])
    ref_ts = pd.to_datetime(ref["fts_asof"])
    assert got_ts.isna().equals(ref_ts.isna()) and (got_ts.dropna() == ref_ts.dropna()).all()


@_WINDOW
def test_asof_duplicate_build_ts_deterministic(spark, plan):
    """Build rows sharing (key, ts) with DIFFERENT payloads: the chosen row
    must be deterministic (max payload-hash) across partitionings and
    salting, and equal to the pandas max-hash reference."""
    probe = spark.createDataFrame(
        [("k1", 100), ("k1", 50), ("k2", 100)], "e string, ts long"
    ).select("e", F.timestamp_seconds("ts").alias("ts"))
    build = spark.createDataFrame(
        [("k1", 10, "a"), ("k1", 10, "b"), ("k1", 10, "c"), ("k2", 10, "x"), ("k2", 10, "y")],
        "e string, fts long, payload string",
    ).select("e", F.timestamp_seconds("fts").alias("fts"), "payload")
    cols = ("e", "ts", "payload")

    def run(b, salt=None):
        res = asof_join(
            probe, b, on=["e"], left_ts="ts", right_ts="fts",
            strict=True, salt_threshold=salt, num_salts=4,
        )
        return _rows(res.toPandas(), cols)

    base = run(build.repartition(1))
    assert base == run(build.repartition(7))
    assert base == run(build.orderBy(F.desc("payload")).repartition(3))
    assert base == run(build, salt=1)
    assert base == _rows(_ref_asof_max_hash(probe, build, strict=True), cols)
    # every probe matched something (ts > build ts for all)
    assert all(p is not None for _, _, p in base)


# ~50% of rows land on entity 0 — the hot-key shape salting exists for
_skewed_entity = st.sampled_from([0, 0, 0, 0, 0, 1, 2, 3, 4])


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    probes=st.lists(st.tuples(_skewed_entity, st.integers(0, 20)), min_size=1, max_size=30),
    builds=st.lists(
        st.tuples(_skewed_entity, st.integers(0, 20), st.integers(0, 4)),
        min_size=0, max_size=30,
    ),
    strict=st.booleans(),
)
# five payloads tied at the newest eligible (key, ts), in both input orders:
# a window that ignores the __tb tiebreak keeps whichever row sorts last
@example(probes=[(0, 20)], builds=[(0, 5, v) for v in range(5)], strict=True)
@example(probes=[(0, 20)], builds=[(0, 5, v) for v in reversed(range(5))], strict=True)
def test_asof_salted_matches_reference_on_adversarial_skew(spark, probes, builds, strict):
    """Round-3 gate for the payload-hash tiebreak (asof.py): on tables where
    one key holds ~half the rows AND build rows duplicate (key, ts) with
    DIFFERENT payloads, the salted and the unsalted join must both equal the
    pandas max-hash reference — salting must not change which duplicate
    wins."""
    probe = spark.createDataFrame(
        [(e, ts, i) for i, (e, ts) in enumerate(probes)], "e long, ts long, pid long"
    ).select("e", F.timestamp_seconds("ts").alias("ts"), "pid")
    build = spark.createDataFrame(
        [(e, ts, f"p{v}") for e, ts, v in builds] or [],
        "e long, fts long, payload string",
    ).select("e", F.timestamp_seconds("fts").alias("fts"), "payload")
    cols = ("pid", "payload", "fts_asof")
    ref = _rows(_ref_asof_max_hash(probe, build, strict), cols)
    for salt in (None, 1):  # 1: every key over threshold -> salted
        res = asof_join(
            probe, build, on=["e"], left_ts="ts", right_ts="fts",
            strict=strict, salt_threshold=salt, num_salts=4,
        )
        assert _rows(res.toPandas(), cols) == ref, salt
