"""Round-7 optimization side benchmarks (guide §1.4: noop-sink isolation).

NOT part of the driver contract — bench.py stays the frozen measurement.
This file exists so per-query and per-stage timings can be taken repeatedly
during the optimization round without touching the frozen harness.

Usage:
    python bench_extra.py queries [name ...]   # time declared queries (noop sink)
    python bench_extra.py stages               # sub-stage isolation of hot chains
    python bench_extra.py explain [name ...]   # dump .explain("formatted") to plans/r07/
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(var, "1")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("BX_REPS", "2"))


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def get_session():
    from video_features_spark.session import get_spark

    spark = get_spark(app_name="bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm(spark):
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    _warm = F.pandas_udf(lambda s: s, "long")
    materialize(spark.range(50_000, numPartitions=64).select(_warm("id")))
    materialize(entrymod.queries()["asof_window"](spark, SF_DIR))


def time_queries(names):
    import __spark_entry__ as entrymod

    spark = get_session()
    warm(spark)
    qs = entrymod.queries()
    names = names or list(qs)
    out = {}
    for name in names:
        times = []
        for _ in range(REPS):
            spark.sparkContext.setJobDescription(f"q:{name}")
            t0 = time.time()
            materialize(qs[name](spark, SF_DIR))
            times.append(round(time.time() - t0, 3))
        out[name] = times
        print(f"{name}: {times} -> min {min(times)}", flush=True)
    print("BX_RESULT:" + __import__("json").dumps({k: min(v) for k, v in out.items()}))
    spark.stop()


def dump_explain(names):
    import __spark_entry__ as entrymod

    tag = os.environ.get("BX_TAG", "before")
    spark = get_session()
    qs = entrymod.queries()
    out_dir = os.path.join(REPO, "plans", "r07")
    os.makedirs(out_dir, exist_ok=True)
    for name in names or list(qs):
        try:
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"explain failed: {e}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote plans/r07/{name}_{tag}.txt", flush=True)
    spark.stop()


def time_stages():
    """Sub-stage isolation of the dedup/curation hot chains."""
    from pyspark.sql import functions as F

    from video_features_spark.operators.dedup import (
        dedup_groups,
        lsh_candidate_pairs,
        minhash_dedup,
        minhash_signatures,
        shingle_sets,
        _resolve_candidate_pairs,
    )

    spark = get_session()
    warm(spark)
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))

    def t(label, fn):
        times = []
        for _ in range(REPS):
            spark.sparkContext.setJobDescription(f"stage:{label}")
            t0 = time.time()
            fn()
            times.append(round(time.time() - t0, 3))
        print(f"  {label}: {times}", flush=True)

    t("read_docs", lambda: materialize(docs))
    t("shingle_sets", lambda: materialize(shingle_sets(docs, "doc_id", "text", 5)))
    t("sigs64", lambda: materialize(minhash_signatures(docs, "doc_id", "text", 64, 5)))
    t("sigs32", lambda: materialize(minhash_signatures(docs, "doc_id", "text", 32, 5)))
    t(
        "cands64x16",
        lambda: materialize(
            lsh_candidate_pairs(minhash_signatures(docs, "doc_id", "text", 64, 5), "doc_id", 16)
        ),
    )
    def probe64():
        c = lsh_candidate_pairs(minhash_signatures(docs, "doc_id", "text", 64, 5), "doc_id", 16)
        loc, bc = _resolve_candidate_pairs(c, 500_000)
        print("    cands:", loc.count() if bc else "over-cap", flush=True)
    t("probe64", probe64)
    t(
        "minhash_dedup64",
        lambda: materialize(
            minhash_dedup(docs, "doc_id", "text", n_hashes=64, bands=16, shingle_n=5, threshold=0.5)
        ),
    )
    def full_groups():
        pairs = minhash_dedup(docs, "doc_id", "text", n_hashes=64, bands=16, shingle_n=5, threshold=0.5)
        materialize(dedup_groups(pairs).select("id", "component", "is_kept"))
    t("dedup_groups_full", full_groups)
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    rest = sys.argv[2:]
    if mode == "queries":
        time_queries(rest)
    elif mode == "stages":
        time_stages()
    elif mode == "explain":
        dump_explain(rest)
    else:
        raise SystemExit(f"unknown mode {mode}")
