"""Bit-exact mirror of the driver's value-hash compare for float columns:
where check_correctness.py accepts allclose, this script requires EXACT float
equality (the driver hashes values, so 1 ulp = a red row). Run it on the
aggregate queries whose sums were decimal-hardened (r5 lesson:
checkpoint_resume flaked at the ulp level under partial-agg ordering).

Usage: python scripts/strict_hash_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from video_features_spark.session import get_spark  # noqa: E402
from video_features_spark.sources.tables import TABLES  # noqa: E402

DEFAULT_QUERIES = [
    "checkpoint_resume",
    "tumbling_daily",
    "stream_tumbling",
    "tpch_q1",
    "tpch_q3",
    "grouping_sets_sales",
    "stats_lineitem",
    "sliding_stacks",
    "bucketed_join",
    "rolling_7d",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]")
        elif out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


def main(sf_dir: str, only: list[str]) -> int:
    os.environ["VFS_ORACLE_SF_DIR"] = sf_dir
    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name in only:
        a = norm(qs[name](spark, sf_dir).toPandas())
        b = norm(con.execute(oracles[name]).df())
        assert list(a.columns) == list(b.columns), (name, a.columns, b.columns)
        assert len(a) == len(b), (name, len(a), len(b))
        bad = []
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
                av, bv = av.astype(float), bv.astype(float)
                m = ~(pd.isna(av) & pd.isna(bv))
                if not np.array_equal(av[m], bv[m]):
                    i = int(np.argmax(av[m] != bv[m]))
                    bad.append((c, av[m][i], bv[m][i]))
            else:
                if not (pd.Series(av).fillna("∅").astype(str) == pd.Series(bv).fillna("∅").astype(str)).all():
                    bad.append((c, "non-float mismatch", ""))
        if bad:
            print(f"STRICT-FAIL {name}: {bad}")
            failures += 1
        else:
            print(f"exact       {name}: {len(a)} rows")
    spark.stop()
    return failures


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
            sys.argv[2:] or DEFAULT_QUERIES,
        )
    )
