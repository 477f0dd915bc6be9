"""Local mirror of the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB, compare row count + sorted-column values
(floats via allclose). Usage: python scripts/check_correctness.py [sf_dir]
[query_name ...] — extra args restrict the sweep to those queries (iteration
aid; the gate run passes none)."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from video_features_spark.session import get_spark  # noqa: E402
from video_features_spark.sources.tables import TABLES  # noqa: E402


def norm(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]")
        elif out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif pd.api.types.is_bool_dtype(out[c]):
            out[c] = out[c].astype(bool)
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    a, b = norm(a), norm(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            am, bm = pd.isna(av), pd.isna(bv)
            if not (am == bm).all():
                return f"null mismatch {c}"
            if not np.allclose(av[~am].astype(float), bv[~bm].astype(float), rtol=1e-6, atol=1e-9):
                return f"values {c}"
        else:
            if not (pd.Series(av).fillna("∅").astype(str) == pd.Series(bv).fillna("∅").astype(str)).all():
                return f"values {c}"
    return None


def main(sf_dir: str, only: list[str] | None = None) -> int:
    # data-dependent oracles (IVF centroid literals) must be generated from
    # the same tables this mirror compares against, not the driver's sf0.01
    os.environ["VFS_ORACLE_SF_DIR"] = sf_dir
    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if only:
        unknown = set(only) - set(qs)
        if unknown:
            print(f"unknown query names: {sorted(unknown)}")
            return 1
        qs = {k: v for k, v in qs.items() if k in only}
    failures = 0
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        odf = con.execute(oracles[name]).df()
        err = compare(sdf, odf)
        if err:
            print(f"FAIL  {name}: {err} [{time.time()-t0:.1f}s]")
            failures += 1
        else:
            print(f"ok    {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")

    if not only:
        t0 = time.time()
        edf = entrymod.entry(spark)
        print(f"entry: {edf.count()} rows [{time.time()-t0:.1f}s]")
    spark.stop()
    return failures


if __name__ == "__main__":
    sys.exit(main(
        sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001",
        sys.argv[2:] or None,
    ))
