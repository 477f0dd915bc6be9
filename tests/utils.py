"""Spark-vs-DuckDB comparison helpers, mirroring the driver's correctness gate
(row count + schema + order-insensitive value comparison) and the reference's
golden-comparison philosophy (/root/reference/tests/utils.py:107-135) in
element-wise-allclose form (the reference's sum-based all_close at
tests/utils.py:102-104 is acknowledged-weak; we use proper np.allclose)."""

from __future__ import annotations

import contextlib
import gc

import numpy as np
import pandas as pd


@contextlib.contextmanager
def py4j_commands(spark):
    """Collect the py4j commands Python sends to the JVM inside the block.
    py4j's deletes of freed Java objects run from ``__del__`` on a finalizer
    thread, so cyclic GC is off in the block and those commands are not
    collected."""
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    delete = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    sent = []
    real = client.send_command

    def counting(command, *args, **kwargs):
        if not command.startswith(delete):
            sent.append(command)
        return real(command, *args, **kwargs)

    client.send_command = counting
    gc.disable()
    try:
        yield sent
    finally:
        gc.enable()
        del client.send_command


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]")
        elif out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, rtol=1e-9, atol=1e-9):
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), f"columns {list(a.columns)} != {list(b.columns)}"
    assert len(a) == len(b), f"row count {len(a)} != {len(b)}"
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if np.issubdtype(np.asarray(av).dtype, np.floating):
            mask = pd.isna(av)
            assert (mask == pd.isna(bv)).all(), f"null mismatch in {c}"
            assert np.allclose(av[~mask].astype(float), bv[~mask].astype(float), rtol=rtol, atol=atol), f"value mismatch in {c}"
        else:
            assert (pd.Series(av).fillna("∅") == pd.Series(bv).fillna("∅")).all(), f"value mismatch in {c}"
