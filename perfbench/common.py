"""Paths, environment and SparkSession start shared by the benchmark's
processes. Everything is resolved from this file's location, so the
benchmark runs from any checkout."""

from __future__ import annotations

import json
import os
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
# generated inputs, per-run scratch and trace files; never committed
WORK_DIR = os.path.join(REPO_ROOT, ".bench_work")

if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def load_benchmark() -> dict:
    """``BENCHMARK.json``: the one list of workloads and metrics (names,
    units, bounds) every part of the benchmark reads."""
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_units(kind: str) -> dict[str, str]:
    """name → unit of the ``end_to_end`` or ``per_layer`` metrics, in order."""
    return {m["name"]: m["unit"] for m in load_benchmark()[kind]}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def bench_env(run_dir: str) -> dict[str, str]:
    """Environment of every process the benchmark starts: BLAS pinned to one
    thread (Spark already pins its Python workers; the driver-side oracle and
    kernel timings must match them), a 1 GiB driver heap through the
    library's own ``SPARK_DRIVER_MEM`` knob (see WORKLOADS.md for why), and
    every temporary file kept inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        env[var] = "1"
    env.update(
        SPARK_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        PYTHONUNBUFFERED="1",
    )
    return env


def start_spark(run_dir: str):
    """A fresh ``local[nproc]`` session from the library's own factory. The
    JVM keeps its JIT compiler threads alive instead of retiring idle ones,
    so ``measure.tree_cpu_s`` can tell their CPU time from the program's; it
    compiles the same code either way."""
    from video_features_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        cores=nproc(),
        extra_conf={
            "spark.sql.session.timeZone": "UTC",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
                                             "-XX:-UseDynamicNumberOfCompilerThreads",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
