"""Benchmark entry point.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Workloads are those of BENCHMARK.json (see WORKLOADS.md). Prints a
readable report, then as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.

This process only supervises. It makes sure the seeded inputs exist (a
generation child, cached), then starts the measured process (``measure.py``)
in a session of its own, and on exit kills every process of that session and
waits until they are gone, so no JVM or Python worker outlives the run.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

from common import BENCH_DIR, REPO_ROOT, WORK_DIR, bench_env, load_benchmark, log
from inputs import input_dir, load_marker

RUN_LIMIT_S = 170.0  # the whole run, generation included


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. Spark's Python daemon moves itself
    into a process group of its own, but it stays in the session."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _kill_session(sid: int) -> None:
    """SIGTERM every process of the session, then SIGKILL what is left, and
    return once none is alive."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        for pid in _session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not _session_pids(sid):
                return
            time.sleep(0.05)


def _child(cmd: list[str], env: dict, timeout: float, stdout=None) -> int:
    """Run ``cmd`` in a session of its own; kill the session when it ends."""
    proc = subprocess.Popen(cmd, env=env, cwd=REPO_ROOT, stdout=stdout, start_new_session=True)
    try:
        return proc.wait(timeout=max(timeout, 1.0))
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout:.0f} s: {' '.join(cmd)}")
        return 124
    finally:
        _kill_session(proc.pid)
        proc.wait()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in load_benchmark()["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO_ROOT, "video_features_spark", "__init__.py")):
        log(f"no video_features_spark package next to {BENCH_DIR}; nothing to measure")
        return 2

    start = time.monotonic()
    run_dir = os.path.join(WORK_DIR, "runs", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    env = bench_env(run_dir)
    py = sys.executable
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if load_marker(input_dir(args.workload, args.seed)) is None:
            rc = _child([py, os.path.join(BENCH_DIR, "inputs.py"), "--workload", args.workload,
                         "--seed", str(args.seed)], env, RUN_LIMIT_S, stdout=sys.stderr)
            if rc:
                log(f"input generation failed (exit {rc})")
                return rc
        remaining = RUN_LIMIT_S - (time.monotonic() - start)
        return _child(
            [py, os.path.join(BENCH_DIR, "measure.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--inputs", input_dir(args.workload, args.seed),
             "--run-dir", run_dir, "--t0", repr(time.time())],
            env, remaining,
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
