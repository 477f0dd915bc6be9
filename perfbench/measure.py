"""The measured process of one benchmark run (started by ``run.py``, which
owns its session and its inputs).

Closed loop, one client: set up a fresh ``local[nproc]`` SparkSession, run
one cold iteration, then warm iterations back to back for ``--seconds``.
The bounded time metrics count the CPU time of the process tree, not wall
time, which on a shared host follows the other tenants (see WORKLOADS.md).
With ``--trace 1`` the warm phase is a warm-up, an untraced and a traced
iteration instead: the traced iteration's spans and the per-layer probes
after it give the per-layer metrics, and the tracing overhead is the
difference between the traced and the untraced iteration's times.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback

from common import WORK_DIR, log, metric_units
from stats import by_name, median, self_times, summarize
from tracing import Tracer, job_counts, last_execution_id, sql_node_metric

ITER_TIMEOUT_S = 60.0
MIN_WARM = 1

END_TO_END = metric_units("end_to_end")
PER_LAYER = metric_units("per_layer")


def _tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def _tree_pss_bytes(root: int) -> int:
    """Proportional resident bytes (PSS: a page shared by n processes counts
    1/n in each) of ``root`` and all its descendants. PSS rather than RSS
    because Spark's Python workers are forks of one daemon and share most of
    their pages."""
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads, as /proc shows their names (15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(name, fields after the name) of a /proc ``stat`` file."""
    with open(path) as f:
        s = f.read()
    return s[s.index("(") + 1:s.rindex(")")], s.rsplit(")", 1)[1].split()


def tree_cpu_s() -> tuple[float, float]:
    """(all, JIT) CPU seconds (user + system) spent so far by this process
    and all its descendants: the driver Python, the JVM and Spark's Python
    workers, with the workers that already exited counted in their reaping
    parent. JIT is the part spent by the JVM's JIT compiler threads, which
    the JVM keeps alive (see ``common.start_spark``), so none of their time
    is lost with an exited thread."""
    total = jit = 0
    for pid in _tree_pids(os.getpid()):
        try:
            name, fields = _stat_fields(f"/proc/{pid}/stat")
            total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
            if name != "java":
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
                if name.startswith(_JIT_THREADS):
                    jit += int(fields[11]) + int(fields[12])
        except (OSError, ValueError):
            continue
    return total * _TICK_S, jit * _TICK_S


class MemorySampler(threading.Thread):
    """Peak memory of this process tree (driver Python, the JVM, Spark's
    Python workers), sampled every ``interval`` seconds. ``cpu_s`` is the
    CPU time the sampling itself has spent, which grows with wall time, so
    the iterations' CPU figures leave it out."""

    def __init__(self, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.cpu_s = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self.cpu_s = time.thread_time()
            if self._stop_evt.wait(self.interval):
                return

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
        return self.peak


def program_cpu_s(sampler: MemorySampler) -> tuple[float, float]:
    """(program, JIT) CPU seconds of the process tree so far. The program's
    part leaves out the JIT compiler threads, whose time varies about 2x
    between runs of the same iterations, and the memory sampler."""
    total, jit = tree_cpu_s()
    return total - jit - sampler.cpu_s, jit


class Loop:
    def __init__(self, spark, wl, tracer, sampler) -> None:
        self.spark, self.wl, self.tracer, self.sampler = spark, wl, tracer, sampler
        self.sc = spark.sparkContext
        self.records: list[dict] = []

    def iteration(self, traced: bool = False, partner: bool = False) -> dict:
        i = len(self.records)
        rec = {"i": i, "traced": traced, "partner": partner, "ok": False, "rows": 0,
               "wall_s": 0.0, "cpu_s": 0.0, "jit_cpu_s": 0.0, "errors": []}
        self.records.append(rec)
        group = f"perfbench-{i}"
        try:
            self.sc.setJobGroup(group, f"perfbench iteration {i}")
            first_exec = last_execution_id(self.spark)
            timer = threading.Timer(ITER_TIMEOUT_S, self.sc.cancelJobGroup, [group])
            timer.start()
            try:
                t, (c, jit) = time.perf_counter(), program_cpu_s(self.sampler)
                if traced:
                    self.tracer.iteration = i
                    with self.tracer.patched(self.wl.targets), self.tracer.span("iteration") as top:
                        rec["rows"] = self.wl.iterate(i)
                else:
                    rec["rows"] = self.wl.iterate(i)
                rec["wall_s"] = time.perf_counter() - t
                c1, jit1 = program_cpu_s(self.sampler)
                rec["cpu_s"], rec["jit_cpu_s"] = c1 - c, jit1 - jit
            finally:
                timer.cancel()
                self.sc.setJobGroup("perfbench-untimed", "checks and probes")
            rec["errors"] = self.wl.check(i)
            if traced and not rec["errors"]:
                rec["layers"] = self._layers(i, top, group, first_exec)
        except Exception as e:  # noqa: BLE001 - a failed iteration is counted, not fatal
            rec["errors"].append(f"{type(e).__name__}: {e}")
            log(traceback.format_exc())
        finally:
            self.wl.cleanup(i)
        rec["ok"] = not rec["errors"]
        log(f"iteration {i}{' traced' if traced else ''}: {rec['wall_s']:.3f} s, "
            f"{rec['cpu_s']:.2f} cpu-s (+{rec['jit_cpu_s']:.2f} JIT), "
            f"{rec['rows']} rows, {'ok' if rec['ok'] else 'FAILED ' + '; '.join(rec['errors'])}")
        return rec

    def _layers(self, i: int, top, group: str, first_exec: int) -> dict:
        counts = job_counts(self.sc, group)
        rows_in = sql_node_metric(self.spark, first_exec, "MapInArrow", "number of output rows")
        top.counts.update(counts, **{"features.rows_in": rows_in})
        spans = [s for s in self.tracer.spans if s.iteration == i]
        layers = self.wl.probes(self.tracer, {"spans": by_name(spans), "rows_in": rows_in})
        layers.update(counts)
        layers["features.rows_in"] = rows_in
        layers["iteration.traced_s"] = top.duration
        return layers


def _report(name, seed, marker, records, e2e, summary, layers, tracer) -> None:
    from workloads import WORKLOADS

    n_fail = sum(not r["ok"] for r in records)
    warm = [r["wall_s"] for r in records[1:] if r["ok"] and not r["traced"]]
    print(f"perfbench {name} seed={seed}: {len(records)} iterations "
          f"(1 cold, closed loop, one client), {n_fail} failed; "
          f"one row = one {WORKLOADS[name].row}")
    print(f"  inputs generated once in {marker['generation_s']:.2f} s (not part of setup_s)")
    if warm:
        print(f"  warm iteration wall: median {median(warm):.3f} s, "
              f"max {max(warm):.3f} s over {len(warm)} iterations")
    for k, v in e2e.items():
        print(f"  {k:<14} {v:>12.4f} {END_TO_END[k]}{' (CPU time)' if k == 'setup_s' else ''}")
    print(f"  {'failed_ratio':<14} {summary['failed_ratio']:>12.4f} ratio  (= 1 - ok_ratio)")
    print(f"  wall clock, not a bounded metric (it follows the load of the host): set-up "
          f"{summary['setup_wall_s']:.3f} s, cold iteration {summary['cold_s']:.3f} s, "
          f"warm {summary['rows_per_s']:.2f} rows/s")
    if layers:
        print(f"  per-layer (one traced iteration and its probes; tracing overhead "
              f"{layers['trace.overhead_s']:+.3f} s on an untraced iteration of "
              f"{layers['iteration.untraced_s']:.3f} s)")
        wall = layers["iteration.traced_s"]
        selfs = by_name(tracer.spans, self_times(tracer.spans))
        durs = by_name(tracer.spans)
        print(f"    {'span':<30} {'duration_s':>10} {'self_s':>10} {'iteration_s':>12}")
        for span in durs:
            print(f"    {span:<30} {durs[span]:>10.3f} {selfs[span]:>10.3f} {wall:>12.3f}")
        for k, unit in PER_LAYER.items():
            print(f"    {k:<30} {layers[k]:>12.4f} {unit}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--t0", type=float, required=True, help="wall clock at process spawn")
    args = ap.parse_args(argv)

    sampler = MemorySampler()
    sampler.start()
    from common import start_spark
    from inputs import load_marker
    from workloads import WORKLOADS

    t = time.time()
    spark = start_spark(args.run_dir)
    session_start_s = time.time() - t
    marker = load_marker(args.inputs)
    wl = WORKLOADS[args.workload](spark, args.inputs, marker, args.run_dir, args.seed)
    wl.locate()
    setup_wall_s = time.time() - args.t0
    setup_s = program_cpu_s(sampler)[0]

    tracer = Tracer()
    loop = Loop(spark, wl, tracer, sampler)
    loop.iteration()  # cold
    if args.trace:
        # a warm-up, then an untraced and a traced neighbour, so the
        # overhead compares iterations equally far into the JIT warm-up
        loop.iteration()
        loop.iteration(partner=True)
        loop.iteration(traced=True)
    else:
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds or len(loop.records) <= MIN_WARM:
            loop.iteration()
    layers = {}
    peak = sampler.stop()
    spark.stop()

    records = loop.records
    summary = summarize(records)
    e2e = {
        "setup_s": setup_s,
        "cold_cpu_s": summary["cold_cpu_s"],
        "rows_per_cpu_s": summary["rows_per_cpu_s"],
        "peak_rss_mib": peak / 2**20,
        "ok_ratio": summary["ok_ratio"],
    }
    if args.trace:
        traced = next((r["layers"] for r in records if r["traced"] and r["ok"]), {})
        layers = {k: traced.get(k, 0.0) for k in PER_LAYER}
        layers["session.start_s"] = session_start_s
        layers["setup.wall_s"] = setup_wall_s
        layers["iteration.cold_s"] = summary["cold_s"]
        layers["jvm.jit_cold_cpu_s"] = records[0]["jit_cpu_s"]
        layers["jvm.jit_warm_cpu_s"] = next(
            (r["jit_cpu_s"] for r in records if r["partner"] and r["ok"]), 0.0)
        layers["iteration.untraced_s"] = next(
            (r["wall_s"] for r in records if r["partner"] and r["ok"]), 0.0)
        layers["trace.overhead_s"] = layers["iteration.traced_s"] - layers["iteration.untraced_s"]
        os.makedirs(os.path.join(WORK_DIR, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK_DIR, "traces",
                                 f"{args.workload}-s{args.seed}-{os.getpid()}.json"))
    summary["setup_wall_s"] = setup_wall_s
    _report(args.workload, args.seed, marker, records, e2e, summary, layers, tracer)

    n_fail = sum(not r["ok"] for r in records)
    chosen = layers if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": n_fail == 0,
        "attempted": len(records),
        "failed": n_fail,
        "metrics": {k: {"value": float(chosen[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
