"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload flagship --seeds 1-10

Runs the benchmark once per seed, one run after the other, and prints each
metric's median and the distance between its first and third quartile as a
share of the median, next to the bound BENCHMARK.json gives it. A spread
above the bound means the metric cannot tell a regression of that size
from run-to-run noise on the machine that ran it.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from common import BENCH_DIR, load_benchmark
from stats import iqr_share, median


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    args = ap.parse_args(argv)
    bench = load_benchmark()
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}, no result")
            continue
        result = json.loads(lines[-1])
        print(f"seed {seed}: {time.monotonic() - t:.1f} s, correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        vals = values.get(m["name"], [])
        if len(vals) < 2:
            continue
        med = median(vals)
        spread = iqr_share(vals) if med else float("nan")
        print(f"{m['name']:<14} median {med:>10.4g} {m['unit']:<7} spread {spread:.3f} "
              f"(bound {m['bound']}, n={len(vals)})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
