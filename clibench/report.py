"""Every workload's end-to-end metrics and per-layer table, in one command.

    python3 clibench/report.py [--seed 1] [--seconds 8]

Runs ``run.py`` once untraced and once traced per workload, each in its
own process, and prints one table per kind with a column per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def metrics(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=run.ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    try:
        stdout, stderr = proc.communicate(timeout=600)
    except BaseException:
        # SIGTERM, not SIGKILL: run.py then stops its Spark session too
        proc.terminate()
        proc.communicate()
        raise
    if proc.returncode != 0:
        sys.stderr.write(stderr[-4000:])
        raise SystemExit(f"{workload} --trace {trace} exited "
                         f"{proc.returncode}")
    lines = stdout.strip().splitlines()
    for line in lines[:-1]:
        if line.startswith(("premise", "PROBLEM", "host:")):
            print(f"{workload}: {line}")
    result = json.loads(lines[-1])
    if not result["correct"]:
        print(f"{workload} --trace {trace}: NOT CORRECT "
              f"({result['failed']}/{result['attempted']} urls differ)")
    return result["metrics"]


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    args = p.parse_args()
    names = list(run.WORKLOADS)
    for trace, units in ((0, run.E2E_UNITS), (1, run.LAYER_UNITS)):
        cols = {w: metrics(w, args.seed, args.seconds, trace) for w in names}
        print("\n" + ("per-layer (traced run)" if trace else "end-to-end"))
        print(f"{'metric':32s} {'unit':6s}" + "".join(
            f"{w:>16s}" for w in names))
        for name, unit in units.items():
            print(f"{name:32s} {unit:6s}" + "".join(
                f"{cols[w][name]['value']:16.4f}" for w in names))


if __name__ == "__main__":
    main()
