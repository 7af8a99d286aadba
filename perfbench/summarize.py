"""Run the benchmark on several seeds and summarize each metric.

    python3 perfbench/summarize.py --workload batch --seeds 1-10 --seconds 12 [--trace 1]

Runs ``perfbench/run.py`` once per seed, one after another, from the root
of the checkout, and prints one JSON object: for every metric the median
and the quartiles (``statistics.quantiles(values, n=4)``) over the runs,
the spread (interquartile range over median) and the number of runs, plus
each run's wall time. A run that fails or reports ``correct: false`` is
listed under ``bad_runs`` and left out of the statistics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def summarize(runs: list[dict]) -> dict:
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for r in runs:
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    out = {}
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        med = statistics.median(vs)
        out[name] = {"unit": units[name], "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0, "n": len(vs)}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    runs, bad, walls = [], [], []
    for seed in _seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(round(time.perf_counter() - t, 1))
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        if result is None or not result["correct"]:
            bad.append({"seed": seed, "returncode": proc.returncode, "result": result})
        else:
            runs.append(result)
    print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                      "seconds": args.seconds, "trace": args.trace,
                      "metrics": summarize(runs), "wall_s": walls, "bad_runs": bad}))
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())
