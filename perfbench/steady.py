#!/usr/bin/env python3
"""Steadiness check for the benchmark.

    python3 perfbench/steady.py --seeds 10 --sets 2 [--workloads dedupe-mixed ...]

Runs the benchmark command of BENCHMARK.json once per seed on each
workload, ``--sets`` times over the same seeds, from the repository
root. For every end-to-end metric it reports, per set, the median and
the spread (distance between the first and third quartile of the
per-seed values, as ``statistics.quantiles(values, n=4)`` gives them,
as a share of the median); with two sets it also reports whether the
second set's median is within the metric's bound of the first's. Every
spread but ``setup_s``'s is held to its metric's bound, and every
second-set median, ``setup_s``'s too, to its bound of the first: a run
sets up once, so ``setup_s`` is checked on its median alone, as the
benchmark format checks it. Prints one JSON object as its last line;
seeds start at 1.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of it."""
    delta = second - first if better == "lower" else first - second
    return delta / first


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=[1, 2], default=2)
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    seeds = range(1, 1 + args.seeds)
    report: dict = {}
    ok = True
    for wl in workloads:
        sets = []
        for s in range(args.sets):
            values: dict[str, list[float]] = {m: [] for m in metrics}
            for seed in seeds:
                cmd = bench["command"] + [
                    "--workload", wl, "--seed", str(seed),
                    "--seconds", str(bench["run_seconds"]), "--trace", "0",
                ]
                t0 = time.time()
                proc = subprocess.run(cmd, capture_output=True, text=True)
                wall = time.time() - t0
                if proc.returncode != 0:
                    print(proc.stderr[-3000:], file=sys.stderr)
                    return 1
                result = json.loads(proc.stdout.strip().splitlines()[-1])
                ok &= result["correct"] and result["failed"] == 0
                for m in metrics:
                    values[m].append(result["metrics"][m]["value"])
                print(f"{wl} set {s + 1} seed {seed}: {wall:.1f} s "
                      + " ".join(f"{m}={v[-1]:.4g}" for m, v in values.items()),
                      file=sys.stderr, flush=True)
            sets.append(values)
        rep = {}
        for m, spec in metrics.items():
            row = {
                "medians": [statistics.median(v[m]) for v in sets],
                "spreads": [spread(v[m]) for v in sets],
                "bound": spec["bound"],
            }
            if m != "setup_s":
                ok &= all(sp <= spec["bound"] for sp in row["spreads"])
            if len(sets) == 2:
                row["worse_by"] = worse_by(*row["medians"], spec["better"])
                row["agree"] = row["worse_by"] <= spec["bound"]
                ok &= row["agree"]
            rep[m] = row
        report[wl] = rep
    print(json.dumps({"steady": ok, "seeds": list(seeds), "workloads": report}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
