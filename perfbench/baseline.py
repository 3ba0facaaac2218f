#!/usr/bin/env python3
"""Record the benchmark's baseline on this machine.

    python3 perfbench/baseline.py --seeds 10

Runs ``BENCHMARK.json``'s command untraced on every workload, once per
seed, as two sets one after the other (set 1 on all workloads, then
set 2), then once traced on seed 1 per workload. Writes a fresh
``perfbench/baseline.json``: the machine (cores, RAM, Spark version),
and per workload and set the median, quartiles and spread (quartile
distance over median) of every end-to-end metric, how much worse the
second set's median is than the first's (``worse_by``, a share of the
first median, next to the metric's bound), the traced per-layer table,
and the output digests of seed 1.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
SETS = 2


def _run(cmd: list[str], workload: str, seed: int, seconds: int,
         trace: int) -> tuple[dict, dict]:
    """(result object, summary line) of one benchmark run."""
    out = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, check=True, capture_output=True, text=True).stdout
    lines = out.strip().splitlines()
    summary = next(json.loads(ln.split(" ", 1)[1]) for ln in lines
                   if ln.startswith("perfbench: "))
    return json.loads(lines[-1]), summary


def _machine() -> dict:
    import pyspark
    with open("/proc/meminfo") as f:
        kib = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return {"nproc": os.cpu_count(), "ram_gib": round(kib / 2**20, 1),
            "spark": pyspark.__version__,
            "python": sys.version.split()[0]}


def _stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            "values": values}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=int, default=10)
    args = p.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    seeds = list(range(1, args.seeds + 1))
    # values[wl][set][metric] and the run counts over both sets
    values = {wl: [{} for _ in range(SETS)] for wl in names}
    counts = {wl: {"attempted": 0, "failed": 0} for wl in names}
    digests = {}
    for s in range(SETS):
        for wl in names:
            for seed in seeds:
                res, summary = _run(spec["command"], wl, seed,
                                    spec["run_seconds"], 0)
                counts[wl]["attempted"] += res["attempted"]
                counts[wl]["failed"] += res["failed"]
                if seed == 1 and s == 0:
                    digests[wl] = summary["digests"]
                for m in spec["end_to_end"]:
                    values[wl][s].setdefault(m["name"], []).append(
                        res["metrics"][m["name"]]["value"])
                print(f"set {s + 1} {wl} seed {seed}: " + json.dumps(
                    {k: round(v[-1], 4) for k, v in values[wl][s].items()}),
                    file=sys.stderr)
    record = {"machine": _machine(), "seeds": seeds, "sets": SETS,
              "run_seconds": spec["run_seconds"], "workloads": {}}
    for wl in names:
        end_to_end = {}
        for m in spec["end_to_end"]:
            sets = [_stats(values[wl][s][m["name"]]) for s in range(SETS)]
            first, last = sets[0]["median"], sets[-1]["median"]
            worse = last - first if m["better"] == "lower" else first - last
            end_to_end[m["name"]] = {
                "unit": m["unit"], "bound": m["bound"], "sets": sets,
                "worse_by": worse / first}
        traced, _ = _run(spec["command"], wl, 1, spec["run_seconds"], 1)
        n = counts[wl]
        record["workloads"][wl] = {
            **n, "failed_frac": n["failed"] / n["attempted"],
            "end_to_end": end_to_end,
            "per_layer": {k: v["value"]
                          for k, v in traced["metrics"].items()},
            "digests_seed1": digests[wl]}
    (BENCH_DIR / "baseline.json").write_text(json.dumps(record, indent=1)
                                             + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
