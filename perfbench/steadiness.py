"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steadiness.py --workloads ingest_search curate --seeds 1-10

Runs the benchmark command once per (workload, seed), in order, from the
checkout root, and prints per metric the median and the spread: the
distance between the first and third quartile of the runs' values
(``statistics.quantiles(values, n=4)``) as a share of their median.
Each run's result line is appended to ``.perfbench_out/steadiness.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def main() -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, os.pardir, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    os.makedirs(".perfbench_out", exist_ok=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    status = 0
    for wl in args.workloads:
        values: dict[str, list[float]] = {}
        for seed in _seeds(args.seeds):
            cmd = bench["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            t = time.monotonic()
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.monotonic() - t
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}", flush=True)
                status = 1
                continue
            res = json.loads(lines[-1])
            with open(".perfbench_out/steadiness.jsonl", "a", encoding="utf-8") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, "wall_s": wall, **res}) + "\n")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: {wall:.1f}s correct={res['correct']} failed={res['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            b = bounds.get(k)
            note = "" if b is None else f" bound={b} ({spread / b:.2f} of bound)"
            print(f"{wl} {k}: n={len(vs)} median={statistics.median(vs):.4g} spread={spread:.4f}{note}")
    return status


if __name__ == "__main__":
    sys.exit(main())
