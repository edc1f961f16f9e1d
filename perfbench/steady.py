#!/usr/bin/env python3
"""Run one workload on several seeds and print each end-to-end metric's
median and spread (interquartile distance as a share of the median):

    python3 perfbench/steady.py --workload cdc_bulk_catchup --seeds 1-10

A metric is steady enough when its spread stays well inside its bound in
BENCHMARK.json.
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
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="first-last")
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    first, last = (int(x) for x in args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(first, last + 1):
        t = time.time()
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(lines[-1])
        host = next((ln for ln in lines if ln.startswith("# host")), "")
        print(f"seed {seed}: {time.time() - t:.1f} s correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
              + f" {host[2:]}", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, xs in values.items():
        print(f"{k:30s} median={statistics.median(xs):<10.4g} spread={metrics.spread(xs):.4f}"
              f" bound={bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
