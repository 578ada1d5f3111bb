#!/usr/bin/env python3
"""Steadiness check: run one workload several times, each in a fresh
process with its own seed, and print each metric's median, quartiles
and quartile spread as a share of the median, with each run's host
steal share (the CPU time the hypervisor took from this VM).

    python3 perfbench/steady.py --workload <name> [--runs 10] [--seed0 1]
                                [--seconds S]

``--seconds`` defaults to BENCHMARK.json's run_seconds. The spread of
every end-to-end metric but setup_s should stay below a third of its
bound (BENCHMARK.json); the command marks those that do not.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    shares = set()
    for i in range(args.runs):
        seed = args.seed0 + i
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        wall = time.perf_counter() - t
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(os.path.join(ROOT, ".perfbench_out",
                               f"result-{args.workload}-seed{seed}-trace0.json")) as f:
            steal = json.load(f)["detail"]["host_steal_share"]
        shares.add((res["failed"], res["attempted"]) if res["failed"] else 0)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: wall {wall:.1f} s steal {steal:.3f} "
              f"attempted {res['attempted']} failed {res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"\n{args.workload}: {args.runs} runs, failed share {sorted(shares, key=str)}")
    print(f"{'metric':<28}{'q1':>12}{'median':>12}{'q3':>12}{'spread':>9}  bound/3")
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        b = bounds.get(k)
        flag = "" if b is None else f"{b / 3:.3f}" + ("" if k == "setup_s" or spread < b / 3 else "  WIDE")
        print(f"{k:<28}{q1:>12.4g}{med:>12.4g}{q3:>12.4g}{spread:>9.3f}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
