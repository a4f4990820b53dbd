"""Run one workload with several seeds and print each end-to-end metric's
median and spread (inter-quartile range over median), the figure the
benchmark's bounds are checked against.

    python3 perfbench/spread.py --workload bi_sql --seeds 1-10 --seconds 5 [--out runs.jsonl]
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--out")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            capture_output=True, text=True, cwd=os.path.dirname(HERE))
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        print(f"seed {seed}: {time.time() - t0:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, "report": lines[-2], "result": res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        b = bounds.get(k)
        flag = "" if b is None or spread < b / 3 else "  <-- above bound/3"
        print(f"{k:14s} median {med:12.5g} spread {spread:7.4f} bound {b}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
