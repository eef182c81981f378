"""Run one workload on several seeds and print each end-to-end metric's
median and quartile spread, the figure BENCHMARK.json's bounds apply to.

    python3 perfbench/spread.py --workload tiles_zipf --seeds 1-10

Run from the root of a checkout. The spread is (Q3 - Q1) / median with
the quartiles of `statistics.quantiles(values, n=4)`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    values: dict[str, list[float]] = {}
    steal = []
    for seed in seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        detail, line = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
        steal.append(detail["detail"]["host_steal_frac"])
        if line["failed"] or not line["correct"]:
            print(f"seed {seed}: {line['failed']} of {line['attempted']} failed, correct={line['correct']}",
                  file=sys.stderr)
        for name, m in line["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()), flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, vs in values.items():
        q1, _q2, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        print(f"{name:16s} median={med:.4g} spread={(q3 - q1) / med:.3f} bound={bounds.get(name)}")
    print(f"host_steal_frac  median={statistics.median(steal):.3f} max={max(steal):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
