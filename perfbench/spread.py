"""Run the benchmark over several seeds and report, per workload and metric,
the median and the quartile spread (Q3 - Q1) / median, plus each run's wall
time. Use it to check that the benchmark is steady before trusting a
comparison:

    python3 perfbench/spread.py --workloads clips_short audio_qa --seeds 1-10
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
REPO = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None, help="append every run's result as a JSON line")
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    status = 0
    for w in args.workloads:
        runs = []
        for seed in _seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
                status = 1
                continue
            res = json.loads(lines[-1])
            host = next((json.loads(x[5:]) for x in lines if x.startswith("host ")), {})
            runs.append(res)
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"{w} seed {seed} wall {wall:.1f}s correct {res['correct']} {vals} "
                  f"sentinel {host.get('sentinel_sin_ms_per_m')}", flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, "wall": wall, "host": host, **res}) + "\n")
        if len(runs) < 4:
            continue
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            b = bounds.get(name)
            flag = "" if b is None else f" bound {b} {'ok' if spread < b / 3 else 'WIDE'}"
            print(f"  {w} {name}: median {med:.4f} spread {spread:.3f}{flag}")
    return status


if __name__ == "__main__":
    sys.exit(main())
