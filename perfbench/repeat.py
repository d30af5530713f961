"""Run the benchmark over several seeds and report each metric's
median and spread (interquartile distance over median, from
``statistics.quantiles(values, n=4)``).

    python3 perfbench/repeat.py --workload olap_scan --seeds 1-10 [--trace 0]

Each run is a fresh process, in sequence. Prints one line per metric
and, last, one JSON object with every run's result.
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
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log", help="directory for each run's full output")
    args = ap.parse_args()
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        if args.log:
            os.makedirs(args.log, exist_ok=True)
            with open(os.path.join(args.log, f"{args.workload}-{seed}.log"), "w") as fh:
                fh.write(out.stdout + out.stderr)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        res["seed"], res["process_s"] = seed, time.perf_counter() - t0
        runs.append(res)
        print(f"seed {seed}: {res['process_s']:.1f}s correct={res['correct']}", flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        sp = (q3 - q1) / med if med else 0.0
        b = bounds.get(name)
        flag = "" if b is None else f" bound {b} {'ok' if sp < b / 3 else 'WIDE'}"
        print(f"{name:32s} median {med:.6g} spread {sp:.3f}{flag}")
    print(json.dumps(runs))


if __name__ == "__main__":
    main()
