#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads mj_daily,llm_ops --seeds 1-10

Runs perfbench/run.py once per (workload, seed) with tracing off, then prints
for each metric its median and the distance between the first and third
quartile (statistics.quantiles(values, n=4)) as a share of the median, next
to a third of the metric's bound from BENCHMARK.json. Raw results are
appended as JSON lines to --out (default: <build root>/spread.jsonl).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=os.path.join(build.build_root(), "spread.jsonl"))
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    for w in args.workloads.split(","):
        values = {}
        for s in seeds(args.seeds):
            t0 = time.time()
            r = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(s),
                               "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               capture_output=True, text=True)
            if r.returncode != 0:
                print(f"{w} seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s, "wall_s": time.time() - t0,
                                    **res}) + "\n")
            print(f"{w} seed {s}: correct={res['correct']} failed={res['failed']} "
                  f"wall={time.time() - t0:.1f}s " + " ".join(
                      f"{k}={m['value']:.4g}" for k, m in sorted(res["metrics"].items())),
                  flush=True)
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        for k, vs in sorted(values.items()):
            if len(vs) < 2:
                continue
            q = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            print(f"{w:12s} {k:14s} median={med:.4g} spread={(q[2] - q[0]) / med:.3f} "
                  f"third_of_bound={bounds.get(k, float('nan')) / 3:.3f} n={len(vs)}")


if __name__ == "__main__":
    main()
