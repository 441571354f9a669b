#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload mj_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the harness if needed
(perfbench/build.py), makes a fresh run directory under the build root with
its own java.io.tmpdir, runs perfbench.Main in one JVM at local[4], deletes
the run directory, and prints the result as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics are
the per-layer ones and the span trace is kept under <build root>/traces/.
See perfbench/README.md for workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["mj_daily", "llm_ops"]
HEAP = "3g"
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit (same list as the repo's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite perfbench/expected.tsv from this run's key outputs")
    args = ap.parse_args()

    cp = build.build()
    root = build.build_root()
    run_dir = os.path.join(root, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    expected = os.path.abspath("perfbench/expected.tsv")
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--run-dir", run_dir, "--expected", expected,
              "--launch-us", str(int(time.time() * 1e6))]
           + (["--record", expected] if args.record else []))
    env = dict(os.environ, TMPDIR=tmp)
    env.pop("SPARK_LOCAL_DIRS", None)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    if args.trace:
        traces = os.path.join(root, "traces")
        os.makedirs(traces, exist_ok=True)
        src = os.path.join(run_dir, "trace.json")
        if os.path.exists(src):
            shutil.move(src, os.path.join(traces, f"{args.workload}-{args.seed}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        raise SystemExit(f"perfbench: run failed (exit {proc.returncode})")
    res = json.loads(lines[-1][len("PERFBENCH "):])
    detail = res.pop("detail")
    print("detail " + json.dumps(detail, sort_keys=True))
    for k, m in sorted(res["metrics"].items()):
        print(f"  {k:28s} {m['value']:.6g} {m['unit']}")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
