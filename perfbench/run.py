"""Benchmark of the city-directory ETL, with the iterative lane set in a traced run.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_full --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the program from source (perfbench/build.py), then runs one JVM
that generates the inputs from the seed, sets up, measures for the given
seconds and checks every output. The last stdout line is the JSON result;
the line before it records the run's environment and input shape. All
files go under .bench_build/ in the checkout.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("etl_full", "etl_year_slice")
RUN_TIMEOUT_S = 170


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and a.workload is None:
        p.error("--workload is required")

    root = Path.cwd()
    out = build.build(root)
    args = ["--selftest"] if a.selftest else [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace)]
    cmd = build.java_command(root, out, build.jvm_flags(out), args)
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    lines = proc.stdout.splitlines()
    if a.selftest:
        print("\n".join(lines))
        return proc.returncode
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        print(f"perfbench: benchmark JVM exited {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 4
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
