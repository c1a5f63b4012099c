#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 faustbench/run.py --workload stream_windowed_table \
        --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source when they changed
(see bench_build.py), runs the workload in one JVM sized to the
machine's cores, and prints a REPORT line (every metric under the
workload's own names, with units, percentiles, sample counts and the
environment) followed by the result line. With ``--trace 0`` the
result carries the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics. A run whose output fails its
check exits non-zero without printing a result line.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench_build  # noqa: E402

WORKLOADS = ["stream_windowed_table", "table_serving", "corpus_curation"]
# One run must end within 180 s; the JVM gets what the build leaves.
DEADLINE_S = 170


def git_sha():
    try:
        done = subprocess.run(["git", "rev-parse", "HEAD"], cwd=bench_build.ROOT,
                              capture_output=True, text=True, timeout=10)
        return done.stdout.strip() if done.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def expected_metrics(trace):
    with open(os.path.join(bench_build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def validate(result, trace):
    """Problems with the result line's shape, as a list of strings."""
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
        return problems
    want = expected_metrics(trace)
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        problems.append(f"metrics differ from BENCHMARK.json: missing {missing}, "
                        f"extra {extra}, wrong unit {wrong}")
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        problems.append("attempted must be a whole number >= 1")
    if not result["correct"] or result["failed"] != 0:
        problems.append(f"output check failed: {result['failed']} of "
                        f"{result['attempted']} operations failed")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    try:
        classpath = bench_build.build()
    except bench_build.BuildError as e:
        print(f"faustbench: build failed: {e}", file=sys.stderr)
        return 2

    run_root = os.path.join(bench_build.ROOT, ".bench_run")
    run_dir = os.path.join(run_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(run_root, "tmp"), exist_ok=True)
    os.makedirs(run_dir, exist_ok=True)
    env = dict(os.environ,
               FAUSTBENCH_GIT_SHA=git_sha(),
               FAUSTBENCH_SOURCE_DIGEST=bench_build.source_digest())
    cmd = bench_build.java_command(
        classpath, "faustbench.Main",
        ["--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--run-dir", run_dir],
        bench_build.cores())
    proc = subprocess.Popen(cmd, cwd=bench_build.ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"faustbench: {args.workload} exceeded {DEADLINE_S}s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    report = [ln for ln in lines if ln.startswith("REPORT ")]
    if proc.returncode != 0 or not lines:
        for ln in report:
            print(ln, file=sys.stderr)
        print(f"faustbench: {args.workload} exited {proc.returncode}", file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        print(f"faustbench: unreadable result line: {lines[-1][:200]}", file=sys.stderr)
        return 1
    problems = validate(result, bool(args.trace))
    if problems:
        for ln in report:
            print(ln, file=sys.stderr)
        for p in problems:
            print(f"faustbench: {p}", file=sys.stderr)
        return 1
    for ln in report:
        print(ln)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
