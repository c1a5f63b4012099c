#!/usr/bin/env python3
"""Run each workload repeatedly and report how steady its metrics are.

    python3 faustbench/steadiness.py                      # 10 seeds, all workloads
    python3 faustbench/steadiness.py --runs 5 --workloads table_serving
    python3 faustbench/steadiness.py --sets 2 --traced    # two sets + tracing overhead

For every end-to-end metric of BENCHMARK.json it prints the median,
the quartiles (``statistics.quantiles(values, n=4)``) and the spread
(q3 - q1) / median next to the metric's bound; a spread above a third
of the bound is marked. With ``--sets 2`` it runs the seeds twice and
compares the second set's median with the first's (worse by more
than the bound fails). With ``--traced`` it makes one traced run per
workload and prints tracing overhead: traced value minus the untraced
median. A summary is written to .bench_run/steadiness.json.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) of a list of numbers."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med


def worse_by(first, second, better):
    """How much worse the second median is than the first, as a share."""
    return (first - second) / first if better == "higher" else (second - first) / first


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    done = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = done.stdout.strip().splitlines()
    if done.returncode != 0 or not lines:
        tail = "\n".join(done.stderr.strip().splitlines()[-5:])
        raise RuntimeError(f"{workload} seed {seed} exited {done.returncode}:\n{tail}")
    result = json.loads(lines[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}, wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=[1, 2])
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["end_to_end"]
    names = [w["name"] for w in spec["workloads"]]
    if args.workloads:
        names = [w for w in names if w in args.workloads.split(",")]
    seconds = spec["run_seconds"]
    summary, ok = {}, True
    for w in names:
        sets, walls = [], []
        for s in range(args.sets):
            values = {m["name"]: [] for m in metrics}
            for i in range(args.runs):
                got, wall = run_once(w, args.seed_base + i, seconds, 0)
                walls.append(wall)
                for m in metrics:
                    values[m["name"]].append(got[m["name"]])
            sets.append(values)
        print(f"\n{w}: {args.runs} runs x {args.sets} set(s), "
              f"run wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        print(f"  {'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
        summary[w] = {"wall_s": walls, "metrics": {}}
        for m in metrics:
            name, bound = m["name"], m["bound"]
            rows = []
            for s, values in enumerate(sets):
                med, q1, q3, sp = spread(values[name])
                flag = "" if name == "setup_s" or sp < bound / 3 else "  <-- above bound/3"
                if name != "setup_s" and sp > bound:
                    ok = False
                print(f"  {name:<18}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{sp:>9.3f}{bound:>7.2f}{flag}")
                rows.append({"median": med, "q1": q1, "q3": q3, "spread": sp,
                             "values": values[name]})
            entry = {"bound": bound, "sets": rows}
            if len(sets) == 2:
                drift = worse_by(rows[0]["median"], rows[1]["median"], m["better"])
                entry["second_worse_by"] = drift
                verdict = "ok" if drift <= bound else "FAIL"
                ok = ok and drift <= bound
                print(f"  {'':<18}second set worse by {drift:+.3f} (bound {bound}) {verdict}")
            summary[w]["metrics"][name] = entry
        if args.traced:
            traced, _ = run_once(w, args.seed_base, seconds, 1)
            overhead = {}
            for key in ("throughput_per_s", "latency_p50_ms"):
                base = statistics.median(sets[0][key])
                overhead[key] = traced[f"traced.{key}"] - base
                print(f"  tracing overhead {key}: {overhead[key]:+.4g} "
                      f"(traced {traced[f'traced.{key}']:.4g} vs untraced median {base:.4g})")
            summary[w]["tracing_overhead"] = overhead
            summary[w]["traced"] = traced
    os.makedirs(os.path.join(ROOT, ".bench_run"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_run", "steadiness.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
