#!/usr/bin/env python3
"""Steadiness of the graft benchmark: runs one workload k times and
prints, for each metric, the median, the quartiles, the interquartile
range and (max - min), both as a share of the median, next to the
metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--first-seed 1]
        [--same-seed] [--trace 0|1] [--size full|smoke]

Each run is ``perfbench/run.py`` with its own seed (``--same-seed``
repeats the first seed, to show which traced counts repeat exactly).
Every run's result file is kept under ``.bench_build/perfbench/steady``.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
KEEP = os.path.join(ROOT, ".bench_build", "perfbench", "steady")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--same-seed", action="store_true")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(KEEP, exist_ok=True)
    values, wall, failed_share, steal = {}, {}, set(), []
    for i in range(a.runs):
        seed = a.first_seed + (0 if a.same_seed else i)
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(a.trace), "--size", a.size],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            print(f"run {i} (seed {seed}) failed, exit {r.returncode}")
            continue
        out = json.loads(last)
        run_dir = os.path.join(ROOT, ".bench_build", "perfbench", "runs",
                               f"{a.workload}-{a.size}-trace{a.trace}")
        shutil.copy(os.path.join(run_dir, "result.json"),
                    os.path.join(KEEP, f"{a.workload}-trace{a.trace}-run{i}-s{seed}.json"))
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        steal.append(res["host"]["steal_s"])
        for k, v in res["wall"].items():
            wall.setdefault(f"{k} (wall, not gated)", []).append(v)
        failed_share.add(out["failed"] / out["attempted"])
        for k, m in out["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"run {i} seed {seed}: " + ", ".join(
            f"{k}={m['value']:.4g}" for k, m in out["metrics"].items()), flush=True)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"\n{a.workload}, trace {a.trace}: {len(steal)} runs, failed share "
          f"{sorted(failed_share)}, host steal per run {[round(s, 1) for s in steal]}")
    print(f"{'metric':30s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} "
          f"{'range/med':>9s} {'bound':>6s}")
    for k, v in list(values.items()) + (list(wall.items()) if not a.trace else []):
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], 0, v[0])
        iqr = (q3 - q1) / med if med else 0.0
        rng = (max(v) - min(v)) / med if med else 0.0
        b = bounds.get(k)
        print(f"{k:30s} {med:12.5g} {q1:12.5g} {q3:12.5g} {iqr:8.3f} {rng:9.3f} "
              f"{'' if b is None else b:>6}")


if __name__ == "__main__":
    main()
