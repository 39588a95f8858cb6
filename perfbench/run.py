#!/usr/bin/env python3
"""The graft benchmark: one run of one workload, from the checkout root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--size full|smoke] [--perturb]

The run builds the engine and the harness from source (only when a
source changed since the last build), generates the workload's inputs
from the seed, runs the harness in a fresh JVM, checks every output
against DuckDB, and prints one JSON line last: the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``), each with the
unit ``BENCHMARK.json`` gives it. ``--perturb`` is the checks' self-test:
it moves one expected value, so the run must report ``correct: false``.
Everything the run writes stays under ``.bench_build/perfbench``.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# Input sizes. "smoke" runs the same operations and checks on small
# inputs, for a quick end-to-end test of the benchmark itself.
SIZES = {
    "full": {
        "stream": dict(backlog_files=3, backlog_per_file=40_000, trickle_files=3,
                       trickle_per_file=100),
        "queries": dict(topic_events=20_000, topic_files=4, n_events=50_000),
        "tables_sf": 0.01,
    },
    "smoke": {
        "stream": dict(backlog_files=2, backlog_per_file=5_000, trickle_files=2,
                       trickle_per_file=100),
        "queries": dict(topic_events=5_000, topic_files=2, n_events=5_000),
        "tables_sf": 0.002,
    },
}
JVM_SECONDS = 170  # the harness JVM's budget, within the 180 s a run may take
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(2)


def _stamp():
    """Digest of every source the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """The engine's main sources and the harness, compiled by the
    harness's own sbt project; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under src/main/scala: run from the root of a graft checkout")
    stamp = _stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                   + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           text=True, timeout=840)
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def inputs(workload, seed, size):
    """Generates (or reuses) the run's inputs; returns their directory."""
    base = os.path.join(WORK, "inputs")
    sz = SIZES[size]
    star = os.path.join(base, f"star-{size}")
    if workload == "query_mix" and not os.path.exists(os.path.join(star, "_DONE")):
        shutil.rmtree(star, ignore_errors=True)
        gen.gen_tables(star, sz["tables_sf"])
    kind = "stream" if workload == "ingest_stream" else "queries"
    d = os.path.join(base, f"{kind}-{size}-s{seed}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        # keep one seed's inputs per kind on disk
        if os.path.isdir(base):
            for old in os.listdir(base):
                if old.startswith(f"{kind}-{size}-"):
                    shutil.rmtree(os.path.join(base, old), ignore_errors=True)
        os.makedirs(d)
        if kind == "stream":
            gen.gen_stream(d, seed, **sz["stream"])
        else:
            gen.gen_queries(d, seed, star=star, **sz["queries"])
    return d


def run_jvm(cp, workload, data, out, seconds, trace):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
            "--workload", workload, "--data", data, "--out", out,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores)]
    log = os.path.join(out, "jvm.log")
    # Spark would put its scratch space under SPARK_LOCAL_DIRS, outside the
    # run directory, instead of the run's spark.local.dir
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=out, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_SECONDS)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload}: harness ran past {JVM_SECONDS} s, see {log}")
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        fail(f"{workload}: harness exited {rc}, see {log}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--perturb", action="store_true")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    cp = build()
    data = inputs(a.workload, a.seed, a.size)
    out = os.path.join(WORK, "runs", f"{a.workload}-{a.size}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = run_jvm(cp, a.workload, data, out, a.seconds, a.trace)
    n_checked, errors = check.check(a.workload, data, out, a.perturb)
    errors += [f"{m}: a timed output differs from the checked warm-up output"
               for m in res["mismatches"]]
    for sub in ("scratch", "local", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(out, sub), ignore_errors=True)

    h = res["host"]
    print(f"[bench] {a.workload} seed {a.seed}: {res['rounds']} timed rounds in "
          f"{res['timed_wall_s']:.1f} s; host busy {h['busy_s']:.1f} s, steal "
          f"{h['steal_s']:.1f} s over the timed window; {n_checked} outputs checked")
    for e in errors:
        print(f"[bench] CHECK FAILED {e}")
    kind, source = ("per_layer", res["per_layer"]) if a.trace else ("end_to_end", res["end_to_end"])
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec[kind]}
    correct = not errors
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": 0,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
