#!/usr/bin/env python3
"""Migration-lifecycle benchmark of the graft engine. Run from the root of
a checkout:

    python3 bench_lifecycle/run.py --workload <lifecycle|admit> \
        --seed <n> --seconds <n> --trace <0|1>

Builds the engine and the benchmark from source (bench_lifecycle/build.py),
runs one JVM for the workload (graftbench.Main) and prints, as the last
line of stdout, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The line before it is the run record (session confs,
nproc, heap, Spark version, input hash, seed self-check, per-pass detail),
also kept under bench_lifecycle/bench_out/runs/. See NOTES.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

OUT = os.path.join(HERE, "bench_out")
WORKLOADS = ("lifecycle", "admit")
E2E = ("setup_s", "heap_live_mb", "throughput_per_s", "latency_p50_s")
HEAP = "3g"
# first run of a checkout compiles; every run must end within its limit
FIRST_RUN_LIMIT_S = 880
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(1)


def declared_names():
    """Metric names BENCHMARK.json declares, when it is present."""
    path = os.path.join(os.getcwd(), "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        b = json.load(f)
    return ([m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]])


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    first = not os.path.exists(build.STAMP)
    build.build()
    limit = (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S) - (time.monotonic() - t0)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    runs = os.path.join(OUT, "runs")
    for d in (tmp, runs):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(runs, f"{tag}.json")
    log_path = os.path.join(runs, f"{tag}.log")
    if os.path.exists(result_path):
        os.remove(result_path)

    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    # a fixed-size heap: no resizing phases between runs
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", os.path.join(work, "data"), "--out", result_path])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, limit))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded its time limit; log: {log_path}")
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {rc}; log: {log_path}")

    with open(result_path) as f:
        res = json.load(f)
    metrics = res["layers"] if a.trace else {k: res["e2e"][k] for k in E2E}
    names = declared_names()
    if names is not None:
        want = set(names[1] if a.trace else names[0])
        if set(metrics) != want:
            fail(f"metrics {sorted(set(metrics) ^ want)} disagree with BENCHMARK.json")
    print(json.dumps({"run_record": res["run"]}, sort_keys=True))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}, sort_keys=True))


if __name__ == "__main__":
    main()
