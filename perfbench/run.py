#!/usr/bin/env python3
"""Run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--fault]

Builds the program from source if needed (perfbench/build.py), then runs one
JVM at local[<cpus>] that generates the workload's inputs from the seed,
sets up, and runs a closed loop with one client for --seconds, checking
every output. Prints a `report` line and, last, the result:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). Exits non-zero if any
iteration failed its check. --fault perturbs one output value to show that
the check catches it. Scratch data lives under the build dir and is removed
at exit; the traced run keeps its spans as JSON there.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["geojson_job", "elev_probe_bcast", "elev_probe_shuffle_skew", "spatial_join"]
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def expected_metrics(trace):
    """Metric names BENCHMARK.json promises for this mode, if it is present."""
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    spec = json.load(open(path))
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fault", action="store_true")
    a = ap.parse_args()

    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        sys.stderr.write("perfbench: build failed: %s\n" % e)
        return 2

    out = build.build_dir()
    work = os.path.join(out, "work-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spans = os.path.join(out, "spans-%s-seed%d.json" % (a.workload, a.seed))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss4m", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dspark.driver.host=localhost", "-Dspark.driver.bindAddress=127.0.0.1",
        "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(len(os.sched_getaffinity(0))),
        "--work", os.path.join(work, "data"),
        "--spans", spans] + (["--fault"] if a.fault else [])

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True)
    timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    timer.start()
    last = ""
    try:
        for raw in proc.stdout:
            line = raw.decode(errors="replace").rstrip("\n")
            print(line, flush=True)
            if line.strip():
                last = line
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        sys.stderr.write("perfbench: run exited with code %d\n" % rc)
        return rc if rc > 0 else 1
    try:
        result = json.loads(last)
    except ValueError:
        sys.stderr.write("perfbench: last line is not a result\n")
        return 1
    want = expected_metrics(a.trace)
    if want is not None and set(result["metrics"]) != want:
        sys.stderr.write("perfbench: metrics differ from BENCHMARK.json: %s\n"
                         % sorted(set(result["metrics"]) ^ want))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
