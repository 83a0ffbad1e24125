#!/usr/bin/env python3
"""The benchmark's own test: a wrong result must fail the run.

For each workload, runs the benchmark with --fault, which perturbs one
output of the program (an elevation, or a point-in-polygon pair), and checks
that the run reports `"correct": false` with failed iterations and exits
non-zero, instead of printing a number.

    python3 perfbench/selftest.py [workload ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")
WORKLOADS = ["geojson_job", "elev_probe_bcast", "elev_probe_shuffle_skew", "spatial_join"]


def check(workload):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "1",
                        "--seconds", "1", "--trace", "0", "--fault"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=600)
    lines = [l for l in p.stdout.decode(errors="replace").splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return "no result line"
    if p.returncode == 0:
        return "exit code 0"
    if result.get("correct") is not False or result.get("failed", 0) < 1:
        return "result not marked wrong: %s" % lines[-1]
    return None


def main():
    bad = 0
    for w in sys.argv[1:] or WORKLOADS:
        err = check(w)
        print("%-26s %s" % (w, "ok: fault detected" if err is None else "FAIL: " + err), flush=True)
        bad += err is not None
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
