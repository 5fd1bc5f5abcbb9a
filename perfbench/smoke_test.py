#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny sizes.

Usage (from the root of a checkout): python3 perfbench/smoke_test.py

For every workload, with tracing off and on, it checks that the result
line names exactly the metrics of BENCHMARK.json, each with its unit, and
that the run is correct. It checks that a planted wrong expected row
count makes the run incorrect, with error_rate above 0. It also checks
that one seed reproduces its generated inputs (the rows of each part
file), and that another seed changes them. Exits non-zero on the first
failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# filter_build runs on demand; BENCHMARK.json lists the other two.
WORKLOADS = ["filter_probe", "filter_build", "gate_suite"]
LISTED = ["filter_probe", "gate_suite"]


def run(workload, seed, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "smoke"]
    out = subprocess.run(cmd + list(extra), cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit("FAIL: %s exited with %d" % (" ".join(cmd[1:]), out.returncode))
    lines = out.stdout.splitlines()
    prefixed = {l.split(" ", 2)[1]: json.loads(l.split(" ", 2)[2])
                for l in lines[:-1] if l.startswith("perfbench ")}
    return json.loads(lines[-1]), prefixed


def check(cond, what):
    if not cond:
        raise SystemExit("FAIL: " + what)
    print("ok   " + what)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check([w["name"] for w in bench["workloads"]] == LISTED, "BENCHMARK.json names its workloads")
    wanted = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench["per_layer"]}}

    inputs = {}
    for w in WORKLOADS:
        for trace in (0, 1):
            result, lines = run(w, 7, trace)
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            check(got == wanted[trace], "%s trace=%d prints every metric with its unit" % (w, trace))
            check(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
                  "%s trace=%d values are numbers" % (w, trace))
            check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                  "%s trace=%d is correct (%d attempted, %d failed)"
                  % (w, trace, result["attempted"], result["failed"]))
            check(lines["summary"]["error_rate"]["value"] == 0, "%s trace=%d error_rate is 0" % (w, trace))
            inputs[(w, trace)] = lines["context"]["inputs"]

    result, lines = run("gate_suite", 7, 0, "--plant-wrong-count")
    check(not result["correct"] and result["failed"] > 0 and lines["summary"]["error_rate"]["value"] > 0,
          "a planted wrong expected count drives error_rate above 0 (%g)"
          % lines["summary"]["error_rate"]["value"])
    result, lines = run("filter_build", 7, 0, "--plant-wrong-count")
    check(not result["correct"] and lines["summary"]["error_rate"]["value"] > 0,
          "a planted wrong catalog row count drives error_rate above 0")

    for w in ("filter_probe", "filter_build"):
        check(inputs[(w, 0)] == inputs[(w, 1)], "%s: one seed gives identical inputs" % w)
        _, other = run(w, 8, 0)
        check(other["context"]["inputs"] != inputs[(w, 0)], "%s: another seed gives other inputs" % w)
    print("smoke test passed")


if __name__ == "__main__":
    main()
