#!/usr/bin/env python3
"""Self-test of the benchmark at a small scale, a few seconds per workload.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json, plus the ungated query_mix and
live_read_write, it checks that:
  * an untraced run prints every end-to-end metric with its unit, and a
    traced run every per-layer metric, with no failed op;
  * a deliberately wrong expected result makes ops fail (error_rate > 0);
  * another seed changes the generated inputs but not the metric set.
Then it checks that run.py exits non-zero, printing no result, in a
directory holding only BENCHMARK.json and perfbench/. Exits 1 on the first
failure. Takes about fifteen minutes on 4 cores.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.033"  # query_mix at TPC-H sf 0.001; every workload's inputs shrink alike
SECONDS = "3"


def run(workload, seed, trace, wrong="0", cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", SECONDS, "--trace", str(trace),
           "--scale", SCALE, "--wrong-expected", wrong]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def result(p, what):
    if p.returncode != 0:
        fail("%s exited %d:\n%s" % (what, p.returncode, p.stderr[-3000:]))
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        fail("%s: result keys %s" % (what, sorted(res)))
    if not (isinstance(res["attempted"], int) and res["attempted"] >= 1):
        fail("%s: attempted %r" % (what, res["attempted"]))
    return res


def record(workload, seed, trace):
    with open(os.path.join(HERE, "out", "%s-seed%d-trace%d.json" % (workload, seed, trace))) as f:
        return json.load(f)


def fail(msg):
    print("selftest: FAIL: " + msg)
    sys.exit(1)


def expect_metrics(res, specs, what):
    got = {k: m["unit"] for k, m in res["metrics"].items()}
    want = {s["name"]: s["unit"] for s in specs}
    if got != want:
        fail("%s: metrics %s, expected %s" % (what, got, want))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]] + ["query_mix", "live_read_write"]
    for w in workloads:
        plain = result(run(w, 1, 0), w)
        expect_metrics(plain, bench["end_to_end"], w)
        if not plain["correct"] or plain["failed"]:
            fail("%s: %d of %d ops failed" % (w, plain["failed"], plain["attempted"]))
        digest = record(w, 1, 0)["input_digest"]

        traced = result(run(w, 1, 1), w + " traced")
        expect_metrics(traced, bench["per_layer"], w + " traced")
        if traced["failed"]:
            fail("%s traced: %d ops failed" % (w, traced["failed"]))

        wrong = result(run(w, 1, 0, wrong="1"), w + " wrong-expected")
        if wrong["correct"] or wrong["failed"] == 0:
            fail("%s: a wrong expected result did not raise error_rate" % w)

        other = result(run(w, 2, 0), w + " seed 2")
        if sorted(other["metrics"]) != sorted(plain["metrics"]):
            fail("%s: seed 2 changed the metric set" % w)
        if record(w, 2, 0)["input_digest"] == digest:
            fail("%s: seed 2 generated the same inputs as seed 1" % w)
        print("selftest: %s ok (%d ops; wrong expected: %d of %d failed)"
              % (w, plain["attempted"], wrong["failed"], wrong["attempted"]))

    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    ignore = shutil.ignore_patterns(".build", ".work", "out", "target")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=ignore)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = run(bench["workloads"][0]["name"], 1, 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        fail("run.py without the library sources exited %d with output %r" % (p.returncode, p.stdout))
    print("selftest: without the library sources run.py exits %d, printing no result" % p.returncode)
    print("selftest: all passed")


if __name__ == "__main__":
    main()
