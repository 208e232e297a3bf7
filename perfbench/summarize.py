#!/usr/bin/env python3
"""Summarize a traced perfbench run, layer by layer.

    python3 perfbench/summarize.py --workload ingest_compact --seed 1 --seconds 10

Runs the workload twice through run.py, untraced and traced, then prints:

  * each layer's self time (span time minus the time its child spans cover),
    in total and as a share of all traced time, with its span count;
  * per op type (root span), how many ran and the mean self time each layer
    spent per op;
  * the traced run's per-layer counts;
  * the tracing overhead: each end-to-end metric traced against untraced.

Each span's layer and self time come from the spans file the traced run
writes (Layers.scala assigns them); "bench" is the benchmark's own time
between library calls.
"""
import argparse
import collections
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "out")


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if subprocess.run(cmd, stdout=subprocess.DEVNULL).returncode != 0:
        sys.exit("summarize: %s failed" % " ".join(cmd))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    base = os.path.join(OUT, "%s-seed%d-trace" % (a.workload, a.seed))
    run(a.workload, a.seed, a.seconds, 0)
    run(a.workload, a.seed, a.seconds, 1)
    with open(base + "0.json") as f:
        plain = json.load(f)
    with open(base + "1.json") as f:
        traced = json.load(f)
    with open(base + "1.spans.jsonl") as f:
        spans = [json.loads(l) for l in f]

    by_layer = collections.defaultdict(float)
    count = collections.Counter()
    for s in spans:
        by_layer[s["layer"]] += s["self_ms"]
        count[s["layer"]] += 1
    total = sum(by_layer.values()) or 1.0
    print("== %s seed %d: self time by layer" % (a.workload, a.seed))
    for layer, ms in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        print("  %-12s %10.1f ms  %5.1f%%  spans %d" % (layer, ms, 100 * ms / total, count[layer]))

    roots = {s["id"]: s["name"] for s in spans if s["parent"] == 0}
    per_op = collections.defaultdict(lambda: collections.defaultdict(float))
    for s in spans:
        per_op[roots[s["op"]]][s["layer"]] += s["self_ms"]
    ops = collections.Counter(roots.values())
    print("== mean self ms per op, by op type and layer")
    layers = sorted(by_layer)
    print("  %-28s %5s " % ("op", "n") + " ".join("%11s" % l for l in layers))
    for name, n in sorted(ops.items()):
        print("  %-28s %5d " % (name, n) + " ".join(
            "%11.1f" % (per_op[name][l] / n) for l in layers))

    print("== per-layer counts (traced run)")
    for k, m in traced["per_layer"].items():
        if not k.startswith("self."):
            print("  %-26s %14.4f %s" % (k, m["value"], m["unit"]))

    print("== tracing overhead: end-to-end metrics, traced vs untraced")
    for k, m in plain["end_to_end"].items():
        t = traced["end_to_end"][k]["value"]
        u = m["value"]
        rel = (t - u) / u * 100 if u else 0.0
        print("  %-22s untraced %12.4f  traced %12.4f %s  %+6.1f%%" % (k, u, t, m["unit"], rel))


if __name__ == "__main__":
    main()
