#!/usr/bin/env python3
"""Run one perfbench workload.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source on first use (sbt, offline),
runs the workload in a fresh JVM on local[N] with N = min(4, nproc), prints
each measured metric with its unit, an environment record, and as the last
line the result JSON: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones; the full record (and, traced, the spans) lands in perfbench/out/.

Options beyond those four: --scale (input size factor, default 1) and
--wrong-expected 1 (corrupts one expected result; the self-test uses it).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, "out")
WORKLOADS = ["ingest_compact", "query_mix", "live_read_write", "dedup_pipeline"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: both build definitions and all sources."""
    files = []
    for base in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            p = os.path.join(base, name)
            if os.path.isfile(p):
                files.append(p)
        for d, _, fs in os.walk(os.path.join(base, "src", "main")):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.isfile(repos):
        opts = "-Dsbt.override.build.repos=true -Dsbt.repository.config=%s %s" % (repos, opts)
    env.setdefault("SBT_OPTS", opts)
    return env


def build(fp):
    """Compiles the root library and the benchmark; returns the classpath.
    The classpath is cached under perfbench/.build, keyed by a hash of every
    source and build file, so only the first run in a checkout compiles."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint")
    if os.path.isfile(cp_file) and os.path.isfile(fp_file):
        with open(fp_file) as f:
            cached = f.read().strip()
        with open(cp_file) as f:
            cp = f.read().strip()
        if cached == fp and all(os.path.exists(p) for p in cp.split(os.pathsep) if "classes" in p):
            return cp
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            die("build timed out; see " + log_path)
        log.write(out)
    if proc.returncode != 0:
        die("build failed; see " + log_path)
    lines = [l.strip() for l in out.splitlines() if os.pathsep in l and "classes" in l]
    if not lines:
        die("build printed no classpath; see " + log_path)
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp


def stop(proc):
    """Kills a child's whole process group and waits for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def heap():
    """The tier-1 SPARK_DRIVER_MEM formula: MemTotal/2 in GiB, within [2, 8]."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"], "SPARK_DRIVER_MEM"
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
        return "%dg" % min(8, max(2, g)), "MemTotal/2 formula"
    except (OSError, StopIteration, ValueError):
        return "2g", "default"


def commit(fp):
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0 and sha.stdout.strip():
            return "git:" + sha.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src:" + fp[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--scale", default="1")
    ap.add_argument("--wrong-expected", default="0", choices=["0", "1"])
    a = ap.parse_args()
    if a.seconds <= 0:
        die("--seconds must be positive")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the library sources (build.sbt, src/main/scala) are not beside perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    fp = fingerprint()
    cp = build(fp)
    xmx, xmx_source = heap()
    os.makedirs(OUT, exist_ok=True)
    tag = "%s-seed%d-trace%s" % (a.workload, a.seed, a.trace)
    out = os.path.join(OUT, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    work = os.path.join(HERE, ".work", "%s-%d" % (tag, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, PERFBENCH_XMX_SOURCE=xmx_source, PERFBENCH_COMMIT=commit(fp))
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    cmd = (["java", "-Xmx" + xmx, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--scale", a.scale,
              "--wrong-expected", a.wrong_expected, "--work", work, "--out", out])
    log_path = os.path.join(OUT, tag + ".log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            try:
                report, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stop(proc)
                die("run timed out; see " + log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die("run failed (exit %s); see %s" % (proc.returncode, log_path))
    with open(out) as f:
        record = json.load(f)
    sys.stdout.write(report)
    print(json.dumps({"env": record["env"]}))
    print(json.dumps(record["result"]))


if __name__ == "__main__":
    main()
