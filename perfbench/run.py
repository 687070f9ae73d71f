#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload mr_wordcount --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (the root build plus `perfbench/build.sbt`)
and caches the resulting classpath under `perfbench/.build/`; later runs
reuse it while no source file has changed. Each run works in its own
directory under `perfbench/.work/`, removed when the run ends, and keeps
its full record (and, when traced, its span file) under
`perfbench/results/`.

The result line holds the metrics named in BENCHMARK.json: the end-to-end
ones with `--trace 0`, the per-layer ones with `--trace 1`. A per-layer
metric reads 0 on a workload that never reaches its layer (see
`perfbench/metrics.json`).
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
WORK_DIR = os.path.join(HERE, ".work")
RESULTS_DIR = os.path.join(HERE, "results")

# One fixed local[k]: Spark's job and stage counts depend on k.
CORES = 4
# A fixed, pre-touched heap keeps peak RSS from following GC timing, and a
# fixed young generation keeps GC work from drifting between passes.
HEAP = "2g"
YOUNG = "768m"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: both build definitions and all sources."""
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [f for f in tops if os.path.isfile(f)]
    for t in trees:
        for d, _, names in os.walk(t):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if any source changed since the cached build; return the classpath."""
    want = stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export perfbench/Runtime/fullClasspath"]
    t0 = time.time()
    out = run_bounded(cmd, HERE, env, BUILD_TIMEOUT_S, "build")
    lines = [l.strip() for l in out.splitlines()]
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        sys.stderr.write(out)
        fail("build did not report a classpath")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(want)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1]


def run_bounded(cmd, cwd, env, timeout, what, stderr=subprocess.STDOUT):
    """Run `cmd`; kill it on timeout, interrupt or SIGTERM and wait for it
    to end. Returns stdout; exits on failure."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        fail(f"{what} did not finish within {timeout} s")
    except BaseException:
        p.kill()
        p.communicate()
        raise
    if p.returncode != 0:
        if stderr == subprocess.STDOUT:
            sys.stderr.write(out)
        fail(f"{what} exited with code {p.returncode}")
    return out


def finite(x):
    return isinstance(x, (int, float)) and not isinstance(x, bool) and math.isfinite(x)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    # turn SIGTERM into an exit, so that a running child is killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources (build.sbt, src/main/scala) are not next to perfbench/")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        with open(os.path.join(HERE, "metrics.json")) as fh:
            applies = {m: v["workloads"] for m, v in json.load(fh)["per_layer"].items()}
    except (OSError, ValueError, KeyError) as e:
        fail(f"cannot read the metric definitions: {e}")
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {a.workload}")

    cp = classpath()
    cores = max(1, min(CORES, os.cpu_count() or 1))
    tag = f"{time.strftime('%Y%m%dT%H%M%S')}-{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(WORK_DIR, tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(RESULTS_DIR, exist_ok=True)
    trace_out = os.path.join(RESULTS_DIR, tag + ".trace.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+AlwaysPreTouch", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cores", str(cores), "--trace-out", trace_out]
    try:
        out = run_bounded(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, "benchmark run", stderr=None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = json.loads(out.strip().splitlines()[-1])
    with open(os.path.join(RESULTS_DIR, tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    if a.trace:
        source, defs = record["layers"], bench["per_layer"]
    else:
        source, defs = record["e2e"], bench["end_to_end"]
    metrics = {}
    for m in defs:
        name = m["name"]
        if a.trace and a.workload not in applies.get(name, []):
            value = 0.0
        else:
            value = source.get(name)
            if not finite(value):
                fail(f"{a.workload} did not measure {name} (got {value})", code=3)
        metrics[name] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": bool(record["correct"]), "attempted": int(record["attempted"]),
                      "failed": int(record["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
