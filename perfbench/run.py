#!/usr/bin/env python3
"""Run one benchmark workload against the engine checked out beside this
directory, and print its result as the last line of standard output.

    python3 perfbench/run.py --workload gmall_chain --seed 1 --seconds 5 --trace 0

The first run in a checkout builds the engine and the benchmark from
source with sbt (offline) and caches the runtime classpath under
perfbench/.build; later runs reuse it while no source file has changed.
Each run works under a fresh temporary root inside perfbench/.run that is
removed at exit, and writes its full record (samples, spans, machine
context) to perfbench/out/<workload>-seed<N>-trace<T>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same set to its forked runs).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha1()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
              os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project"), os.path.join(BENCH, "src", "main")]
    for top in inputs:
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = []
            for d, subdirs, files in os.walk(top):
                subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
                paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Build once per source state; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "export Runtime/fullClasspath"]
    try:
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it is there."""
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec):
        return None
    with open(spec) as f:
        b = json.load(f)
    return [m["name"] for m in b["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {BENCH}; run from a full checkout")

    cp = classpath()
    tmp = os.path.join(BENCH, ".run", str(os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "jtmp"))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={tmp}/jtmp", f"-Dspark.local.dir={tmp}/spark-local",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--tmp", os.path.join(tmp, "work"),
            "--out", os.path.join(BENCH, "out")])
    try:
        p = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            fail("run timed out")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"run failed with exit code {p.returncode}")
    result = json.loads(lines[-1])
    want = declared_metrics(a.trace == 1)
    if want is not None and sorted(want) != sorted(result["metrics"]):
        fail(f"metrics {sorted(result['metrics'])} do not match BENCHMARK.json {sorted(want)}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
