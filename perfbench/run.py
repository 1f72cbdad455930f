#!/usr/bin/env python3
"""Run one perfbench workload and print its result line last.

    python3 perfbench/run.py --workload olap_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine (src/main/scala) and the bench
(perfbench/src) are compiled together with the Scala compiler shipped in
the Spark jars, into .bench_build/perfbench/classes; the build is reused
while no source changes. Each run starts a fresh JVM whose warehouse,
scratch and checkpoint dirs live under .bench_build/perfbench and are
removed when it ends. With --trace 1 the span file of the run is kept in
.bench_build/perfbench/traces.

Workloads: olap_sql, olap_pipeline, serve_wire, ingest_wire (METRICS.md).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the dir build.sbt compiles with."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("Spark jars not found: set SPARK_HOME")
    return m.group(1)


def sources():
    found = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(jars):
    """Compile engine + bench unless the classes match the sources."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main")) for s in srcs):
        fail("no engine sources under src/main/scala; run from a checkout root")
    if not os.path.isdir(jars):
        fail(f"Spark jars not found at {jars} (set SPARK_HOME)")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode() + b"\0")
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.path.join(jars, "*"), "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(digest)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    print(f"perfbench: built in {time.time() - t:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="sf0.1",
                    help="fixture under perfbench/data (and its fingerprints)")
    ap.add_argument("--expected", help="fingerprint file (default: the fixture's)")
    ap.add_argument("--fingerprint-out",
                    help="dump every OLAP entry's result and fingerprint here instead")
    a = ap.parse_args()

    data = os.path.join(BENCH, "data", a.sf)
    expected = a.expected or os.path.join(BENCH, "expected", f"{a.sf}.json")
    if not os.path.isdir(data):
        fail(f"no fixture at {data}")
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    build(jars)

    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_dir = os.path.join(OUT, "logs")
    os.makedirs(log_dir, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Xss8m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--expected", expected, "--work", work,
            "--trace-out", os.path.join(OUT, "traces", tag + ".jsonl")])
    if a.fingerprint_out:
        cmd += ["--mode", "fingerprint", "--out", os.path.abspath(a.fingerprint_out)]
    with open(os.path.join(log_dir, tag + ".log"), "w") as log:
        t0_ms = int(time.time() * 1000)
        p = subprocess.Popen(cmd + ["--t0-ms", str(t0_ms)], cwd=work,
                             stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(
                timeout=None if a.fingerprint_out else JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s (log: {log.name})")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
            shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0:
        fail(f"JVM exited with {p.returncode} (log: {log.name})")
    if a.fingerprint_out:
        sys.stdout.write(out)
        return
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"no result line (log: {log.name})")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
