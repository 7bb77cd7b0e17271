#!/usr/bin/env python3
"""Ingest-path benchmark for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program (src/main) and the
benchmark's JVM harness (perfbench/jvm) with the Scala compiler shipped in
the Spark jars directory, into .bench_build/, rebuilding only when a source
changed. Then runs one workload in a fresh JVM and prints, last on stdout,
one JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 1
the metrics are the per-layer ones and the spans are written under
.bench_build/trace/. Workloads and metrics are described in
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest_steady", "ingest_bulk")
HEAP = "3g"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jars_dir():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark jars: set SPARK_HOME to the Spark install")
    return os.path.join(home, "jars")


def sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "jvm")]
    out = []
    for r in roots:
        for dp, _, fs in os.walk(r):
            out += [os.path.join(dp, f) for f in fs]
    return sorted(out)


def build(jars):
    """Compile src/main and perfbench/jvm into one class directory, keyed
    by a hash of every source file."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no src/main/scala here: run from the root of a graft checkout")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    scala = [os.path.join(jars, f"scala-{n}-2.13.17.jar") for n in ("compiler", "library", "reflect")]
    for j in scala:
        if not os.path.exists(j):
            fail(f"missing {j}")
    t = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir()}",
           "-cp", os.pathsep.join(scala), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", classes] + [f for f in files if f.endswith(".scala")]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compile failed")
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(key)
    print(f"perfbench: built in {time.time() - t:.1f} s", file=sys.stderr)
    return classes


def tmpdir():
    d = os.path.join(BUILD, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def stamp(args):
    """Environment of the run: cores, heap, commit, load."""
    sha = None
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=5).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    try:
        load = [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        load = None
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": os.cpu_count(), "xmx": HEAP, "git_sha": sha,
            "loadavg": load}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jars = jars_dir()
    classes = build(jars)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env_stamp = stamp(args)

    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               PYTHONDONTWRITEBYTECODE="1")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir()}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Ingest",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", os.path.join(BUILD, "trace"),
              "--gen", os.path.join(HERE, "gen.py"), "--python", sys.executable or "python3"])
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log_path = os.path.join(BUILD, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"timed out after {RUN_TIMEOUT_S} s (log: {log_path})")
    shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    stamp_line = next((l for l in lines if l.startswith("# stamp ")), None)
    if stamp_line:
        env_stamp.update(json.loads(stamp_line[len("# stamp "):]))
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    if p.returncode != 0 or result is None:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"harness exited {p.returncode} without a result (log: {log_path})")
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    with open(os.path.join(BUILD, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump({"env": env_stamp, "result": json.loads(result)}, fh)
    print("env " + json.dumps(env_stamp))
    print(result)


if __name__ == "__main__":
    main()
