#!/usr/bin/env python3
"""Run one benchmark workload from a seed.

    python3 perfbench/run.py --workload rag --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (offline, against the Spark jars the
library's own build names) and caches the classpath under
perfbench/target; later runs rebuild only when a source file changed.
Each run gets a fresh work directory under .bench_work (temp store,
index directory, Spark scratch space) that is removed when it ends.
The last line of standard output is the result JSON.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("rag", "curation")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    """Every file the build reads, in a stable order."""
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties"),
             os.path.abspath(__file__)]
    for top in (os.path.join(root, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(root):
    """Build if the sources changed since the cached build; return the
    runtime classpath and the source stamp."""
    files = sources(root)
    missing = [f for f in files[:4] if not os.path.isfile(f)]
    if missing or not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("not a checkout of the library: missing "
             + (", ".join(os.path.relpath(f) for f in missing) or "src/main/scala"))
    src = stamp(files)
    target = os.path.join(BENCH, "target")
    cache = os.path.join(target, "perfbench-classpath.txt")
    if os.path.isfile(cache):
        with open(cache) as fh:
            cached_stamp, cp = fh.read().split("\n", 1)
        if cached_stamp == src:
            return cp.strip(), src
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S}s", 3)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {out.returncode})", 3)
    cp = lines[-1].strip()
    with open(cache, "w") as fh:
        fh.write(src + "\n" + cp + "\n")
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp, src


def java_cmd(root, cp, args):
    """The benchmark's JVM command line, with a fresh work directory
    (index root, temp and Spark scratch space) inside the checkout."""
    work = os.path.join(root, ".bench_work", f"run-{os.getpid()}-{time.time_ns()}")
    for sub in ("idx", "tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    # JVM log lines go to stderr: stdout must end with the result line
    return ((["java", HEAP, "-Xlog:disable", "-Xlog:all=warning:stderr"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={work}/tmp",
               f"-Dspark.local.dir={work}/spark-local",
               f"-Dspark.sql.warehouse.dir={work}/warehouse",
               f"-Dderby.system.home={work}/tmp",
               "-Dspark.ui.enabled=false",
               "-cp", cp, "perfbench.Main"]
            + args
            + ["--nproc", str(len(os.sched_getaffinity(0))),
               "--launch-ms", str(int(time.time() * 1000)),
               "--work", work,
               "--fingerprints", os.path.join(BENCH, "curation_fingerprints.txt")]),
            work)


def run_env(work, src):
    """The run's environment: its own index root, and provenance."""
    return dict(os.environ,
                SPARK_GRAFT_IDX_DIR=os.path.join(work, "idx"),
                PERFBENCH_COMMIT=commit() + "+src." + src)


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints",
                    help="curation: write the observed result fingerprints here")
    args = ap.parse_args()

    root = os.getcwd()
    cp, src = classpath(root)
    cmd, work = java_cmd(root, cp,
                   ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace)]
                   + (["--record-fingerprints",
                       os.path.abspath(args.record_fingerprints)]
                      if args.record_fingerprints else []))
    proc = subprocess.Popen(cmd, env=run_env(work, src), stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    # forward the run's output as it comes; the last line is the result
    relay = threading.Thread(target=lambda: shutil.copyfileobj(proc.stdout, sys.stdout))
    relay.start()
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S}s; killed", file=sys.stderr)
        code = 124
    finally:
        relay.join()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
