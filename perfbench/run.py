#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}; the line
before it is a report with the run's validity, sample counts and details.
With --trace 1 the metrics are the per-layer ones and the spans are written
to perfbench/out/.

Workloads: ingest_steady, ingest_backlog, curate_batch (see BENCHMARK.json
and perfbench/README.md).
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ("ingest_steady", "ingest_backlog", "curate_batch")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
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


def source_files():
    """Every file the build reads from the checkout."""
    files = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties")]
    files += [os.path.join(BENCH, p) for p in ("build.sbt", "project/build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compile with sbt when the sources changed; return the runtime classpath.

    The compiled classes are copied into perfbench/.build, so a later build
    in the checkout (the root build shares target/) cannot change what a run
    of this stamp loads.
    """
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh2:
                    classpath = fh2.read().strip()
                if all(os.path.exists(e) for e in classpath.split(os.pathsep)):
                    return classpath
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {os.path.relpath(log_path, ROOT)}")
    entries = []
    for i, e in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.realpath(e).startswith(os.path.realpath(ROOT) + os.sep):  # built in the checkout: take a copy
            copy = os.path.join(BUILD, "cp", f"{i}-{os.path.basename(e)}")
            (shutil.copytree if os.path.isdir(e) else shutil.copy2)(e, copy)
            e = copy
        entries.append(e)
    classpath = os.pathsep.join(entries)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", "project/build.properties", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"'{need}' is missing: run from the root of a full checkout")

    classpath = build()

    work = os.path.join(BENCH, ".work", f"{a.workload}-{os.getpid()}")
    out = os.path.join(BENCH, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    start_us = time.time_ns() // 1000
    cmd = [java, *opens, "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--out", out, "--root", ROOT,
           "--classpath", classpath, "--start-us", str(start_us)]
    err_path = os.path.join(out, f"{a.workload}.stderr.log")
    timeout = RUN_TIMEOUT_S
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"{a.workload} did not finish within {timeout:.0f} s; see {os.path.relpath(err_path, ROOT)}")
    # the JVM's own children (the generator) are gone with it; make sure
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        fail(f"{a.workload} exited with {proc.returncode}; see {os.path.relpath(err_path, ROOT)}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
