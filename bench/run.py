#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage, from the root of a checkout:

    python3 bench/run.py --workload <iot_write|curate_docs> \
        --seed <n> --seconds <n> --trace <0|1>

The first run in a checkout compiles the library from `src/main` together
with the benchmark's own sources (an sbt build in this directory, working
offline from the local dependency cache) and keeps the classpath in
`.bench_build/`; later runs reuse it until a source file changes. Each run
starts one JVM with `local[<nproc>]`, a driver heap sized from MemTotal, and
its scratch files under `.bench_build/work/`, which is removed afterwards.

The JVM prints one `detail` JSON line per iteration and a `summary` line.
The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Without the library's sources next to this directory the script fails with
exit code 2 and prints no result.
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
MAIN = "graftbench.Main"
WORKLOADS = ("iot_write", "curate_docs")
# The JVM is stopped if it has not ended by then: a run must end within
# 180 s, or 900 s with the first build.
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 needs these when it is not started by spark-submit (the
# library's own build passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build compiles or reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Compile if any source changed since the last build; return the
    runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    fp = fingerprint(source_files())
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    log(f"building (log: {os.path.relpath(log_path, ROOT)})")
    t0 = time.time()
    with open(log_path, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    if code != 0:
        log(f"build failed with exit code {code}; see {log_path}")
        sys.exit(1)
    with open(log_path) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cp = next((l for l in reversed(lines) if os.pathsep in l and ".jar" in l), None)
    if cp is None:
        log(f"no classpath in {log_path}")
        sys.exit(1)
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    return cp


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; stop the whole group if it is
    still running after `timeout` seconds. Returns the exit code."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} still running after {timeout} s; stopping it")
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
        p.wait()


def heap():
    """Half of MemTotal in GiB, between 2 and 8, the way the repository's
    test command sizes SPARK_DRIVER_MEM."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    # Turn SIGTERM into an exception, so that the child's process group is
    # stopped on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "engine", "Generator.scala")):
        log(f"the library's sources are not in {os.path.join(ROOT, 'src', 'main')}")
        sys.exit(2)
    cp = classpath()

    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap()}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-cp", cp, MAIN,
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--cores", str(cores), "--work", work, "--result", result]
    try:
        code = run_child(cmd, timeout=JVM_TIMEOUT_S, cwd=work)
        if code != 0 or not os.path.exists(result):
            log(f"benchmark JVM failed with exit code {code}")
            sys.exit(1)
        with open(result) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
