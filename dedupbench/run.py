#!/usr/bin/env python3
"""Run one workload of the dedup benchmark and print its result.

    python3 dedupbench/run.py --workload dedup_dense --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run compiles the engine's sources
(src/main/scala) together with the harness in dedupbench/src with sbt; later
runs reuse the build while no source file changes. Each run starts one JVM
(Spark local[nproc]) and prints, as its last stdout line, one JSON object
with the keys correct, attempted, failed and metrics. See dedupbench/README.md.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(WORK, "classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# JDK 17 module opens Spark needs outside spark-submit (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"dedupbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return open(CLASSPATH).read().strip()
    os.makedirs(WORK, exist_ok=True)
    sbt = shutil.which("sbt") or fail("sbt is not on PATH")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    # sbt's own state, temp files and JVM perf data stay under WORK
    cmd = [sbt, "-batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
           f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "compile", "export Runtime/fullClasspath"]
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        code, out = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        log.write(out or "")
    cp = [l for l in (out or "").splitlines() if "scala-2.13" + os.sep + "classes" in l]
    if code != 0 or not cp:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("build failed" if code is not None else "build timed out")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size multiplier (the smoke test uses a tiny one)")
    ap.add_argument("--corrupt", choices=["0", "1"], default="0",
                    help="feed the correctness gate a deliberately wrong output")
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
             "run from the root of a full checkout", 2)
    graft_env = sorted(k for k in os.environ if k.startswith("GRAFT_"))
    if graft_env:
        fail(f"unset {', '.join(graft_env)}: engine knobs are read at JVM start", 2)

    # a TERM ends this process through the cleanup paths below, which stop
    # the build or the JVM's whole process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath = build()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else (shutil.which("java") or fail("java not found"))
    cores = len(os.sched_getaffinity(0))
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/tmp",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-Dspark.ui.enabled=false",
            "-cp", classpath, "dedupbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--scale", str(a.scale), "--corrupt", a.corrupt,
            "--work-dir", run_dir, "--cores", str(cores)]
    log_path = os.path.join(WORK, f"last-{a.workload}.log")
    try:
        with open(log_path, "w") as log:
            code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=run_dir, stdout=subprocess.PIPE,
                                    stderr=log, text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {os.path.relpath(log_path)})")
    lines = out.splitlines()
    results = [l for l in lines if l.startswith('{"correct"')]
    if code != 0 or not results:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"run failed with exit code {code}")
    json.loads(results[-1])
    for l in lines:
        if l is not results[-1]:
            print(l)
    print(results[-1])


if __name__ == "__main__":
    main()
