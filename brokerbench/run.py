#!/usr/bin/env python3
"""Broker benchmark runner.

Builds the engine together with the benchmark (its own sbt build in this
directory, compiling ../src/main/scala), runs one workload in a JVM, and
prints the run's result as the last line of standard output: one JSON object
with the keys correct, attempted, failed and metrics.

    python3 brokerbench/run.py --workload live|resend --seed N \
        --seconds S --trace 0|1 [--store-state dirty|clean|mixed]
    python3 brokerbench/run.py --selfcheck

Everything the build and the runs write stays inside the checkout: sbt's
target directories under brokerbench/, the build stamp and the per-run
scratch directory under .bench_build/. Build and JVM output go to standard
error.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[run.py] " + msg, file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every source the benchmark build compiles."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def build():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not jars:
        raise RuntimeError("the engine's build.sbt names no unmanagedBase directory")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS_DIR=jars.group(1))
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile) ...")
    t0 = time.time()
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL)
    text = out.decode("utf-8", "replace")
    sys.stderr.write(text[-4000:])
    if rc != 0:
        raise RuntimeError("sbt build failed with exit code %d" % rc)
    cps = [l.strip() for l in text.splitlines()
           if not l.startswith("[") and os.pathsep in l and "classes" in l]
    if not cps:
        raise RuntimeError("sbt printed no runtime classpath")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(fp)
    log("built in %.0f s" % (time.time() - t0))
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["live", "resend"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--store-state", choices=["dirty", "clean", "mixed"], default="mixed")
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if not a.selfcheck and not a.workload:
        ap.error("--workload is required")
    if not (os.path.isdir(ENGINE_SRC) and os.path.exists(os.path.join(ENGINE_SRC, "graft", "Engine.scala"))):
        log("engine sources not found under %s: nothing to benchmark" % ENGINE_SRC)
        return 2
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java are required")
        return 2

    try:
        cp = build()
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log("build failed: %s" % e)
        return 1
    run_dir = os.path.join(BUILD, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    log4j = os.path.join(run_dir, "log4j2.properties")
    with open(log4j, "w") as fh:
        fh.write("rootLogger.level = warn\nrootLogger.appenderRef.stderr.ref = console\n"
                 "appender.console.type = Console\nappender.console.name = console\n"
                 "appender.console.target = SYSTEM_ERR\nappender.console.layout.type = PatternLayout\n"
                 "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss4m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
              "-Dlog4j2.configurationFile=" + log4j, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "brokerbench.Main",
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--store-state", a.store_state, "--dir", run_dir, "--out", out]
           + (["--selfcheck"] if a.selfcheck else ["--workload", a.workload]))
    t0 = time.time()
    try:
        rc, _ = run_bounded(cmd, RUN_TIMEOUT_S if not a.selfcheck else 600,
                            cwd=run_dir, stdout=sys.stderr, stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(out):
            log("benchmark JVM failed with exit code %d" % rc)
            return 1
        log("run took %.1f s" % (time.time() - t0))
        with open(out) as fh:
            line = fh.read().strip()
        result = json.loads(line)
        print(json.dumps(result), flush=True)
        if a.selfcheck:
            return 0 if result.get("selfcheck") else 1
        return 0
    except subprocess.TimeoutExpired:
        log("benchmark JVM exceeded its time limit")
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
