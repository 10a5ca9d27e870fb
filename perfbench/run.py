#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine from the checkout's sources together with the benchmark
driver (perfbench/build.sbt) when the sources changed since the last
build, then runs one workload in a fresh JVM with a fixed heap. The last
line of stdout is the result object; the line before it is the run's host
context. Each run works in its own directory under perfbench/work/, which
is deleted when the run ends. Traced runs write their spans to
perfbench/traces/.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(BENCH, ".build")
WORKLOADS = ("ivf_serve", "ingest_waves", "neardup_cluster")
HEAP = "2g"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
# Spark on JDK 17 needs these module openings outside spark-submit
# (the engine's build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_files():
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the driver; return the runtime classpath."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    env["SBT_OPTS"] += " -XX:-UsePerfData"
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def java_cmd(classpath, work, main_args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return ([java, "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData"] + opens +
            ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
             "-cp", classpath, "perfbench.Main"] + main_args)


def run_jvm(cmd, work):
    """Run the JVM to completion (or kill it at the timeout); return
    (exit code, stdout lines)."""
    err_path = os.path.join(work, "stderr.log")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if proc.returncode != 0:
        with open(err_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
    else:
        with open(err_path) as fh:
            sys.stderr.writelines(l for l in fh if l.startswith(("[perfbench", "CHECK FAILED")))
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("perfbench: engine sources not found under " + ENGINE_SRC)

    classpath = build()
    tag = "selftest" if args.selftest else "%s-%d" % (args.workload, args.seed)
    work = os.path.join(BENCH, "work", "%s-%d" % (tag, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if args.selftest:
            code, out = run_jvm(java_cmd(classpath, work, ["--selftest"]), work)
        else:
            t0_ms = int(time.time() * 1000)  # setup_s counts from the JVM's launch
            code, out = run_jvm(java_cmd(classpath, work, [
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--work", work, "--trace-dir", os.path.join(BENCH, "traces"),
                "--t0-ms", str(t0_ms)]), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in out:
        print(line)
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
