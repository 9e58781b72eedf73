#!/usr/bin/env python3
"""Benchmark entry point for the graft Spark engine.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload relay_drain --seed 1 --seconds 10 --trace 0

Builds the engine from source with its own sbt build, then builds the
harness in this directory against the engine's classes (both only when a
source file changed since the last build), and runs one workload in a
fresh JVM. The JVM prints one JSON result as the last stdout line; this
script forwards it and exits 0, or exits non-zero without a result when
the build, the run or an output check fails.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("relay_drain", "cdc_mirror")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# JDK 17 module opens Spark needs outside spark-submit (the same list the
# engine's build.sbt passes to forked runs).
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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every input of the two builds: engine and harness sources."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"),
            os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "project"),
            os.path.join(BENCH_DIR, "src")]
    files = []
    for top in tops:
        if os.path.isfile(top):
            files.append(top)
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files.extend(os.path.join(d, n) for n in names
                         if n.endswith((".scala", ".java", ".sbt", ".properties")))
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_classpath(cwd, env):
    """Compile the sbt build in `cwd` and return its runtime classpath."""
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed in {cwd}")
    cps = [ln.strip() for ln in out.stdout.splitlines()
           if os.pathsep in ln and not ln.startswith("[")]
    if not cps:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"no classpath exported in {cwd}")
    return cps[-1]


def build(root, build_dir):
    stamp = source_stamp(root)
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("[perfbench] building engine and harness", file=sys.stderr)
    engine_cp = sbt_classpath(root, env)
    env["GRAFT_CLASSPATH"] = engine_cp
    cp = sbt_classpath(BENCH_DIR, env)
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft source checkout (build.sbt and src/main/scala/graft)")
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    cp = build(root, build_dir)

    # each run starts from an empty work directory (inputs, stores, sinks)
    work = os.path.join(build_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
        f"-Djava.io.tmpdir={os.path.join(build_dir, 'tmp')}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", os.path.join(build_dir, "traces"),
    ]
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    # SPARK_LOCAL_DIRS would override spark.local.dir and move Spark's
    # scratch files out of the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"workload failed (exit {proc.returncode})")
    print(lines[-1])


if __name__ == "__main__":
    main()
