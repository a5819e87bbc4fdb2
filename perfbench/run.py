#!/usr/bin/env python3
"""Pipeline benchmark: one measurement run in a fresh, warmed JVM.

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the benchmark and the
engine from the checkout's own sources with sbt (offline; several minutes
at most); later runs reuse that build until a source file changes. All
build output goes to .bench_build/ and all data to .bench_work/, both in
the checkout. The last line of stdout is the JSON result; see
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("etl_backfill", "curate")
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its own forked JVMs).
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def source_digest():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for root in roots:
        if os.path.isfile(root):
            files = [root]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                           for f in fs if "target" not in d.split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources.
    Returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "sources.sha256")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as cp:
                    return cp.read().split("\n")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"]
    # the build resolves only from local caches, never from the network
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    if subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as cp:
        return cp.read().split("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        sys.exit("perfbench: engine sources not found at " +
                 os.path.relpath(ENGINE_SRC, os.getcwd()))
    classpath = build()
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + JVM_OPTS + opens + ["-cp", os.pathsep.join(classpath),
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace, "--work", WORK])
    # Spark would put its scratch space where SPARK_LOCAL_DIRS points,
    # outside the checkout; the benchmark sets spark.local.dir itself
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env)
    try:
        code = proc.wait(timeout=args.seconds + 165)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run exceeded its time limit")
    sys.exit(code)


if __name__ == "__main__":
    main()
