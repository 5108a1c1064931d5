#!/usr/bin/env python3
"""Workload benchmark for graft.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest|lake_query|corpus \
        --seed N --seconds S --trace 0|1

The first run builds graft and the benchmark from the checkout's sources
with sbt (offline) and caches the classpath under perfbench/target; a
later run rebuilds only when a source file changed. The measuring JVM is
started directly, not through sbt. Its last stdout line, one JSON object,
is the result; the exit code is non-zero when the build or an output
check fails. A traced run also writes its raw spans and Spark jobs to
perfbench/target/spans-<workload>-<seed>.jsonl.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CP_FILE = os.path.join(TARGET, "perfbench.classpath")

# Spark on JDK 17 needs these outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_hash():
    # the cached classpath names this checkout's class directories, so a
    # copy of the checkout (with its target dirs) must not reuse it
    h = hashlib.sha256(ROOT.encode())
    for top in (os.path.join(BENCH, "src"), os.path.join(BENCH, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".properties", ".sbt")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for f in (os.path.join(BENCH, "build.sbt"), os.path.join(ROOT, "build.sbt")):
        if os.path.exists(f):
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds when the sources changed; returns the runtime classpath."""
    digest = source_hash()
    if os.path.exists(CP_FILE):
        with open(CP_FILE) as fh:
            stamp, cp = fh.read().split("\n", 1)
        cp = cp.strip()
        if stamp == digest and all(os.path.exists(x) for x in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as fh:
        fh.write(digest + "\n" + cp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "lake_query", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = classpath()
    work = os.path.join(TARGET, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + tmp,
              "-Dspark.local.dir=" + tmp,
              "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
              "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", os.path.join(work, "run")]
           + (["--spans", os.path.join(TARGET, "spans-%s-%d.jsonl" % (a.workload, a.seed))]
              if a.trace else []))
    try:
        # Spark's scratch space stays inside the checkout too
        p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True, timeout=170,
                           env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(p.stdout)
    sys.stdout.flush()
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
