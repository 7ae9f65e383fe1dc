#!/usr/bin/env python3
"""Seeded web-corpus benchmark of the graft engine: one measured run.

    python3 perfbench/run.py --workload <bulk_build|serp_read> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine and the
benchmark from the checkout's sources with the Scala compiler among the
engine's Spark jars and caches the classes under .bench_build/perfbench,
keyed by a digest of those sources; every run then measures in a fresh JVM
whose heap this script sets. (perfbench/build.sbt builds the same sources
with sbt, for working on the benchmark.)

The last line of standard output is the result object (`correct`,
`attempted`, `failed`, `metrics`); the line before it carries the full
detail: environment stamp, quartiles and sample counts. Both are also kept in
.bench_build/perfbench/results, with the span file of traced runs.
"""

import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("bulk_build", "serp_read")

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# engine's build.sbt, from org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# the JDK the environment names, else the first `java` on the PATH
JAVA = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
if not os.path.isfile(JAVA):
    JAVA = "java"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def engine_jars():
    """The directory of jars the engine's build.sbt compiles against (its
    `unmanagedBase`, the Spark distribution), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        fail(f"the engine's jar directory {d!r} does not exist")
    return d


def sources():
    """Every Scala source of the engine and of the benchmark."""
    return [os.path.join(d, f) for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"))
            for d, _, fs in sorted(os.walk(r)) for f in sorted(fs) if f.endswith(".scala")]


def source_digest(srcs):
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    for f in [os.path.join(ROOT, "build.sbt"), os.path.abspath(__file__)] + srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(deadline):
    """Compile engine + benchmark unless this checkout's sources were built
    before; return the runtime classpath and whether the compiler ran.

    The compiler is the Scala compiler shipped among the engine's Spark jars,
    the same Scala version as the library the run loads, so a run needs
    neither sbt nor anything outside the checkout besides those jars."""
    jars = engine_jars()
    srcs = sources()
    classes = os.path.join(OUT, f"classes-{source_digest(srcs)}")
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    if os.path.isdir(classes):
        return cp, False
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.*.jar")) for m in ("compiler", "library", "reflect")]
    if not all(len(c) == 1 for c in compiler):
        fail(f"no single scala-compiler, scala-library and scala-reflect jar in {jars}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(f'"{s}"' for s in srcs) + "\n")
    cmd = [JAVA, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", os.path.join(tmp, "classes"),
           f"@{args}"]
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=max(60, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("the build did not finish in time")
    except OSError as e:
        fail(f"cannot start the Scala compiler: {e}")
    if p.returncode != 0:
        fail(f"the build failed (scalac exit {p.returncode})")
    os.rename(os.path.join(tmp, "classes"), classes)
    shutil.rmtree(tmp, ignore_errors=True)
    return cp, True


def commit():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def heap_mb():
    """A third of physical RAM, capped at 4 GiB: the engine's own sbt default
    (16g) exceeds small hosts."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError):
        ram = 6144
    return max(1024, min(4096, ram // 3))


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not in this checkout")
    os.makedirs(OUT, exist_ok=True)
    cp, compiled = build(start + 880)
    # a run that had to build may take up to 900 s, any other up to 180 s
    deadline = start + (880 if compiled else 175)

    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    heap = heap_mb()
    # a fixed-size heap and the throughput collector: no heap resizing, and no
    # concurrent GC threads competing with the four task threads; no
    # hsperfdata file, so nothing is written outside the checkout
    cmd = ([JAVA, f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work, "--commit", commit()])
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                           timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("the measurement did not finish in time", 3)
    except OSError as e:
        fail(f"cannot start the measurement: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if len(lines) < 2:
        fail(f"the measurement printed no result (exit {p.returncode})", 3)

    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        fh.write("\n".join(lines[-2:]) + "\n")
    spans = os.path.join(work, "spans.jsonl")
    if os.path.isfile(spans):
        shutil.copy(spans, os.path.join(results, f"{tag}-spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(lines[-2])
    print(lines[-1])
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
