#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine sources
(src/main/scala) together with the harness (perfbench/src) with the Scala
compiler that ships in Spark's jar directory, so no sbt, network or
dependency cache is needed. It then runs chat_pipeline once on tiny inputs
with -XX:ArchiveClassesAtExit, so later runs start from a class-data-sharing
archive of the classes Spark and the engine load (JVM and session start go
from about 7 s to 3 s on a 4-core box).

Usage: python3 perfbench/build.py   (from the repository root)
Prints the build directory on stdout. Output goes under .bench_build/
(or $CARGO_TARGET_DIR when set), keyed by a hash of every source file, so an
unchanged tree is not rebuilt.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
HEAP = "3g"  # driver heap of every run, -Xms = -Xmx

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(
            f"{ENGINE_SRC} not found: run from the repository root")
    out = []
    for root in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def java_cmd(out, archive_flag, work):
    """The JVM command line every run uses, up to the main class."""
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    archive = os.path.join(out, "classes.jsa")
    if archive_flag == "create":
        cmd.append("-XX:ArchiveClassesAtExit=" + archive)
    elif os.path.exists(archive):
        cmd.append("-XX:SharedArchiveFile=" + archive)
    return cmd + ["-cp", os.path.join(out, "perfbench.jar") + os.pathsep + jars,
                  "perfbench.Main"]


def build():
    """Compile and archive if needed; return the build directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    base = os.path.abspath(os.path.join(
        os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench"))
    out = os.path.join(base, "build-" + h.hexdigest()[:16])
    done = os.path.join(out, "done")
    if os.path.exists(done):
        return out
    # drop this tree's unfinished build; keep the finished builds of other
    # trees (a comparison alternates two), pruning all but the newest one
    shutil.rmtree(out, ignore_errors=True)
    if os.path.isdir(base):
        others = sorted((os.path.join(base, d) for d in os.listdir(base)),
                        key=os.path.getmtime, reverse=True)
        for d in others[1:]:
            shutil.rmtree(d, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    print(f"[build] compiling {len(srcs)} files", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", cp] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    # class-data sharing takes jars only, not directories
    with zipfile.ZipFile(os.path.join(out, "perfbench.jar"), "w",
                         zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    # the archive records the jar's path, so it is made in place
    print(f"[build] compiled in {time.time() - t0:.0f} s; archiving classes "
          "over a tiny chat_pipeline run", file=sys.stderr)
    t0 = time.time()
    work = os.path.join(out, "warmup")
    os.makedirs(os.path.join(work, "tmp"))
    r = subprocess.run(java_cmd(out, "create", work) + [
        "--warmup", "1", "--work", work, "--cores", str(cores())],
        stdout=sys.stderr, stderr=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        raise BuildError(f"warm-up run exited with {r.returncode}")
    print(f"[build] archived in {time.time() - t0:.0f} s", file=sys.stderr)
    open(done, "w").close()
    return out


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
