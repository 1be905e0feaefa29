#!/usr/bin/env python3
"""Build file of the perfbench package.

Compiles graft's main sources (`src/main/scala`) together with the harness
(`perfbench/src`) with the Scala compiler that ships in the Spark jars
directory, and packs the classes with graft's resources
(`src/main/resources`, which registers the `graft` data source) into
`.bench_build/<hash>/bench.jar` at the repository root. It then runs the
harness self-test (perfbench.SelfTest) once, which must pass, and keeps
the classes that run loaded as a class-data-sharing archive
(`.bench_build/<hash>/app.jsa`): Spark's JVM start-up is mostly class
loading, and every benchmark run maps the archive instead.

The hash covers every input file, so an unchanged tree reuses its build
and any edit rebuilds from scratch.

    python3 perfbench/build.py          # prints the build directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
SELFTEST_TIMEOUT_S = 600

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# root build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the one build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars directory: set SPARK_HOME")


def driver_mem():
    """Half of MemTotal in GiB, clamped to [2, 8] (the tier-1 test sizing)."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def cores():
    """Spark local[k]: k = min(4, cores available)."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def java_cmd(build_dir, work, main, args, archive_at_exit=False):
    """The JVM command line of a harness main, with its scratch dirs under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = driver_mem()
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    jsa = os.path.join(build_dir, "app.jsa")
    if archive_at_exit:
        cmd += [f"-XX:ArchiveClassesAtExit={jsa}"]
    elif os.path.isfile(jsa):
        cmd += [f"-XX:SharedArchiveFile={jsa}"]
    cmd += [
        "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-XX:-UsePerfData",
        "-XX:+UseParallelGC", f"-Xms{mem}", f"-Xmx{mem}",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties"),
        "-cp", os.path.join(build_dir, "bench.jar") + os.pathsep + os.path.join(spark_jars(), "*"),
        main, "--work", work, "--cores", str(cores()),
    ] + list(args)
    return cmd


def walk(d):
    return sorted(os.path.join(base, f) for base, _, files in os.walk(d) for f in files)


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        out += [f for f in walk(d) if f.endswith((".scala", ".java"))]
    if not out:
        raise BuildError("no sources to compile")
    return sorted(out)


def run_selftest(build_dir, archive_at_exit=False, log=sys.stderr):
    work = os.path.join(BUILD, "work", f"selftest-{os.getpid()}")
    try:
        cmd = java_cmd(build_dir, work, "perfbench.SelfTest", [], archive_at_exit)
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        return subprocess.run(cmd, stdout=log, stderr=log, env=env, cwd=ROOT,
                              timeout=SELFTEST_TIMEOUT_S).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build(log=sys.stderr):
    """Return the build directory, building it first if it is stale."""
    srcs = sources()
    jars = spark_jars()
    resources = walk(RESOURCES) if os.path.isdir(RESOURCES) else []
    h = hashlib.sha256(jars.encode())
    for s in srcs + resources:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    if os.path.isdir(BUILD):
        for old in os.listdir(BUILD):
            if old not in ("work", "runs"):
                shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-cp", cp, "-d", classes, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    if subprocess.run(cmd, stdout=log, stderr=log, timeout=800).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed")
    with zipfile.ZipFile(os.path.join(out, "bench.jar"), "w", zipfile.ZIP_STORED) as z:
        for f in walk(classes):
            z.write(f, os.path.relpath(f, classes))
        for r in resources:
            z.write(r, os.path.relpath(r, RESOURCES))
    shutil.rmtree(classes)
    print("perfbench: self-test (records the class-data-sharing archive)", file=log, flush=True)
    if run_selftest(out, archive_at_exit=True, log=log) != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("self-test failed")
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
