"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the workload runner (perfbench/scala) into one jar, with
the Scala compiler that ships among the Spark jars.

The Spark jar directory is the one the repository's own build uses (the
`unmanagedBase` of build.sbt), unless SPARK_JARS names another. A build is
reused while the sources and the compiler are unchanged (stamp file).

  python3 perfbench/build.py        # build (or reuse) and print the classpath
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the JDK module openings Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def spark_jars():
    env = os.environ.get("SPARK_JARS")
    if env:
        return env
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("cannot find the Spark jar directory: set SPARK_JARS")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                        recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    if not main or not bench:
        raise SystemExit("graft sources not found next to the benchmark")
    return main + bench


def ensure_built(log=sys.stderr):
    """Compile if the sources changed; return the classpath to run with."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        with open(p, "rb") as f:
            h.update(p.encode() + b"\0" + f.read())
    classes = os.path.join(build_dir(), "classes")
    jar = os.path.join(build_dir(), "graft-bench.jar")
    stamp = os.path.join(build_dir(), "classes.stamp")
    cp = f"{jar}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    for old in (classes, jar, stamp):
        subprocess.run(["rm", "-rf", old], check=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
        stdout=log, stderr=log, cwd=build_dir())  # scalac also searches its cwd
    if res.returncode != 0:
        raise SystemExit(f"compilation failed (exit {res.returncode})")
    subprocess.run(["jar", "cf", jar, "-C", classes, "."], check=True, stdout=log, stderr=log)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(ensure_built())
