"""Build the program and the benchmark harness with the Scala compiler
that ships with Spark, into `.bench_build/` at the checkout root.

    python3 perfbench/build.py

The Spark installation is `$SPARK_HOME`, or else the `unmanagedBase`
that the project's build.sbt names. A build is skipped when no source
file changed since the last one.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt at the checkout root and SPARK_HOME unset")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase")
    return m.group(1)


def sources():
    out = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH_DIR, "src")):
        if not os.path.isdir(top):
            raise BuildError("missing source directory " + os.path.relpath(top, ROOT))
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def resources():
    top = os.path.join(ROOT, "src", "main", "resources")
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files]
    return sorted(out)


def classpath(jars):
    return CLASSES + os.pathsep + os.path.join(jars, "*")


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for p in srcs + resources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD_DIR, "stamp")
    digest = h.hexdigest()
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return classpath(jars)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", CLASSES, "@" + argfile]
    print("building: scalac on %d files" % len(srcs), file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    res = os.path.join(ROOT, "src", "main", "resources")
    for p in resources():
        dst = os.path.join(CLASSES, os.path.relpath(p, res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath(jars)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
