"""Build step of the benchmark: compiles the program's sources together with
the benchmark's own Scala sources into one class directory.

The compiler is the Scala compiler that ships among the Spark jars, run
directly (no sbt), so a build reads only the checkout and the Spark
installation and writes only under the build directory. A build is keyed by
a hash of every compiled source file: an unchanged tree reuses its classes,
a changed one gets a fresh directory.

Usage:  python3 perfbench/build.py        (prints the class directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    program's own sbt build declares as `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars found: set SPARK_HOME")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError("program sources not found under src/main/scala")
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    os.makedirs(build_dir(), exist_ok=True)
    for old in os.listdir(build_dir()):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(build_dir(), old), ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise BuildError("scalac failed with code %d" % r.returncode)
    open(os.path.join(out, ".complete"), "w").close()
    return out


def classpath(classes):
    parts = [classes]
    if os.path.isdir(PROGRAM_RES):
        parts.append(PROGRAM_RES)
    parts.append(os.path.join(spark_jars(), "*"))
    return os.pathsep.join(parts)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write("build: %s\n" % e)
        sys.exit(2)
