"""Build the benchmark: compile the program's sources and the benchmark
harness into one class directory with the Scala compiler that ships with
Spark.

The output lives in `.bench_build/classes-<hash>` at the repository root,
keyed by a hash of every source file, so a run rebuilds only when the
program or the harness changed. Builds of other sources are kept (a few MB
each), so runs of two versions can alternate in one checkout without
recompiling. Run it alone with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory the program builds against: the
    `unmanagedBase` of the root build.sbt, else `$SPARK_HOME/jars`."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jars: build.sbt has no unmanagedBase and SPARK_HOME is unset")


def sources():
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HARNESS_SRC, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError("no program sources under src/main/scala")
    if not harness:
        raise BuildError("no harness sources under perfbench/src")
    return files + harness


def source_hash(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Compile if needed; returns (class dir, Spark jar dir, source hash)."""
    jars = spark_jars()
    files = sources()
    digest = source_hash(files, jars)
    out = os.path.join(BUILD_DIR, "classes-" + digest)
    if os.path.isfile(os.path.join(out, ".complete")):
        return out, jars, digest
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = out + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    argfile = tmp + ".args"
    classpath = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp, "-classpath", classpath] + files) + "\n")
    print("compiling %d sources into %s" % (len(files), os.path.relpath(out, ROOT)), file=log)
    try:
        proc = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=600)
    finally:
        os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout.decode(errors="replace")[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out, jars, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
