"""Build file of the benchmark: compiles the program's main sources together
with the harness under perfbench/src into one class directory.

The program is a Scala 2.13 / Spark 4 library whose compile classpath is the
Spark distribution's jar directory, the `unmanagedBase` of the repo's
build.sbt (or `$SPARK_HOME/jars`), which also ships the Scala 2.13 compiler.
Compiling with that compiler directly keeps every build output inside the
checkout: `$CARGO_TARGET_DIR` if set, else `.bench_build`. A stamp keyed on
the bytes of every source file skips the build when nothing changed.

Usage (from the repository root):  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
RESOURCE_DIR = "src/main/resources"


def spark_jars():
    """The jar directory build.sbt compiles against."""
    if os.path.isfile("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m:
            return m.group(1)
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def build_root():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    found = []
    for d in SOURCE_DIRS:
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(RESOURCE_DIR, "**"), recursive=True)) + [__file__]:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(classes, jars):
    return os.pathsep.join([classes, os.path.abspath(RESOURCE_DIR), os.path.join(jars, "*")])


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath."""
    if not os.path.isdir("src/main/scala") or not os.path.isdir("perfbench/src"):
        raise SystemExit("perfbench: run from the repository root "
                         "(src/main/scala and perfbench/src must exist)")
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler under '{jars}'")
    files = sources()
    out = os.path.join(build_root(), "classes-" + fingerprint(files))
    stamp = os.path.join(out, ".built")
    if not os.path.exists(stamp):
        os.makedirs(out, exist_ok=True)
        print(f"perfbench: compiling {len(files)} sources into {out}",
              file=log, flush=True)
        cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", out,
               "-classpath", os.path.join(jars, "*")] + files
        r = subprocess.run(cmd, stdout=log, stderr=log)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: compile failed ({r.returncode})")
        open(stamp, "w").close()
    return classpath(out, jars)


if __name__ == "__main__":
    print(build())
