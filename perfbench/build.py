"""Build file of the benchmark package: compiles the program's main sources
(src/main/scala) together with the harness (perfbench/src) using the Scala
compiler that ships with the Spark distribution. Output goes under
.bench_build/ in the checkout and is reused while no source changes.

    python3 perfbench/build.py        # build only; prints the classes dir
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt names
    as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                              open(sbt).read())
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler under {jars}")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not program:
        raise BuildError(f"no program sources under {ROOT}/src/main/scala")
    if not harness:
        raise BuildError(f"no harness sources under {HERE}/src")
    return program + harness


def resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    files = sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                   if os.path.isfile(p))
    return base, files


def build():
    """Compile if needed; returns the classpath for running the harness."""
    srcs = sources()
    jars = spark_jars()
    res_base, res_files = resources()
    h = hashlib.sha256()
    for path in srcs + res_files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    cp = f"{out}:{jars}/*"
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "BUILD_OK")):
            return cp
        os.makedirs(out, exist_ok=True)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
               "-nowarn", "-d", out, "-classpath", f"{jars}/*", "@" + argfile]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            raise BuildError("scalac failed:\n" + res.stdout[-4000:])
        for path in res_files:  # service registrations (the graft-zip source)
            dst = os.path.join(out, os.path.relpath(path, res_base))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(path, dst)
        open(os.path.join(out, "BUILD_OK"), "w").close()
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
