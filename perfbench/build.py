"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) from source with the Scala compiler that
ships among the Spark jars named by build.sbt's `unmanagedBase`.

The build goes to .bench_build/classes and is reused while no source file
and no build.sbt byte changes.

    python3 perfbench/build.py        # prints the run classpath
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
BUILD_SBT = os.path.join(ROOT, "build.sbt")


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of Spark jars the program compiles against."""
    if not os.path.isfile(BUILD_SBT):
        raise BuildError("build.sbt not found: run from a checkout of the repository")
    with open(BUILD_SBT, encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase directory of Spark jars")
    return m.group(1)


def sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not found:
        raise BuildError(f"no Scala sources under {os.path.relpath(top, ROOT)}")
    return sorted(found)


def scalac(jars, classpath, srcs, dest):
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed on {os.path.relpath(srcs[0], ROOT)} ...:\n{r.stdout[-4000:]}")


def build():
    """Compiles when needed and returns the classpath to run the harness."""
    jars = spark_jars()
    main, bench = sources(MAIN_SRC), sources(BENCH_SRC)
    h = hashlib.sha256()
    for p in [BUILD_SBT] + main + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(CLASSES, "stamp")
    main_out, bench_out = os.path.join(CLASSES, "main"), os.path.join(CLASSES, "bench")
    spark_cp = os.path.join(jars, "*")
    run_cp = os.pathsep.join([bench_out, main_out, spark_cp])
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return run_cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    scalac(jars, spark_cp, main, main_out)
    scalac(jars, os.pathsep.join([main_out, spark_cp]), bench, bench_out)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return run_cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
