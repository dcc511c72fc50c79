"""Build file of the benchmark: compiles the library (src/main/scala) together
with the benchmark driver (xmlbench/src) using the Scala compiler that ships
with the Spark jars. No sbt, no network.

    python3 xmlbench/build.py        # prints the classes directory

Output goes to .bench_build/xmlbench/classes-<fingerprint>/, where the
fingerprint covers every compiled source and resource, so a changed source
rebuilds and an unchanged tree reuses the last build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "xmlbench")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")
BUILD_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def files_under(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out.extend(os.path.join(d, n) for n in names if n.endswith(suffix))
    return sorted(out)


def fingerprint(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def spark_jars():
    """The Spark jars the library compiles against: $SPARK_HOME/jars, else
    the `unmanagedBase` directory build.sbt declares."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jars: set SPARK_HOME")
    return m.group(1)


def java_cp(*entries):
    return os.pathsep.join(list(entries) + [os.path.join(spark_jars(), "*")])


def ensure_built():
    """Returns the classes directory, compiling first when it is missing."""
    if not os.path.isdir(LIB_SRC):
        raise BuildError("no library sources at %s: run from a full checkout" % LIB_SRC)
    if not os.path.isdir(spark_jars()):
        raise BuildError("no Spark jars at %s (set SPARK_HOME)" % spark_jars())
    sources = files_under(LIB_SRC, ".scala") + files_under(BENCH_SRC, ".scala")
    resources = files_under(LIB_RES)
    out = os.path.join(WORK, "classes-" + fingerprint(sources + resources))
    if os.path.exists(os.path.join(out, "_complete")):
        return out
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, ".tmp-classes-%d" % os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(WORK, "sources-%d.txt" % os.getpid())
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", java_cp(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True,
                              timeout=BUILD_TIMEOUT_S)
    finally:
        os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, LIB_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(tmp, "_complete"), "w").close()
    for old in os.listdir(WORK):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
