"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala driver into one classes directory, using the
Scala compiler and the Spark jars of the installed Spark distribution.

The output is keyed by a hash of every source file, so a checkout is
compiled once and later runs reuse it. Usage:

    python3 perfbench/build.py            # prints the classes directory

Run from the root of a checkout. The build directory is `$CARGO_TARGET_DIR`
when set, else `.bench_build`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


class BuildError(Exception):
    pass


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return home


def java():
    jh = os.environ.get("JAVA_HOME")
    exe = os.path.join(jh, "bin", "java") if jh else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java on PATH or under JAVA_HOME")
    return exe


def sources():
    lib = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not lib:
        raise BuildError(f"no graft sources under {os.path.relpath(LIB_SRC, ROOT)}")
    if not bench:
        raise BuildError("no benchmark sources")
    return lib + bench


def resources():
    return sorted(f for f in glob.glob(os.path.join(LIB_RESOURCES, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath():
    return os.path.join(spark_home(), "jars", "*")


def build(log=sys.stderr):
    """Compile if needed; return (classes_dir, source_hash)."""
    files = sources()
    key = source_hash(files + resources())
    out = os.path.join(build_dir(), "classes-" + key)
    if os.path.exists(os.path.join(out, "_complete")):
        return out, key
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "_sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath(), "-d", tmp, "@" + argfile]
    print(f"[build] compiling {len(files)} sources into {os.path.relpath(out, ROOT)}", file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    os.remove(argfile)
    # resources (the DataSourceRegister service file) go next to the classes
    for f in resources():
        dst = os.path.join(tmp, os.path.relpath(f, LIB_RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(f, dst)
    open(os.path.join(tmp, "_complete"), "w").close()
    # stale builds of earlier source states only cost disk; drop them
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out, key


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
