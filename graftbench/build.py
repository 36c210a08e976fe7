"""Build file of the benchmark package.

Compiles graft's main sources together with the benchmark's own Scala
sources, using the Scala compiler that ships in the Spark distribution
($SPARK_HOME/jars), into graftbench/.build/classes. The compile is skipped
when a content hash of every input matches the last build's stamp.

    python3 graftbench/build.py      # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must point at a Spark 4 distribution with a jars/ directory")
    return os.path.join(home, "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if suffix is None or n.endswith(suffix)]
    return sorted(out)


def _digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Compile unless the stamp matches; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise BuildError("graft sources not found under src/main/scala; "
                         "run from the root of a graft checkout")
    sources = _files(GRAFT_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    resources = _files(GRAFT_RES) if os.path.isdir(GRAFT_RES) else []
    digest = _digest(sources + resources)
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return classpath()
    jars = spark_jars()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    print(f"graftbench: compiling {len(sources)} Scala files", file=log, flush=True)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp, "@" + args_file]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, GRAFT_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return classpath()


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        print(f"graftbench: {e}", file=sys.stderr)
        sys.exit(2)
