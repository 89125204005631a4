#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the graft library sources
(src/main/scala) together with the benchmark's own sources (perfbench/src)
into .bench_build/graftbench/classes with the Scala compiler that ships in
Spark's jars directory. Nothing is downloaded and nothing is written outside
.bench_build. A stamp of the sources skips the compile when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Directory holding Spark's jars, the Scala compiler among them:
    $SPARK_HOME/jars, else the jars bundled with pyspark."""
    def candidates():
        if os.environ.get("SPARK_HOME"):
            yield os.path.join(os.environ["SPARK_HOME"], "jars")
        try:
            import pyspark
            yield os.path.join(os.path.dirname(pyspark.__file__), "jars")
        except ImportError:
            pass
    for c in candidates():
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise RuntimeError("no Spark jars directory with scala-compiler found "
                       "(set SPARK_HOME)")


def sources(root):
    lib = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise RuntimeError(f"library sources not found under {lib}")
    files = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"),
                              recursive=True))
    return lib, files


def module_of(lib, path):
    """graft/dedup/Dedup.scala -> dedup; graft/Pipeline.scala -> Pipeline."""
    rel = os.path.relpath(path, lib).split(os.sep)
    if len(rel) >= 3 and rel[0] == "graft":
        return rel[1]
    return os.path.splitext(rel[-1])[0]


def build(root, out_root, quiet=False):
    """Compile if needed; returns (classes dir, modules file, jars dir)."""
    jars = spark_jars()
    lib, files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(jars.encode())
    stamp = h.hexdigest()
    out = os.path.join(out_root, "graftbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    modules = os.path.join(out, "modules.tsv")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classes, modules, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-encoding", "UTF-8", "-nowarn", "-d", tmp, "-classpath", cp,
           "@" + argfile]
    if not quiet:
        print(f"[build] compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(modules, "w") as fh:
        for f in files:
            if f.startswith(lib + os.sep):
                fh.write(f"{os.path.basename(f)}\t{module_of(lib, f)}\n")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, modules, jars


if __name__ == "__main__":
    root = os.getcwd()
    try:
        print(build(root, os.path.join(root, ".bench_build"))[0])
    except RuntimeError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
