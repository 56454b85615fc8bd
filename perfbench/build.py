#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark
from source with the Scala compiler that ships in Spark's jar directory
($SPARK_HOME/jars, else the jar directory the repository's build.sbt
names).

    python3 perfbench/build.py          # from the repository root

Two steps, each skipped when its sources are unchanged since the last
build (a content hash is kept next to the classes):

  1. the program, `src/main/scala` plus `src/main/resources`, into
     `<out>/program`;
  2. the benchmark, `perfbench/src`, into `<out>/bench`, against 1.

`<out>` is `$CARGO_TARGET_DIR` when set, else `.bench_build`, relative
to the repository root. Prints the runtime classpath on its last line.
Exits non-zero when a source tree is missing or a compile fails.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(os.path.join(ROOT, "build.sbt")).read())
    except OSError:
        m = None
    return m.group(1) if m else ""


SPARK_JARS = spark_jars()


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(tree):
    return sorted(glob.glob(os.path.join(ROOT, tree, "**", "*.scala"), recursive=True))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, files, classpath, resources=None):
    dest = os.path.join(out_dir(), name)
    stamp = dest + ".sha256"
    res_files = sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)) \
        if resources else []
    want = digest(files + [f for f in res_files if os.path.isfile(f)])
    if os.path.isdir(dest) and os.path.exists(stamp) and open(stamp).read() == want:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    tmp = os.path.join(out_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    args_file = os.path.join(out_dir(), name + ".args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", classpath, "@" + args_file]
    print(f"build: compiling {len(files)} files of {name}", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(dest, ignore_errors=True)
        sys.exit(f"build: compiling {name} failed")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, dest, dirs_exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(want)
    return dest


def build():
    """Compile what changed; return the runtime classpath."""
    spark_cp = os.path.join(SPARK_JARS, "*")
    program_src, bench_src = sources("src/main/scala"), sources("perfbench/src")
    if not program_src or not bench_src:
        sys.exit("build: src/main/scala or perfbench/src holds no sources")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-sql_*.jar")):
        sys.exit(f"build: no Spark jars under {SPARK_JARS}")
    program = compile_tree("program", program_src, spark_cp,
                           os.path.join(ROOT, "src", "main", "resources"))
    bench = compile_tree("bench", bench_src, os.pathsep.join([program, spark_cp]))
    return os.pathsep.join([bench, program, spark_cp])


if __name__ == "__main__":
    print(build())
