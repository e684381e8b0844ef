#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) using
the Scala compiler that ships in the Spark distribution's jars directory,
so the build needs no network and no sbt.

Usage: python3 perfbench/build.py      (prints the runtime classpath)

Output goes to .bench_build/perfbench/classes under the checkout root. A
hash of every source file is kept beside it; an unchanged tree is not
rebuilt.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("no SPARK_HOME and no spark-submit on PATH")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = sorted(Path(home, "jars").glob("*.jar"))
    if not jars:
        raise BuildError(f"no jars under {home}/jars")
    return jars


def sources():
    prog = ROOT / "src" / "main" / "scala"
    if not (prog / "graft" / "SparkEntry.scala").is_file():
        raise BuildError(f"program sources not found under {prog}")
    files = sorted(prog.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files


def classpath(classes, jars):
    res = ROOT / "src" / "main" / "resources"
    return os.pathsep.join([str(classes), str(res)] + [str(j) for j in jars])


def build():
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.sha256"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classpath(classes, jars)
    compiler = [j for j in jars if j.name.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    if len(compiler) != 3:
        raise BuildError("scala compiler jars not found in the Spark distribution")
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args_file = OUT / "scalac.args"
    args_file.write_text("\n".join(
        ["-nowarn", "-Ybackend-parallelism", "4",
         "-classpath", os.pathsep.join(str(j) for j in jars),
         "-d", str(tmp)] + [str(f) for f in srcs]) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m",
           "-cp", os.pathsep.join(str(j) for j in compiler),
           "scala.tools.nsc.Main", f"@{args_file}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classpath(classes, jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
