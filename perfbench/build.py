"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/classes, with the Scala
compiler that ships in Spark's jars directory ($SPARK_HOME/jars). The build
is skipped when a stamp of every source file's path and content is
unchanged.

    python3 perfbench/build.py
"""

import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
PROGRAM_SOURCES = ROOT / "src" / "main" / "scala"
BENCH_SOURCES = ROOT / "perfbench" / "src"


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set")
    jars = pathlib.Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def sources():
    if not PROGRAM_SOURCES.is_dir():
        raise BuildError(f"program sources not found: {PROGRAM_SOURCES}")
    files = sorted(p for d in (PROGRAM_SOURCES, BENCH_SOURCES)
                   for p in d.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def build(log=sys.stderr):
    """Returns the classes directory, compiling first when sources changed."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = OUT / "classes.stamp"
    classes = OUT / "classes"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    # compile next to the old classes and swap, so a failed build leaves
    # no half-written classes directory behind
    fresh = OUT / "classes.new"
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir(parents=True)
    argfile = OUT / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT}", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(fresh), f"@{argfile}"]
    print(f"[perfbench] compiling {len(files)} source files", file=log, flush=True)
    done = subprocess.run(cmd, stdout=log, stderr=log)
    if done.returncode != 0:
        raise BuildError(f"scalac exited with {done.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    fresh.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
