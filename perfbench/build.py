"""Build file of the benchmark package.

Compiles the program (src/main/scala) and the benchmark harness
(perfbench/src) with the Scala compiler that ships in Spark's jar
directory (the one build.sbt compiles against), into
.bench_build/<source hash>/. A finished build is
published by renaming its directory, so an interrupted build is never
used and an unchanged tree is never rebuilt.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars():
    """Spark's jar directory: the unmanagedBase build.sbt compiles against."""
    sbt = (ROOT / "build.sbt").read_text()
    return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt).group(1)


def sources():
    main = sorted(glob.glob(str(ROOT / "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(str(ROOT / "perfbench/src/*.scala")))
    return main, harness


def scalac(out, classpath, files):
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars() + "/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", classpath] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build():
    """Return the classpath of an up-to-date build, compiling if needed."""
    main, harness = sources()
    if not main:
        raise FileNotFoundError(f"no program sources under {ROOT}/src/main/scala")
    h = hashlib.sha256()
    for f in main + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(Path(f).read_bytes())
    base = ROOT / ".bench_build"
    final = base / h.hexdigest()[:16]
    jars = spark_jars() + "/*"
    classpath = f"{final}/harness:{final}/main:{jars}"
    if final.is_dir():
        return classpath
    tmp = base / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        scalac(tmp / "main", jars, main)
        scalac(tmp / "harness", f"{tmp}/main:{jars}", harness)
        try:
            tmp.rename(final)
        except OSError:
            if not final.is_dir():  # a concurrent build may have won
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return classpath


if __name__ == "__main__":
    print(build())
