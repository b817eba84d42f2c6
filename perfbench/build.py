#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala at the
repository root) together with the benchmark sources (perfbench/src) with
the Scala compiler that ships in the Spark distribution's jars, so the
build needs no dependency resolution.

    python3 perfbench/build.py        # prints the runtime classpath

Output goes to perfbench/.build/; a content stamp skips the compile when no
source changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / ".build"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("build: Spark distribution not found (set SPARK_HOME)")
    return Path(home) / "jars"


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"build: program sources not found at {program}")
    files = sorted(program.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return [f for f in files if f.is_file()]


def classpath() -> str:
    """Compile if any source changed; return the runtime classpath."""
    jars = sorted(spark_jars().glob("*.jar"))
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(j.name for j in jars).encode())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    dep_cp = os.pathsep.join(str(j) for j in jars)
    if not (stamp_file.is_file() and stamp_file.read_text() == stamp):
        shutil.rmtree(OUT, ignore_errors=True)
        classes.mkdir(parents=True)
        argfile = OUT / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
        cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
               "-cp", dep_cp,
               "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
               "-classpath", dep_cp, f"@{argfile}"]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"build: scalac failed with code {r.returncode}")
        stamp_file.write_text(stamp)
    return os.pathsep.join([str(classes), dep_cp])


if __name__ == "__main__":
    print(classpath())
