"""Build file of the benchmark package.

Compiles the program (`src/main/scala` at the repository root) together
with the benchmark's own Scala sources (`perfbench/src`) using the Scala
compiler shipped in the Spark distribution, into `<build>/classes`, where
<build> is $CARGO_TARGET_DIR or `.bench_build` at the repository root. A
stamp of the sources skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (prints the run classpath)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = sorted((Path(home) / "jars").glob("*.jar")) if home else []
    if not jars:
        raise SystemExit("no Spark distribution found: set SPARK_HOME")
    return jars


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"program sources not found: {program}")
    return sorted(program.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build():
    """Compiles if the sources changed; returns the run classpath."""
    jars = spark_jars()
    out = build_dir() / "classes"
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [HERE / "build.py"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = build_dir() / "classes.stamp"
    classpath = os.pathsep.join([str(out)] + [str(j) for j in jars])
    if stamp.exists() and stamp.read_text() == h.hexdigest() and out.is_dir():
        return classpath
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    compiler = [j for j in jars if j.name.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    argfile = build_dir() / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(str(j) for j in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-cp", os.pathsep.join(str(j) for j in jars), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    stamp.write_text(h.hexdigest())
    return classpath


if __name__ == "__main__":
    print(build())
