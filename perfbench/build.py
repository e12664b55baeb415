#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark program (perfbench/src) into one class directory.

Spark's jars (which include the Scala 2.13 compiler) are the only
classpath: they are found through SPARK_HOME, or next to `spark-submit`
on PATH. Outputs go to .bench_build/ at the checkout root. A stamp holding
the digest of every source file skips the compile when nothing changed.

    python3 perfbench/build.py          # build if needed, print the class dir
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "build.stamp"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("perfbench build: no Spark installation with jars/ (set SPARK_HOME)")
    return jars


def classpath(jars: Path) -> str:
    return os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"perfbench build: graft sources not found under {main.relative_to(ROOT)}")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def digest(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure() -> dict:
    """Compile if the sources changed since the last build; returns the
    runtime classpath and the source digest."""
    jars = spark_jars()
    files = sources()
    d = digest(files)
    if not (STAMP.exists() and STAMP.read_text() == d):
        if CLASSES.exists():
            shutil.rmtree(CLASSES)
        CLASSES.mkdir(parents=True)
        cp = classpath(jars)
        argfile = OUT / "scalac.args"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", str(CLASSES), "-classpath", cp, "@" + str(argfile)]
        print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
        res = subprocess.run(cmd, stdout=sys.stderr)
        if res.returncode != 0:
            sys.exit(f"perfbench build: scalac failed ({res.returncode})")
        STAMP.write_text(d)
    runtime = os.pathsep.join([str(CLASSES), str(ROOT / "src" / "main" / "resources"),
                               str(jars / "*")])
    return {"classpath": runtime, "source_sha256": d}


if __name__ == "__main__":
    print(ensure()["classpath"])
