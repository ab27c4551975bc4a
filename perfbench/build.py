#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main`) together
with the benchmark's own sources (`perfbench/src`) into
`perfbench/.build/classes`, with the Scala compiler that ships in the Spark
distribution's jars. A stamp of every source's bytes skips the compile when
nothing changed.

    python3 perfbench/build.py          # prints the class directory
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
CLASSES = BUILD / "classes"


def spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler under {jars}; set SPARK_HOME")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: program sources not found at {main}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build():
    """Compiles if the sources changed; returns the class directory."""
    jars = spark_jars()
    srcs = sources()
    resources = ROOT / "src" / "main" / "resources"
    digest = hashlib.sha256(str(jars).encode())
    for f in srcs + sorted(p for p in resources.rglob("*") if p.is_file()):
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = BUILD / "stamp"
        if CLASSES.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
            return CLASSES
        shutil.rmtree(CLASSES, ignore_errors=True)
        CLASSES.mkdir()
        argfile = BUILD / "sources.txt"
        argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
        cp = f"{jars}/*"
        rc = subprocess.call(
            ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", str(CLASSES), "-classpath", cp, f"@{argfile}"],
            stdout=sys.stderr)
        if rc != 0:
            raise SystemExit(f"perfbench: compile failed ({rc})")
        if resources.is_dir():
            shutil.copytree(resources, CLASSES, dirs_exist_ok=True)
        stamp_file.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
