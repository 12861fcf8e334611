#!/usr/bin/env python3
"""Build file of the engine benchmark.

Compiles the engine's sources (src/main/scala) together with the benchmark
harness (enginebench/scala) using the Scala compiler that ships in the
Spark distribution's jars, into .bench_build/enginebench/classes. A stamp of
the source contents skips the compile when nothing changed.

    python3 enginebench/build.py          # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "enginebench"
CLASSES = BUILD / "classes"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory build.sbt names (unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        if not m:
            raise BuildError("set SPARK_HOME: no Spark jar directory in build.sbt")
        jars = Path(m.group(1))
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler at {jars} (set SPARK_HOME)")
    return jars


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    harness = ROOT / "enginebench" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources not found at {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted(harness.rglob("*.scala"))
    if not any(p.name == "DedupPipeline.scala" for p in files):
        raise BuildError("engine sources incomplete: DedupPipeline.scala missing")
    return files


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(quiet: bool = False) -> Path:
    """Returns the classes directory, compiling first if sources changed."""
    jars = spark_jars()
    files = sources()
    want = stamp(files)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == want:
        return CLASSES
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", cp] + [str(p) for p in files]
    if not quiet:
        print(f"[enginebench] compiling {len(files)} sources", flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
