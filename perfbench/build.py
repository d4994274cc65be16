#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/harness) into .bench_build/classes with the
Scala compiler that ships among the Spark jars build.sbt names.

sbt is not used, so a build writes nothing outside the checkout. The build
is skipped when the sources' content hash matches the last one built.

Usage: python3 perfbench/build.py
"""
import hashlib
import re
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.sha256"


def spark_jars():
    """The jar directory build.sbt declares as `unmanagedBase`."""
    text = (ROOT / "build.sbt").read_text()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    if not m:
        raise SystemExit("build.sbt declares no unmanagedBase jar directory")
    return Path(m.group(1))


def sources():
    files = sorted((ROOT / "src/main/scala").rglob("*.scala"))
    files += sorted((ROOT / "perfbench/harness").glob("*.scala"))
    if not any(f.name == "SparkEntry.scala" for f in files):
        raise SystemExit("engine sources not found under src/main/scala")
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    return f"{CLASSES}:{spark_jars()}/*"


def build():
    """Compile if the sources changed; returns seconds spent (0 if cached)."""
    files = sources()
    sha = digest(files)
    if STAMP.exists() and STAMP.read_text() == sha:
        return 0.0
    t0 = time.monotonic()
    tmp = BUILD / "classes.tmp"
    if tmp.exists():
        subprocess.run(["rm", "-rf", str(tmp)], check=True)
    tmp.mkdir(parents=True)
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", jars] + [str(f) for f in files]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit(f"scalac failed with code {res.returncode}")
    if CLASSES.exists():
        subprocess.run(["rm", "-rf", str(CLASSES)], check=True)
    tmp.rename(CLASSES)
    STAMP.write_text(sha)
    return time.monotonic() - t0


if __name__ == "__main__":
    print(f"built in {build():.1f} s")
