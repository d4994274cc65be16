"""Launches the harness JVM with the engine's shipped configuration.

Everything a run writes (scratch stores, Spark local dirs, warehouse,
outputs) stays under .bench_build in the checkout and is removed after the
run, except the result files the caller reads.
"""
import json
import os
import re
import shutil
import subprocess
from pathlib import Path

import build

ROOT = build.ROOT

# Spark on JDK 17 needs these outside spark-submit; the same list as build.sbt.
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def cores():
    return len(os.sched_getaffinity(0))


def driver_heap():
    """The tier-1 formula: half of MemTotal in GB, clamped to [2, 8]."""
    kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


def sf_dir():
    """The sf0.1 test-table directory, from the table in TESTDATA.md."""
    for line in (ROOT / "TESTDATA.md").read_text().splitlines():
        m = re.match(r"\|\s*0\.1\s*\|\s*`([^`]+)`", line)
        if m and Path(m.group(1), "lineitem.parquet").exists():
            return m.group(1).rstrip("/")
    raise SystemExit("sf0.1 test data not found (see TESTDATA.md)")


def java(args, workdir, trace=False, timeout=150):
    """Runs perfbench.Harness with `args`; returns the completed process."""
    tmp = Path(workdir) / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    props = ["-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.hadoop.hadoop.tmp.dir={tmp / 'hadoop'}"]
    if trace:
        props.append("-Dspark.sql.queryExecutionListeners=perfbench.CatalystListener")
    cmd = (["java", f"-Xmx{driver_heap()}"] + ADD_OPENS + props +
           ["-cp", build.classpath(), "perfbench.Harness"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp / "spark-local"))
    return subprocess.run(cmd, cwd=workdir, env=env, timeout=timeout,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def catalog():
    """SparkEntry's query names and twin SQL, cached next to the classes."""
    path = build.BUILD / "queries.json"
    stamp = build.STAMP.read_text()
    if path.exists():
        doc = json.loads(path.read_text())
        if doc.get("build") == stamp:
            return doc
    work = build.BUILD / "work-catalog"
    work.mkdir(parents=True, exist_ok=True)
    res = java(["--dump-queries", str(path)], work)
    shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0:
        raise SystemExit(f"query catalog dump failed:\n{res.stderr[-4000:]}")
    doc = json.loads(path.read_text())
    doc["build"] = stamp
    path.write_text(json.dumps(doc))
    return doc
