#!/usr/bin/env python3
"""Engine benchmark: one workload, one run.

Usage:
  python3 perfbench/run.py --workload relational|pipeline \
      --seed N --seconds S --trace 0|1

Builds the engine if its sources changed (perfbench/build.py), computes any
missing DuckDB twins, then starts one harness JVM that sets the engine up
(session and warm-up pass), issues whole passes of the workload's queries at
sf0.1 for --seconds, and dumps each query's first output. The outputs are
checked against their twins. Human-readable lines go to stderr and the
second-last stdout line (every metric of the run with its unit, the sample
and pass counts); the last stdout line is the JSON result:
  {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 the listeners are on and the metrics are the per-layer ones, and
the spans go to .bench_build/traces/<workload>.json.
"""
import argparse
import json
import shutil
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import engine  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MIB = 1048576.0


def validate(catalog):
    """Fails when a workload names a query the engine does not have, or one
    without a twin: such a query would otherwise be silently skipped."""
    known = set(catalog["queries"])
    twins = catalog["oracle_sql"]
    bad = [f"{w}:{q}" for w, qs in WORKLOADS.items() for q in qs
           if q not in known or q not in twins]
    if bad:
        raise SystemExit(f"queries missing from SparkEntry or its twins: {bad}")


def check_outputs(workload, out, catalog, sf_dir):
    """Returns the list of failed checks (empty when all outputs are right)."""
    import pandas as pd
    problems = []
    for q in WORKLOADS[workload]:
        sql = catalog["oracle_sql"][q]
        ordered = oracle.outer_order_by(sql)
        path = out / "outputs" / q
        if not path.exists():
            continue  # failed in every pass; counted in `failed`
        bad = oracle.compare(pd.read_parquet(path),
                             oracle.load_twin(sf_dir, q, sql), ordered)
        if bad:
            problems.append(f"{q}: {bad}")
    return problems


def end_to_end(result):
    """End-to-end metrics (steal-corrected) plus the report-only extras."""
    passes = result["passes"]

    def wall(q, corrected=True):
        w = (q["end_ms"] - q["start_ms"]) / 1e3
        return stats.steal_corrected(w, q["busy_ticks"], q["steal_ticks"]) if corrected else w

    walls = [sum(wall(q) for q in p["queries"]) for p in passes]
    samples = [wall(q) for p in passes for q in p["queries"] if q["ok"]]
    raw_walls = [sum(wall(q, False) for q in p["queries"]) for p in passes]
    writes = [sum(q["write_bytes"] for q in p["queries"]) / MIB for p in passes]
    busy = sum(q["busy_ticks"] for p in passes for q in p["queries"])
    steal = sum(q["steal_ticks"] for p in passes for q in p["queries"])
    metrics = {
        "setup_s": (stats.steal_corrected(result["setup_s"], result["setup_busy_ticks"],
                                          result["setup_steal_ticks"]), "s"),
        "wall_s": (statistics.median(walls), "s"),
        "heap_peak_mb": (result["heap_peak_mb"], "MiB"),
    }
    extra = {
        "query_p50_s": (statistics.median(samples), "s"),
        "write_mb": (statistics.median(writes), "MiB"),
        "wall_raw_s": (statistics.median(raw_walls), "s"),
        "setup_raw_s": (result["setup_s"], "s"),
        "steal_share": (steal / (busy + steal) if busy + steal else 0.0, "ratio"),
    }
    p = stats.tail_percentile(len(samples))
    if p is not None:
        extra[f"query_p{p:g}_s"] = (stats.quantile(samples, p / 100), "s")
    return metrics, extra, len(samples), len(passes)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    built = build.build()
    if built:
        print(f"[perfbench] built the engine in {built:.1f} s", file=sys.stderr)
    catalog = engine.catalog()
    validate(catalog)
    sf_dir = engine.sf_dir()
    oracle.ensure([q for qs in WORKLOADS.values() for q in qs],
                  catalog["oracle_sql"], sf_dir)

    queries = list(WORKLOADS[a.workload])
    work = build.BUILD / f"work-{a.workload}"
    shutil.rmtree(work, ignore_errors=True)
    out = work / "out"
    args = ["--queries", ",".join(queries), "--sf", sf_dir, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--cores", str(engine.cores()),
            "--trace", str(a.trace), "--out", str(out)]
    res = engine.java(args, work, trace=a.trace == 1)
    sys.stderr.write(res.stderr[-4000:])
    if res.returncode != 0:
        raise SystemExit(f"harness exited with code {res.returncode}")
    result = json.loads((out / "result.json").read_text())

    per_query = {}
    for p in result["passes"]:
        for q in p["queries"]:
            per_query.setdefault(q["query"], []).append((q["end_ms"] - q["start_ms"]) / 1e3)
    print(f"[perfbench] set-up {result['setup_s']:.2f} s "
          f"(session ready after {result['session_s']:.2f} s)", file=sys.stderr)
    for q, ts in sorted(per_query.items()):
        print(f"[perfbench] {q:<28} median {statistics.median(ts):.3f} s over {len(ts)}",
              file=sys.stderr)
    problems = check_outputs(a.workload, out, catalog, sf_dir)
    problems += [f"{f['query']} pass {f['pass']}: {f['error']}"
                 for f in result["failures"] if f["kind"] == "mismatch"]
    for p in problems:
        print(f"[perfbench] CHECK FAILED {p}", file=sys.stderr)
    attempted = sum(len(p["queries"]) for p in result["passes"])
    failed = sum(1 for p in result["passes"] for q in p["queries"] if not q["ok"])

    if a.trace:
        values, spans = layers.per_layer(result, WORKLOADS[a.workload])
        metrics = {k: (v, unit_of(k)) for k, v in values.items()}
        traces = build.BUILD / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        (traces / f"{a.workload}.json").write_text(json.dumps(spans))
        report = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        metrics, extra, n, n_passes = end_to_end(result)
        report = {k: {"value": v, "unit": u}
                  for k, (v, u) in {**metrics, **extra}.items()}
        report["query_samples"] = {"value": n, "unit": "count"}
        report["passes"] = {"value": n_passes, "unit": "count"}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "report": report}))
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name in ("spark.core_util", "spark.stage_skew_max", "scan.rows_in_per_row_out"):
        return "ratio"
    if name.endswith("_rows"):
        return "rows"
    return "count"


if __name__ == "__main__":
    main()
