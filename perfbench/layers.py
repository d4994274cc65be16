"""Turns the traced run's raw listener records into spans and per-layer
metrics.

Every record is attributed to the query whose [start, end] interval holds
its start time. One client issues one query at a time, with a state-isolation
gap between queries, so the attribution is exact. Records that fall outside
every query (set-up, the output dump for the check) are left out. Per-layer
metrics are totals per measured pass, averaged over the run's passes.
"""
import bisect
import statistics

import stats

MODULES = ["dedup", "graph", "similarity", "functions", "multimodal",
           "operators", "streaming"]

# Spark event times are whole milliseconds from the same clock as the
# harness's query times; allow that much slack at the interval edges.
SLACK_MS = 1.0

MIB = 1048576.0


class Owner:
    def __init__(self, queries):
        self.queries = sorted(queries, key=lambda q: q["start_ms"])
        self.starts = [q["start_ms"] - SLACK_MS for q in self.queries]

    def __call__(self, t):
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and t <= self.queries[i]["end_ms"] + SLACK_MS:
            return self.queries[i]
        return None


def per_layer(result, modules):
    """(metrics, spans) of a traced run; `modules` maps query -> module."""
    passes = result["passes"]
    n = len(passes)
    queries = [q for p in passes for q in p["queries"]]
    for i, q in enumerate(queries):
        q["qid"] = i
    owner = Owner(queries)
    tr = result["trace"]
    spans = []

    def span(name, start, end, parent, qid, **attrs):
        spans.append(dict(id=len(spans), name=name, parent=parent, query=qid,
                          start_ms=start, end_ms=end, **attrs))
        return len(spans) - 1

    qspan = {}
    for q in queries:
        s = span(q["query"], q["start_ms"], q["end_ms"], None, q["qid"], pass_=q["pass"])
        qspan[q["qid"]] = (s, span("build", q["start_ms"], q["build_end_ms"], s, q["qid"]),
                           span("action", q["build_end_ms"], q["end_ms"], s, q["qid"]))

    def phase_parent(q, t):
        _, b, a = qspan[q["qid"]]
        return b if t < q["build_end_ms"] else a

    m = {k: 0.0 for k in [
        "build.build_s", "build.eager_jobs", "catalyst.analysis_s",
        "catalyst.optimization_s", "catalyst.planning_s",
        "catalyst.query_executions", "spark.jobs", "spark.stages",
        "spark.tasks", "spark.job_s", "spark.driver_gap_s", "spark.task_s",
        "spark.task_cpu_s", "spark.gc_s", "shuffle.write_mb",
        "shuffle.read_mb", "shuffle.fetch_wait_s", "shuffle.spill_mb",
        "scan.input_mb", "scan.input_rows", "write.output_mb",
        "write.output_rows", "write.files", "streaming.batches",
        "streaming.batch_s", "streaming.input_rows"]}
    for mod in MODULES:
        m[f"{mod}.wall_s"] = 0.0

    job_intervals = {}
    job_span = {}
    for j in tr["jobs"]:
        q = owner(j["start_ms"])
        if q is None:
            continue
        m["spark.jobs"] += 1
        if j["start_ms"] < q["build_end_ms"]:
            m["build.eager_jobs"] += 1
        job_intervals.setdefault(q["qid"], []).append((j["start_ms"], j["end_ms"]))
        s = span(f"job {j['id']}", j["start_ms"], j["end_ms"],
                 phase_parent(q, j["start_ms"]), q["qid"])
        for sid in j["stage_ids"]:
            job_span[sid] = s

    skew = 1.0
    for st in tr["stages"]:
        q = owner(st["start_ms"])
        if q is None:
            continue
        span(f"stage {st['id']}.{st['attempt']}", st["start_ms"], st["end_ms"],
             job_span.get(st["id"], qspan[q["qid"]][0]), q["qid"])
        m["spark.stages"] += 1
        m["spark.tasks"] += st["tasks"]
        m["spark.task_s"] += st["run_ms"] / 1e3
        m["spark.task_cpu_s"] += st["cpu_ns"] / 1e9
        m["spark.gc_s"] += st["gc_ms"] / 1e3
        m["shuffle.write_mb"] += st["shuffle_write_bytes"] / MIB
        m["shuffle.read_mb"] += st["shuffle_read_bytes"] / MIB
        m["shuffle.fetch_wait_s"] += st["fetch_wait_ms"] / 1e3
        m["shuffle.spill_mb"] += st["spill_bytes"] / MIB
        m["scan.input_mb"] += st["input_bytes"] / MIB
        m["scan.input_rows"] += st["input_rows"]
        skew = max(skew, stats.stage_skew(st["task_ms"]))

    for e in tr["executions"]:
        ends = [p[1] for p in e["phases"].values()]
        if not ends:
            continue
        q = owner(max(ends))
        if q is None:
            continue
        m["catalyst.query_executions"] += 1
        for phase in ("analysis", "optimization", "planning"):
            if phase in e["phases"]:
                s, t = e["phases"][phase]
                m[f"catalyst.{phase}_s"] += (t - s) / 1e3
                span(f"catalyst.{phase}", s, t, phase_parent(q, s), q["qid"])
        m["write.output_mb"] += e["write_bytes"] / MIB
        m["write.output_rows"] += e["write_rows"]
        m["write.files"] += e["write_files"]

    for b in tr["batches"]:
        q = owner(b["start_ms"])
        if q is None:
            continue
        m["streaming.batches"] += 1
        m["streaming.batch_s"] += (b["end_ms"] - b["start_ms"]) / 1e3
        m["streaming.input_rows"] += b["input_rows"]
        span(f"batch {b['batch']}", b["start_ms"], b["end_ms"],
             phase_parent(q, b["start_ms"]), q["qid"], run_id=b["run_id"])

    wall = 0.0
    rows_out = 0
    for q in queries:
        w = (q["end_ms"] - q["start_ms"]) / 1e3
        wall += w
        rows_out += q.get("rows", 0)
        m["build.build_s"] += (q["build_end_ms"] - q["start_ms"]) / 1e3
        m[f"{modules[q['query']]}.wall_s"] += w
        window = (q["start_ms"], q["end_ms"])
        clipped = [c for c in (stats.clip(iv, window)
                               for iv in job_intervals.get(q["qid"], [])) if c]
        busy = stats.union_length(clipped) / 1e3
        m["spark.job_s"] += busy
        m["spark.driver_gap_s"] += w - busy

    out = {k: v / n for k, v in m.items()}
    out["spark.core_util"] = m["spark.task_s"] / (wall * result["cores"]) if wall else 0.0
    out["spark.stage_skew_max"] = skew
    out["scan.rows_in_per_row_out"] = m["scan.input_rows"] / rows_out if rows_out else 0.0
    out["trace.pass_wall_s"] = statistics.median(
        sum((q["end_ms"] - q["start_ms"]) / 1e3 for q in p["queries"]) for p in passes)
    return out, spans
