"""Metric arithmetic of the benchmark: the tail-percentile rule, call-site
to layer mapping, span self time, and the per-layer aggregation of a
traced section. Pure functions over the harness's result record."""
import re
import statistics

# The engine's modules (src/main/scala/graft/<layer>/). `functions` and
# `plans` are expression builders: they never start a Spark job, their
# cost shows in the task CPU of the layer whose job evaluates them.
LAYERS = ("core", "cursor", "functions", "lineage", "operators", "sinks", "sources",
          "streaming", "llm", "plans", "queries", "pipelines")
JOB_LAYERS = ("core", "cursor", "lineage", "operators", "sinks", "sources",
              "streaming", "llm", "queries", "pipelines")
JOB_FIELDS = (("jobs", "count"), ("job_ms", "ms"), ("task_cpu_ms", "ms"),
              ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
              ("output_bytes", "bytes"))
# span name in the harness -> per-layer metric (self time per op, ms)
SPAN_METRICS = {
    "cursor.latest": "cursor.latest_ms",
    "cursor.advance": "cursor.advance_ms",
    "operators.upsert": "operators.upsert_ms",
    "pipelines.corpus_run": "pipelines.corpus_run_ms",
    "operators.shards_write": "operators.shards_write_ms",
    "queries.build": "queries.build_ms",
    "queries.action": "queries.action_ms",
}

_FRAME = re.compile(r"^graft\.([a-z]+)\.")
# execution helpers that run a job on behalf of their caller: the job is
# charged to the frame that called them
HELPERS = ("graft.core.Staging$", "graft.core.Par$")


def owner_frame(frames):
    """The frame that owns a job: the innermost engine frame of its call
    site whose package is a job-owning layer, passing over `functions`,
    `plans`, `tools`, the top-level entry objects and the staging/parallel
    helpers, so a job started through, say, Staging.stage or
    Retry.withBackoff is charged to the code that asked for it."""
    for f in frames:
        m = _FRAME.match(f)
        if m and m.group(1) in JOB_LAYERS and not f.startswith(HELPERS):
            return f
    return None


def layer_of_frames(frames):
    """The job-owning layer of a call site, None without an engine frame."""
    f = owner_frame(frames)
    return _FRAME.match(f).group(1) if f else None


def cpu_by_file(result, ops):
    """Task CPU per op (ms) by the source file of each job's owner frame
    (by the enclosing span for a job the harness started), largest first:
    finer than the layer, for reading where a layer's time goes."""
    op_ids = {o["op"] for o in ops}
    span_name = {s["id"]: s["name"] for s in result["spans"]}
    out = {}
    for j in result["jobs"]:
        if j["op"] in op_ids:
            f = owner_frame(j["frames"])
            key = (f[f.rfind("(") + 1:f.rfind(":")] if f
                   else f"(span {span_name.get(j['span'], '?')})")
            out[key] = out.get(key, 0.0) + j["cpu_ms"] / max(len(ops), 1)
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def tail(values):
    """Latency at the highest percentile that still has at least ten
    samples above it: with n sorted samples, the value at rank n-10
    (1-based), reported with its percentile and n. None when n <= 10."""
    n = len(values)
    if n <= 10:
        return None
    k = n - 10
    return {"value": sorted(values)[k - 1], "percentile": round(100.0 * k / n, 2), "n": n}


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[1], q[2]


def self_times(spans):
    """Span id -> self time (ms): duration minus the part of its interval
    its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                     for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def per_layer(result, ops, cores):
    """Per-op averages over the traced section's ops."""
    n = max(len(ops), 1)
    op_ids = {o["op"] for o in ops}
    windows = [(o["start_ms"], o["end_ms"]) for o in ops]
    jobs = [j for j in result["jobs"] if j["op"] in op_ids]
    spans = [s for s in result["spans"] if s["op"] in op_ids]
    span_layer = {s["id"]: s["name"].split(".")[0] for s in spans}
    m = {}
    by_layer = {layer: [] for layer in JOB_LAYERS}
    other = []
    for j in jobs:
        # a job with no engine frame was started by the harness's own call
        # (the timed count() of a query's lazy frame): it is charged to the
        # layer of the span it ran in
        layer = layer_of_frames(j["frames"]) or span_layer.get(j["span"])
        (by_layer[layer] if layer in by_layer else other).append(j)
    for layer, js in by_layer.items():
        m[f"{layer}.jobs"] = len(js) / n
        m[f"{layer}.job_ms"] = sum(max(j["end_ms"] - j["start_ms"], 0) for j in js) / n
        m[f"{layer}.task_cpu_ms"] = sum(j["cpu_ms"] for j in js) / n
        m[f"{layer}.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in js) / n
        m[f"{layer}.spill_bytes"] = sum(j["spill_bytes"] for j in js) / n
        m[f"{layer}.output_bytes"] = sum(j["output_bytes"] for j in js) / n
    m["spark.jobs"] = len(jobs) / n
    m["spark.tasks"] = sum(j["tasks"] for j in jobs) / n
    m["spark.task_cpu_ms"] = sum(j["cpu_ms"] for j in jobs) / n
    m["spark.gc_ms"] = sum(j["gc_ms"] for j in jobs) / n
    cpu_by_op = {}
    for j in jobs:
        cpu_by_op[j["op"]] = cpu_by_op.get(j["op"], 0.0) + j["cpu_ms"]
    m["spark.driver_gap_ms"] = sum((o["end_ms"] - o["start_ms"]) - cpu_by_op.get(o["op"], 0.0)
                                   / cores for o in ops) / n

    def in_op(t):
        return any(a <= t <= b for a, b in windows)
    qs = [q for q in result["executions"] if in_op(q["start_ms"])]
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = sum(q[f"{phase}_ms"] for q in qs) / n
    m["sinks.files_written"] = sum(q["files"] for q in qs) / n
    m["sinks.bytes_written"] = sum(q["bytes"] for q in qs) / n

    selft = self_times(spans)
    for name, metric in SPAN_METRICS.items():
        m[metric] = sum(selft[s["id"]] for s in spans if s["name"] == name) / n
    upsert_spans = {s["id"] for s in spans if s["name"] == "operators.upsert"}
    m["operators.upsert_jobs"] = sum(1 for j in jobs if j["span"] in upsert_spans) / n
    touched = [o["extra"].get("partitions_touched") for o in ops]
    m["operators.upsert_partitions_touched"] = (
        sum(touched) / n if all(t is not None for t in touched) else 0.0)
    landed = sum(o["rows"] for o in ops)
    applied = [o["extra"].get("applied_rows") for o in ops]
    m["operators.upsert_applied_ratio"] = (
        sum(applied) / landed if landed and all(a is not None for a in applied) else 0.0)
    unattributed = {"jobs": len(other) / n,
                    "task_cpu_ms": sum(j["cpu_ms"] for j in other) / n}
    return m, unattributed


PER_LAYER_UNITS = dict(
    [(f"{layer}.{f}", u) for layer in JOB_LAYERS for f, u in JOB_FIELDS]
    + [(metric, "ms") for metric in SPAN_METRICS.values()]
    + [("operators.upsert_jobs", "count"), ("spark.jobs", "count"),
       ("spark.tasks", "count"), ("spark.task_cpu_ms", "ms"), ("spark.gc_ms", "ms"),
       ("spark.driver_gap_ms", "ms"), ("catalyst.analysis_ms", "ms"),
       ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
       ("operators.upsert_partitions_touched", "count"),
       ("operators.upsert_applied_ratio", "ratio"),
       ("sinks.files_written", "count"), ("sinks.bytes_written", "bytes")])
