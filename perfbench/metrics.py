"""Metric arithmetic: percentiles, the tail rule, and the per-layer split of a
traced run (spans, Spark jobs and stages, stream progress)."""
TAIL_MIN_BEYOND = 10


def tail(samples, min_beyond=TAIL_MIN_BEYOND):
    """The highest percentile that still has `min_beyond` samples above it.

    Returns (value, label). With n samples, that is the sample of rank
    n - min_beyond (1-based). When that rank is at or below the median there
    is no tail to speak of, and the maximum is reported instead.
    """
    s = sorted(samples)
    n = len(s)
    k = n - min_beyond
    if k <= (n + 1) // 2:
        return s[-1], f"max of {n}"
    return s[k - 1], f"p{100.0 * k / n:.1f} (rank {k} of {n})"


def layer_of_call_site(call_site):
    """Engine layer of a Spark job, from its `callSite.short`
    ("<method> at <File>.scala:<line>")."""
    f = call_site.rsplit(" at ", 1)[-1].split(":", 1)[0]
    if f == "Tables.scala":
        return "tables"
    if f in ("GraphOps.scala", "DedupClusters.scala", "IterativeCompute.scala") \
            or f.endswith("Incremental.scala"):
        return "iterative"
    if f == "StreamIngest.scala":
        return "stream"
    if f == "CtbIngest.scala":
        return "ingest"
    if f == "Sink.scala":
        return "sink"
    return "other"


def innermost_span(spans, t_ms):
    """The deepest span whose [start, end] (ms) contains t_ms, else None."""
    best = None
    depth = {}
    by_id = {s["id"]: s for s in spans}

    def d(s):
        if s["id"] not in depth:
            p = by_id.get(s["parent"])
            depth[s["id"]] = 0 if p is None else d(p) + 1
        return depth[s["id"]]

    for s in spans:
        if s["start_ms"] <= t_ms <= s["end_ms"] and (best is None or d(s) > d(best)):
            best = s
    return best


PER_LAYER = [
    ("tables.jobs", "count"), ("tables.busy_s", "s"),
    ("build.s", "s"), ("build.jobs", "count"), ("plan.s", "s"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_wait_s", "s"), ("exec.run_s", "s"),
    ("exec.cpu_s", "s"), ("exec.slot_busy", "ratio"),
    ("exchange.count", "count"), ("exchange.bytes", "bytes"), ("exchange.rows", "count"),
    ("memory.spill_bytes", "bytes"), ("memory.peak_exec_bytes", "bytes"), ("memory.gc_s", "s"),
    ("kernels.h60_ns_per_row", "ns"), ("kernels.minhash16_ns_per_row", "ns"),
    ("kernels.simhash32_ns_per_row", "ns"),
    ("iterative.jobs", "count"), ("iterative.busy_s", "s"),
    ("ingest.parse_s", "s"), ("ingest.parse_jobs", "count"),
    ("sink.s", "s"), ("sink.jobs", "count"), ("sink.batches", "count"),
    ("sink.rows_per_job", "count"),
    ("stream.batches", "count"), ("stream.add_batch_s", "s"),
    ("stream.overhead_s", "s"), ("stream.start_s", "s"),
    ("stream.runonce_s", "s"), ("ingest.decomposed_s", "s"),
    ("trace.wall_s", "s"), ("trace.untraced_wall_s", "s"), ("trace.spans", "count"),
]
UNITS = dict(PER_LAYER)

PASS_SPANS = ("op", "build", "plan", "exec")


def per_layer(traced, cpus, wall_s, untraced_wall_s):
    """Per-layer metrics of a run's traced passes (see README.md for each);
    `wall_s` is the traced passes' median wall time, `untraced_wall_s` that of
    their untraced partners."""
    spans = traced["spans"]

    def span_sum(name):
        return sum(s["s"] for s in spans if s["name"] == name)

    # place every job in the span that launched it; stages go to the first
    # job that lists them (a later job skips a stage it reuses)
    jobs = []
    for j in traced["jobs"]:
        sp = innermost_span(spans, j["start_ms"])
        j = dict(j, phase=sp["name"] if sp else None,
                 layer=layer_of_call_site(j["call_site"]),
                 busy_s=max(0, j["end_ms"] - j["start_ms"]) / 1e3)
        jobs.append(j)
    jobs.sort(key=lambda j: j["id"])
    stage_owner = {}
    for j in jobs:
        for sid in j["stages"]:
            stage_owner.setdefault(sid, j)
    stages = [dict(s, phase=stage_owner[s["id"]]["phase"]) for s in traced["stages"]
              if s["id"] in stage_owner]

    pass_jobs = [j for j in jobs if j["phase"] in PASS_SPANS]
    pass_stages = [s for s in stages if s["phase"] in PASS_SPANS]
    exec_jobs = [j for j in jobs if j["phase"] == "exec"]
    exec_stages = [s for s in stages if s["phase"] == "exec"]

    def by_layer(layer):
        js = [j for j in pass_jobs if j["layer"] == layer]
        return len(js), sum(j["busy_s"] for j in js)

    exec_s = span_sum("exec")
    run_s = sum(s["run_ms"] for s in exec_stages) / 1e3
    tables_jobs, tables_busy = by_layer("tables")
    iter_jobs, iter_busy = by_layer("iterative")
    sink_jobs = sum(1 for j in jobs if j["phase"] == "sink")
    dec = traced.get("decomposed") or {}
    progress = traced.get("stream", [])
    trigger_s = sum(p["trigger_ms"] for p in progress) / 1e3
    add_batch_s = sum(p["add_batch_ms"] for p in progress) / 1e3
    is_stream = bool(progress)
    kernels = traced.get("kernels", {})
    m = {
        "tables.jobs": tables_jobs, "tables.busy_s": tables_busy,
        "build.s": span_sum("build"),
        "build.jobs": sum(1 for j in jobs if j["phase"] == "build"),
        "plan.s": span_sum("plan"),
        "exec.s": exec_s, "exec.jobs": len(exec_jobs), "exec.stages": len(exec_stages),
        "exec.tasks": sum(s["tasks"] for s in exec_stages),
        "exec.task_wait_s": sum(s["duration_ms"] - s["run_ms"] for s in exec_stages) / 1e3,
        "exec.run_s": run_s,
        "exec.cpu_s": sum(s["cpu_ns"] for s in exec_stages) / 1e9,
        "exec.slot_busy": run_s / (exec_s * cpus) if exec_s > 0 else 0.0,
        "exchange.count": traced.get("exchanges", 0),
        "exchange.bytes": sum(s["shuffle_bytes"] for s in pass_stages),
        "exchange.rows": sum(s["shuffle_records"] for s in pass_stages),
        "memory.spill_bytes": sum(s["disk_spill"] for s in pass_stages),
        "memory.peak_exec_bytes": max([s["peak_exec"] for s in pass_stages] or [0]),
        "memory.gc_s": traced.get("gc_s", 0.0),
        "kernels.h60_ns_per_row": kernels.get("h60", 0.0),
        "kernels.minhash16_ns_per_row": kernels.get("minhash16", 0.0),
        "kernels.simhash32_ns_per_row": kernels.get("simhash32", 0.0),
        "iterative.jobs": iter_jobs, "iterative.busy_s": iter_busy,
        "ingest.parse_s": span_sum("parse"),
        "ingest.parse_jobs": sum(1 for j in jobs if j["phase"] == "parse"),
        "sink.s": span_sum("sink"), "sink.jobs": sink_jobs,
        "sink.batches": dec.get("batches", 0),
        "sink.rows_per_job": dec.get("rows", 0) / sink_jobs if sink_jobs else 0.0,
        "stream.batches": sum(1 for p in progress if p["rows"] > 0),
        "stream.add_batch_s": add_batch_s,
        "stream.overhead_s": trigger_s - add_batch_s,
        "stream.start_s": exec_s - trigger_s if is_stream else 0.0,
        "stream.runonce_s": exec_s if is_stream else 0.0,
        "ingest.decomposed_s": span_sum("parse") + span_sum("sink"),
        "trace.wall_s": wall_s,
        "trace.untraced_wall_s": untraced_wall_s,
        "trace.spans": len(spans),
    }
    assert set(m) == set(UNITS), set(m) ^ set(UNITS)
    return m
