"""The traced half of a ``--trace 1`` run: restart the session with the
event log on, run the workload with a job group per call, then join the
event log to the spans into the per-layer metrics.

Every per-layer value is per warm run (the median over the traced warm
runs); a layer the workload does not touch reads 0.
"""

from __future__ import annotations

import statistics

from spans import Tracer, group_stats, load_event_log

PER_LAYER = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_overhead_s": "s",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.broadcast_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "exec.python_mb": "MB",
    "jsonapi.load_s": "s",
    "jsonapi.scan_tasks": "count",
    "jsonapi.scan_s": "s",
    "jsonapi.reread_ratio": "ratio",
    "pipeline.build_s": "s",
    "pipeline.validate_s": "s",
    "pipeline.render_s": "s",
    "sink.files": "count",
    "sink.bytes": "B",
    "sink.bytes_per_row": "B",
    "stream.batches": "count",
    "stream.add_batch_s": "s",
    "stream.query_planning_s": "s",
    "stream.commit_s": "s",
    "stream.state_commit_s": "s",
    "stream.state_rows_max": "count",
    "stream.state_mem_mb_max": "MB",
    "stream.rows_dropped_by_watermark": "count",
    "proc.jvm_rss_mb": "MB",
    "proc.py_workers_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
    "trace.unexplained_s": "s",
    "trace.unexplained_frac": "ratio",
}

EXEC = ["jobs", "stages", "tasks", "task_overhead_s", "cpu_s", "run_s", "shuffle_read_mb",
        "shuffle_write_mb", "broadcast_mb", "spill_mb", "gc_s", "python_mb"]


def _catalyst_exec(span, stats) -> tuple[float, float]:
    """(save() call -> SQL execution start, execution wall) of a write
    span's own root SQL executions."""
    g = stats.get(span.group)
    if g is None or not g.executions:
        return 0.0, 0.0
    first = min(s for s, _ in g.executions)
    return max(0.0, first - span.start), sum(e - s for s, e in g.executions)


def reconcile(spans, stats) -> list[dict]:
    """Per timed call: wall time against build + Catalyst + execution
    (micro-batches for a streaming drain), and what is left over."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    rows = []
    for op in (s for s in spans if s.op):
        build = catalyst = execution = batches = 0.0
        todo = [op]
        while todo:
            s = todo.pop()
            todo.extend(kids.get(s.id, []))
            if s.kind == "build":
                build += s.dur
            elif s.kind == "write":
                c, e = _catalyst_exec(s, stats)
                catalyst += c
                execution += e
            elif s.kind == "batch":
                batches += s.dur
        explained = build + catalyst + execution + batches
        rows.append({
            "op": op.name, "run": op.run, "wall_s": op.dur, "build_s": build,
            "catalyst_s": catalyst, "exec_s": execution, "batches_s": batches,
            "unexplained_s": op.dur - explained,
        })
    return rows


def run_layers(wl, spans, stats, pages: int) -> dict:
    gs = [stats[s.group] for s in spans if s.group in stats]
    m = {f"exec.{k}": float(sum(getattr(g, k) for g in gs)) for k in EXEC}
    builds = [s for s in spans if s.kind == "build" and s.name.startswith("build:")]
    m["plans.build_s"] = sum(s.dur for s in builds)
    m["plans.build_jobs"] = float(sum(stats[s.group].jobs for s in builds if s.group in stats))
    m["catalyst.plan_s"] = sum(_catalyst_exec(s, stats)[0] for s in spans if s.kind == "write")
    by_name = {s.name: s.dur for s in spans}
    m["jsonapi.load_s"] = by_name.get("jsonapi.load", 0.0)
    m["jsonapi.scan_tasks"] = float(sum(g.jsonapi_scan_tasks for g in gs))
    m["jsonapi.scan_s"] = sum(g.jsonapi_scan_s for g in gs)
    m["jsonapi.reread_ratio"] = m["jsonapi.scan_tasks"] / pages if pages else 0.0
    for step in ("build", "validate", "render"):
        m[f"pipeline.{step}_s"] = by_name.get(f"pipeline.{step}", 0.0)
    progress = [s.attrs["progress"] for s in spans if s.kind == "batch"]

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys) / 1e3

    def ops(p, key):
        return sum(o.get(key, 0) for o in p.get("stateOperators") or [])

    m["stream.batches"] = float(len(progress))
    m["stream.add_batch_s"] = sum(dur(p, "addBatch") for p in progress)
    m["stream.query_planning_s"] = sum(dur(p, "queryPlanning") for p in progress)
    m["stream.commit_s"] = sum(dur(p, "walCommit", "commitOffsets") for p in progress)
    m["stream.state_commit_s"] = sum(ops(p, "commitTimeMs") for p in progress) / 1e3
    m["stream.state_rows_max"] = float(max((ops(p, "numRowsTotal") for p in progress), default=0))
    m["stream.state_mem_mb_max"] = max((ops(p, "memoryUsedBytes") for p in progress), default=0) / 2**20
    m["stream.rows_dropped_by_watermark"] = float(sum(ops(p, "numRowsDroppedByWatermark") for p in progress))
    rec = reconcile(spans, stats)
    wall = sum(r["wall_s"] for r in rec)
    m["trace.unexplained_s"] = sum(r["unexplained_s"] for r in rec)
    m["trace.unexplained_frac"] = m["trace.unexplained_s"] / wall if wall else 0.0
    return m


def traced_phase(b, seconds: float, untraced: dict, session_start: float, out_spans) -> tuple[dict, dict]:
    """Run the traced half and return (per-layer metrics, report extras)."""
    log_dir = b.work / "eventlog"
    b.start(event_log=log_dir)
    b.wl.register(b.spark)
    tracer = Tracer(b.spark.sparkContext)
    b.one_run(tracer, "traced-warmup")  # the new session's first run, not measured
    runs = b.warm_runs(tracer, seconds, "traced")
    sink = b.wl.sink_stats() if hasattr(b.wl, "sink_stats") else {}
    b.spark.stop()  # flushes and closes the event log
    b.spark = None
    stats = group_stats(load_event_log(str(log_dir)))
    tracer.dump(out_spans)
    warm = [rid for rid, _ in runs]
    per_run = [
        run_layers(b.wl, [s for s in tracer.spans if s.run == rid], stats, b.wl.pages())
        for rid in warm
    ]
    layers = {k: 0.0 for k in PER_LAYER}
    for k in per_run[0]:
        layers[k] = statistics.median(pr[k] for pr in per_run)
    traced_run_s = statistics.median(d for _, d in runs)
    layers["session.start_s"] = session_start
    layers["trace.overhead_frac"] = traced_run_s / untraced["run_s"] - 1
    for k, v in sink.items():
        layers[f"sink.{k}"] = float(v)
    extra = {
        "traced_runs_s": runs,
        "reconcile": reconcile([s for s in tracer.spans if s.run in warm], stats),
    }
    return layers, extra
