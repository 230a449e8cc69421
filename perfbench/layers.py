"""Per-layer metrics of a traced run: spans joined with the jobs and task
metrics of Spark's event log. Names are ``<layer>.<op>.<metric>``;
per-call figures are means and self times medians over the calls the
timed loop made, or over the set-up calls for an operation that only
set-up makes (the bulk load and the index build). A layer the workload
does not call reads 0.
"""

from __future__ import annotations

import statistics

from tracing import attribute_jobs, clipped, self_time, subtree, union_length

_MUTATION = ("self_s", "jobs", "tasks", "bytes_written", "files_written")
_UNITS = {"self_s": "s", "jobs": "count", "tasks": "count", "task_cpu_s": "s",
          "input_bytes": "B", "bytes_written": "B", "files_written": "count",
          "driver_only_s": "s"}

OPS = {
    "crud.create": ("self_s", "jobs", "tasks", "task_cpu_s", "input_bytes",
                    "bytes_written"),
    # the store insert runs inside the streaming ingest's foreachBatch
    "streaming.ingest": _MUTATION,
    "crud.delete_ids": _MUTATION,
    "crud.update": _MUTATION,
    "crud.read_where_key_in": ("self_s", "jobs", "tasks"),
    "ivf.build": ("self_s", "jobs", "tasks", "task_cpu_s"),
    "ivf.search": ("self_s", "jobs", "tasks", "driver_only_s"),
    "similarity.topk": ("self_s", "jobs", "tasks", "task_cpu_s"),
}

UNITS = {"session.start_s": "s"}
for _op, _fields in OPS.items():
    UNITS.update({f"{_op}.{f}": _UNITS[f] for f in _fields})
UNITS.update({
    "crud.create.kept_ratio": "ratio",
    "crud.create.rows_per_s": "1/s",
    "crud.read.live_files": "count",
    "crud.auto_compactions": "count",
    "crud.auto_compaction_s": "s",
    "crud.compaction_bytes_rewritten": "B",
    "ivf.search.lists_probed": "count",
    "ivf.search.rows_examined_per_hit": "count",
    "ivf.search.recall_at_10": "ratio",
    "similarity.topk.rows_scored": "count",
    "streaming.batch.count": "count",
    "streaming.batch.jobs": "count",
    "streaming.batch.trigger_ms": "ms",
    "streaming.batch.add_batch_ms": "ms",
    "streaming.batch.rows_per_s": "1/s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.failed_tasks": "count",
    "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.gc_s": "s",
    "engine.shuffle_read_bytes": "B",
    "engine.shuffle_write_bytes": "B",
    "engine.spill_bytes": "B",
    "engine.busy_fraction": "ratio",
    "engine.driver_only_s": "s",
    "client.self_s": "s",
    "trace.op_p50_overhead_s": "s",
})


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(ctx, spans, jobs, session_s: float, cpus: int,
              untraced: dict | None) -> dict:
    attribute_jobs(jobs, spans)
    root = next(s for s in spans if s.name == "workload")
    inside = subtree(root.span_id, spans)
    timed = [s for s in spans if s.span_id in inside]
    children: dict[str, list] = {}
    for s in spans:
        if s.parent:
            children.setdefault(s.parent, []).append(s)
    by_span: dict[str, list] = {}
    for j in jobs:
        by_span.setdefault(j.span, []).append(j)

    out = {k: 0.0 for k in UNITS}
    out["session.start_s"] = session_s
    out.update(ctx.setup_facts)
    for op, fields in OPS.items():
        calls = ([s for s in timed if s.name == op]
                 or [s for s in spans if s.name == op])
        if not calls:
            continue
        js = [j for s in calls for j in by_span.get(s.span_id, [])]
        n = len(calls)
        vals = {
            "self_s": _median([self_time(s, children.get(s.span_id, [])) for s in calls]),
            "jobs": len(js) / n,
            "tasks": sum(j.tasks for j in js) / n,
            "task_cpu_s": sum(j.cpu_s for j in js) / n,
            "input_bytes": sum(j.input_bytes for j in js) / n,
            "bytes_written": sum(j.output_bytes for j in js) / n,
            "files_written": ctx.counts.get(f"{op}.files_written", 0) / n,
            "driver_only_s": _median([
                (s.end - s.start) - union_length(clipped(
                    [(j.submit, j.end) for j in by_span.get(s.span_id, [])],
                    s.start, s.end)) for s in calls]),
        }
        out.update({f"{op}.{f}": vals[f] for f in fields})

    for name in ("crud.auto_compactions", "crud.auto_compaction_s",
                 "crud.compaction_bytes_rewritten", "similarity.topk.rows_scored"):
        out[name] = ctx.counts.get(name, 0.0)
    calls = sum(1 for s in timed if s.name == "similarity.topk")
    if calls:
        out["similarity.topk.rows_scored"] /= calls
    for name in ("crud.read.live_files", "ivf.search.lists_probed",
                 "ivf.search.rows_examined_per_hit", "ivf.search.recall_at_10",
                 "streaming.batch.trigger_ms", "streaming.batch.add_batch_ms",
                 "streaming.batch.rows_per_s"):
        out[name] = _median(ctx.samples.get(name, []))
    batches = ctx.counts.get("stream_batches", 0)
    out["streaming.batch.count"] = batches
    if batches:
        drains = {s.span_id for s in timed if s.name == "streaming.ingest"}
        out["streaming.batch.jobs"] = sum(len(by_span.get(d, [])) for d in drains) / batches

    ejobs = [j for j in jobs if j.span in inside]
    wall = root.end - root.start
    run_s = sum(j.run_s for j in ejobs)
    out.update({
        "engine.jobs": len(ejobs),
        "engine.stages": sum(len(j.stages) for j in ejobs),
        "engine.tasks": sum(j.tasks for j in ejobs),
        "engine.failed_tasks": sum(j.failed_tasks for j in ejobs),
        "engine.executor_run_s": run_s,
        "engine.executor_cpu_s": sum(j.cpu_s for j in ejobs),
        "engine.gc_s": sum(j.gc_s for j in ejobs),
        "engine.shuffle_read_bytes": sum(j.shuffle_read_bytes for j in ejobs),
        "engine.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in ejobs),
        "engine.spill_bytes": sum(j.spill_bytes for j in ejobs),
        "engine.busy_fraction": run_s / (wall * cpus),
        "engine.driver_only_s": wall - union_length(
            clipped([(j.submit, j.end) for j in ejobs], root.start, root.end)),
        "client.self_s": self_time(root, children.get(root.span_id, [])),
    })
    if untraced is not None:
        traced_p50 = _median(ctx.samples.get("op", []))
        out["trace.op_p50_overhead_s"] = traced_p50 - untraced["ops"]["op"]["p50"]
    return out
